package graft.operators

import graft.functions.DoubleBits
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact per-group type-7 percentiles with BOUNDED memory (VERDICT r7
  * item 1): two-level bit-sliced narrowing instead of Spark's
  * `percentile`, whose aggregation buffer holds every distinct value of
  * the group and ships it through the shuffle (~21 MB for 6 partial rows
  * at sf0.1; a 100 TB group would OOM the executor — agg buffers cannot
  * spill).
  *
  * The replacement computes the SAME doubles (bit-for-bit — it mirrors
  * `PercentileBase.getPercentile`'s arithmetic, verified against the
  * disassembled Spark 4.1.2 class) from three scans whose shuffled state
  * is O(groups × active buckets), never O(distinct values). The bucket
  * key is [[DoubleBits.orderedBits]] — the total-order-preserving IEEE
  * bit image — so bucketing is a PURE PROJECTION of the value:
  *
  *   1. level-1 histogram: count + min/max key per (group, top
  *      `b1Bits` of the key) — no min/max pre-pass, no stats join; the
  *      per-group row counts (and so the needed ranks h = p·(n−1),
  *      lo=⌊h⌋, hi=⌈h⌉) come from this same aggregate. A bucket whose
  *      min key = max key holds ONE bit pattern and resolves its ranks
  *      immediately (constant-heavy columns never reach a sort).
  *   2. level-2 histogram over the candidate buckets only: the next
  *      `b2Bits` of the key — same shape, ~2^b2Bits× narrower.
  *   3. exact step: rank the survivors inside their level-2 bucket
  *      (rows sharing b1Bits+b2Bits leading key bits) with a spillable
  *      per-bucket sort ordered by the key itself.
  *
  * Every small side (needed ranks, candidate buckets, located ranks)
  * derives from the level-1/2 aggregates — tiny frames — and broadcasts;
  * the three scans are a 2-column projection + codegen'd bit ops each.
  * The ±0.0 subtleties that haunted the equi-width design disappear:
  * the key is injective on bit patterns and its order IS
  * `java.lang.Double.compare` order, so short-circuits are long
  * equality and the exact sort needs no tiebreaker. Only the final
  * interpolation keeps `getPercentile`'s IEEE `==` short-circuit
  * (adjacent −0.0/0.0 keys collapse to the LOWER, −0.0).
  *
  * Trade priced: 3 scans vs 1 scan with an unbounded buffer. At 100 TB
  * the scans are embarrassingly parallel and the buffer is fatal, so
  * the scans win. The one-pass sketch twin for when exactness is
  * negotiable stays `q_quantile_hist`.
  *
  * r18: the level-2 scan is SKIPPED adaptively when the level-1
  * histogram shows every candidate bucket under
  * [[ExactDirectMaxBucketRows]] — the exact step then ranks inside the
  * level-1 buckets directly (2 scans). Same doubles either way; the
  * 3-scan shape remains the path for buckets past the sort budget.
  */
object BinnedPercentile {

  /** Largest level-1 candidate bucket (rows) the exact step will sort
    * DIRECTLY, skipping the level-2 narrowing scan: 2^22 rows × ~16 B
    * of (key, value) ≈ 64 MB of per-bucket sort state — one healthy
    * spillable sort task. Below it, scan 2 only re-derives what scan 3
    * resolves anyway; above it, the full two-level narrowing runs
    * unchanged (the priced r7 bounded-memory trade). */
  private val ExactDirectMaxBucketRows = 1L << 22

  /** Pinned intermediates per construction, keyed by the RESULT frame
    * (identity — DataFrames don't define value equality). Weak keys: a
    * caller who drops the result without releasing falls back to the
    * pre-release behavior (entries stay cached, LRU-evictable) instead
    * of this registry pinning the frame forever. */
  private val pinnedByResult =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[DataFrame, Seq[DataFrame]]())

  /** Release the pinned intermediates of one [[perGroup]] construction
    * (three, or four when the level-2 scan ran) — the cache-lifecycle
    * valve for long-lived sessions constructing many ad-hoc percentile
    * frames (ADVICE r8). Call AFTER
    * the result has materialized (collected/written) and will not be
    * re-executed: the result's plan reads two of the pinned frames, so
    * a later action on it would recompute the whole narrowing from raw
    * lineage (the documented doubling — which is also why declared
    * bench queries deliberately never release). Unpersists run in
    * reverse dependency order (rankVals → hist2 → ranks → hist1, hist2
    * only when the level-2 scan ran), so
    * the CacheManager never re-caches a still-cached dependent of an
    * uncached parent — release itself runs zero Spark jobs. Returns the
    * number of frames released (0 if already released / not a perGroup
    * result). */
  def release(result: DataFrame): Int = {
    val frames = pinnedByResult.remove(result)
    if (frames == null) 0
    else {
      frames.reverse.foreach(_.unpersist(blocking = true))
      frames.size
    }
  }

  /** One row per (group, percentile): `(g, p, value)`; `value` is
    * bit-identical to `expr("percentile(v, p)")` over the same rows.
    * EAGER: construction runs the three scans of `df` immediately (the
    * narrowing is inherently multi-pass and its tiny intermediates must
    * materialize to keep the result's plan shallow) — pass a cheap
    * (scan-backed) frame, and construct once per query, not per action.
    * The returned frame keeps two O(groups × percentiles) cached
    * intermediates alive for its lifetime. `b1Bits`/`b2Bits` size the
    * level-1/level-2 bucket keys (top / next bits of the ordered-key
    * image); the defaults give 2^16 and 2^12 subdivisions, and tiny
    * widths force the exact step broadly (the spec's stress shape). */
  def perGroup(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[Double], b1Bits: Int = 16, b2Bits: Int = 12,
      exactDirectMaxBucketRows: Long = ExactDirectMaxBucketRows)
      : DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1))
    require(b1Bits > 0 && b2Bits > 0 && b1Bits + b2Bits < 64)
    val keyed = df
      .select(col(groupCol).as("g"), col(valueCol).cast("double").as("v"))
      .where(col("v").isNotNull)
      .withColumn("kv", DoubleBits.orderedBits(col("v")))
      .withColumn("b1", shiftright(col("kv"), 64 - b1Bits))
    val b2of: Column =
      shiftright(col("kv"), 64 - b1Bits - b2Bits)
        .bitwiseAND(lit((1L << b2Bits) - 1))

    // The tiny intermediates below (histograms, located ranks) each feed
    // SEVERAL downstream broadcast sides; left lazy, every broadcast
    // re-embeds the whole upstream DAG and the physical plan explodes
    // combinatorially (measured: 76 scans / 66 broadcast exchanges for a
    // 4-percentile query — ~6 s of pure stage latency at sf0.1).
    // Persisting them collapses execution to the designed three scans.
    // Scale-safe: their size is O(groups × active buckets) regardless of
    // row count — the same bound that makes the shuffle bounded — and
    // MEMORY_AND_DISK spills rather than OOMs.
    def pin(df: DataFrame): DataFrame = {
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count() // eager: later jobs (incl. broadcast builds) hit the cache
      df
    }

    // ---- scan 1: level-1 histogram; min/max carry their v through an
    // injective-key struct (field 2 is never compared)
    val hist1 = pin(keyed.groupBy("g", "b1")
      .agg(count(lit(1)).as("c1"),
        min(struct(col("kv").as("k"), col("v").as("a"))).as("smn"),
        max(struct(col("kv").as("k"), col("v").as("a"))).as("smx"))
      .select(col("g"), col("b1"), col("c1"),
        col("smn").getField("k").as("kmn1"), col("smn").getField("a").as("vmn1"),
        col("smx").getField("k").as("kmx1"))
      .withColumn("cb1", sum("c1").over(
        Window.partitionBy("g").orderBy("b1")) - col("c1")))

    // needed ranks: h = p·(n−1) as double (PercentileBase order of ops),
    // bounding ranks lo=⌊h⌋ / hi=⌈h⌉ — all derived from hist1 (no extra
    // scan). Pinned so the final interpolation no longer needs hist1
    // (which lets the histograms be unpersisted below). Small sides
    // below use DISJOINT column names and join by name: the frames
    // share lineage, and attribute-id references across a self-join are
    // ambiguous to the analyzer.
    val ranks = pin(hist1.groupBy("g").agg(sum("c1").as("n"))
      .select(col("g"), col("n"), explode(array(ps.map(lit): _*)).as("p"))
      .withColumn("h", col("p") * (col("n") - 1).cast("double"))
      .withColumn("lo", floor(col("h")).cast("long"))
      .withColumn("hi", ceil(col("h")).cast("long")))
    val needed = ranks
      .select(col("g").as("ng"), explode(array(col("lo"), col("hi"))).as("nr"))
      .distinct()

    // locate: each rank falls in exactly one bucket (cb1 ≤ r < cb1+c1)
    val loc1 = hist1.join(broadcast(needed), col("g") === col("ng") &&
        col("nr") >= col("cb1") && col("nr") < col("cb1") + col("c1"))
      .select(col("g"), col("nr").as("r"), col("b1"),
        (col("nr") - col("cb1")).as("r1"), col("c1"), col("kmn1"),
        col("kmx1"), col("vmn1"))
    val done1 = loc1.where(col("kmn1") === col("kmx1"))
      .select(col("g"), col("r"), col("vmn1").as("rv"))
    val todo1 = loc1.where(col("kmn1") =!= col("kmx1"))

    // ADAPTIVE LEVEL-2 SKIP (r18, guide §1.2 "don't compute things you
    // throw away"): the level-2 histogram exists ONLY to shrink the
    // exact step's per-bucket sort from O(n/2^b1Bits) to
    // O(n/2^(b1+b2)) rows. Whether that shrink is needed is knowable
    // NOW, from the pinned level-1 histogram: the largest candidate
    // bucket's row count. When every candidate bucket already fits the
    // exact step's per-task sort budget, scan 2 is a full pass over
    // the data that resolves nothing scan 3 couldn't — skip straight
    // to the exact step on the level-1 buckets (2 scans instead of 3).
    // The decision input is one aggregate over the TINY cached
    // histogram (driver-side metadata, O(groups × percentiles) rows),
    // the same kind of runtime stats decision AQE makes. Scale-safe:
    // past the budget (≈64 MB of sort state per bucket — and the sort
    // SPILLS, the bound is a wall-clock guard, not a memory-safety
    // one) the original 3-scan narrowing runs unchanged, so the
    // O(groups × buckets) shuffled-state bound holds at any size.
    val maxCandRows: Long = {
      val r = todo1.agg(max("c1")).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }

    val (rankVals, pinned) = if (maxCandRows <= exactDirectMaxBucketRows) {
      // ---- scan 2 (direct exact): rank survivors inside their LEVEL-1
      // bucket — same arithmetic as the level-2 exact step with
      // b2 dropped: rows sharing the top b1Bits key bits, spillable
      // per-bucket sort ordered by the key itself, rank == r1.
      val cand1 = todo1.select("g", "b1").distinct()
      val fin1 = keyed.join(broadcast(cand1), Seq("g", "b1"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("g", "b1").orderBy("kv")).cast("long") - 1)
      val t1k = todo1.select(col("g").as("tg"), col("r").as("tr"),
        col("b1").as("tb1"), col("r1").as("tr1"))
      val done3 = fin1.join(broadcast(t1k), col("g") === col("tg") &&
          col("b1") === col("tb1") && col("rn") === col("tr1"))
        .select(col("g"), col("tr").as("r"), col("v").as("rv"))
      (pin(done1.unionAll(done3)), Seq(hist1, ranks))
    } else {
      // ---- scan 2: level-2 histogram over candidate buckets only
      val cand1 = todo1.select("g", "b1").distinct()
      val b2keyed = keyed.join(broadcast(cand1), Seq("g", "b1"))
        .withColumn("b2", b2of)
      val hist2 = pin(b2keyed.groupBy("g", "b1", "b2")
        .agg(count(lit(1)).as("c2"),
          min(struct(col("kv").as("k"), col("v").as("a"))).as("smn"),
          max(struct(col("kv").as("k"), col("v").as("a"))).as("smx"))
        .select(col("g"), col("b1"), col("b2"), col("c2"),
          col("smn").getField("k").as("kmn2"), col("smn").getField("a").as("vmn2"),
          col("smx").getField("k").as("kmx2"))
        .withColumn("cb2", sum("c2").over(
          Window.partitionBy("g", "b1").orderBy("b2")) - col("c2")))
      val t1k = todo1.select(col("g").as("tg"), col("r").as("tr"),
        col("b1").as("tb1"), col("r1").as("tr1"))
      val loc2 = hist2.join(broadcast(t1k), col("g") === col("tg") &&
          col("b1") === col("tb1") &&
          col("tr1") >= col("cb2") && col("tr1") < col("cb2") + col("c2"))
        .select(col("g"), col("tr").as("r"), col("b1"), col("b2"),
          (col("tr1") - col("cb2")).as("r2"), col("kmn2"), col("kmx2"),
          col("vmn2"))
      val done2 = loc2.where(col("kmn2") === col("kmx2"))
        .select(col("g"), col("r"), col("vmn2").as("rv"))
      val todo2 = loc2.where(col("kmn2") =!= col("kmx2"))

      // ---- scan 3: exact — rank survivors inside their level-2 bucket
      // (rows sharing b1Bits+b2Bits leading key bits; the sort spills
      // instead of buffering, and the key order IS Double.compare order)
      val cand2 = todo2.select("g", "b1", "b2").distinct()
      val fin = keyed.withColumn("b2", b2of)
        .join(broadcast(cand2), Seq("g", "b1", "b2"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("g", "b1", "b2").orderBy("kv")).cast("long") - 1)
      val t2k = todo2.select(col("g").as("tg"), col("r").as("tr"),
        col("b1").as("tb1"), col("b2").as("tb2"), col("r2").as("tr2"))
      val done3 = fin.join(broadcast(t2k), col("g") === col("tg") &&
          col("b1") === col("tb1") && col("b2") === col("tb2") &&
          col("rn") === col("tr2"))
        .select(col("g"), col("tr").as("r"), col("v").as("rv"))

      // O(G × ranks) rows; consumed twice (lo/hi sides) — scan 3 must
      // not run twice
      (pin(done1.unionAll(done2).unionAll(done3)), Seq(hist1, ranks, hist2))
    }

    // NOTE on release: everything the RESULT's plan reads is in `ranks`
    // + `rankVals`, but unpersisting the histogram scaffolding here
    // measurably DOUBLES the query (Spark re-cascades dependent cache
    // entries on uncache and the final action recomputes the narrowing
    // from raw lineage). The pinned frames (three, or four when the
    // level-2 scan runs) are O(groups × buckets) / O(groups × ps) —
    // bounded regardless of row count — and
    // MEMORY_AND_DISK entries are LRU-evictable, so they stay cached
    // for the session; a fresh construction re-pins fresh frames
    // (callers construct once per query, not per action). Long-lived
    // sessions constructing MANY ad-hoc frames call [[release]] once a
    // result has materialized — the frames register below.

    // interpolate exactly like PercentileBase.getPercentile:
    //   lo == hi           → vlo
    //   vlo == vhi (IEEE)  → vlo   — getPercentile's key short-circuit
    //     goes through BoxesRunTime.equals, which unboxes to IEEE ==,
    //     so adjacent −0.0/0.0 KEYS short-circuit to the LOWER (−0.0);
    //     buckets above use key (bit) equality instead because
    //     collapsing ±0 there would lose which key holds the rank
    //   else (hi − h)·vlo + (h − lo)·vhi
    val lows = rankVals.select(col("g").as("lg"), col("r").as("lr"),
      col("rv").as("vlo"))
    val highs = rankVals.select(col("g").as("hg"), col("r").as("hr"),
      col("rv").as("vhi"))
    val result = ranks
      .join(broadcast(lows), col("g") === col("lg") && col("lo") === col("lr"))
      .join(broadcast(highs), col("g") === col("hg") && col("hi") === col("hr"))
      .select(col("g"), col("p"),
        when(col("lo") === col("hi"), col("vlo"))
          .when(col("vlo") === col("vhi"), col("vlo"))
          .otherwise(
            (col("hi").cast("double") - col("h")) * col("vlo") +
            (col("h") - col("lo").cast("double")) * col("vhi"))
          .as("value"))
    pinnedByResult.put(result, pinned :+ rankVals)
    result
  }

  /** Pivot the long form to one column per requested percentile —
    * `p` values are the exact literals `perGroup` exploded, so the
    * equality below is bit-safe. */
  def wide(long: DataFrame, ps: Seq[(Double, String)]): DataFrame =
    long.groupBy("g").agg(
      ps.head match { case (p, name) =>
        max(when(col("p") === p, col("value"))).as(name) },
      ps.tail.map { case (p, name) =>
        max(when(col("p") === p, col("value"))).as(name) }: _*)
}
