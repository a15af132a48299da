package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained BM25 index from a document CHANGELOG —
  * the lexical counterpart of `s_ivf_maintain`/[[VecIndexView]],
  * completing the lexical lifecycle: ingest (this view) → serve
  * ([[StreamOps.bm25SearchStream]] / [[StreamOps.hybridSearchStream]]
  * read the maintained artifacts).
  *
  * CHANGELOG-CORRECT (r13): the ingest contract is the engine's own
  * CDC shape — every event carries a monotone sequence (the GTID total
  * order of `cdc_connector.h:199-208`), ops are
  * insert / update_before / update_after / delete, and the SERVED
  * index always equals the batch index over the changelog's
  * materialized latest state (the `q_cdc_snapshot` semantics): an
  * update supersedes the doc's postings, a delete tombstones them, a
  * later insert resurrects, and late (out-of-order) events lose to the
  * sequence.
  *
  * Layout under `baseDir`:
  *  - `postings/batch=<id>/` — `(doc_id, ver, dl, h, tf)`, one
  *    partition per ingest batch, a pure function of the batch plus
  *    the PRE-BATCH catalog ([[graft.operators.TextOps.bm25Postings]]
  *    is doc-local — the property that makes a 100 TB postings log
  *    maintainable at all): the batch's EFFECTIVE upsert postings
  *    plus one `h = NULL` tombstone marker row per effective delete
  *    (and per superseding upsert whose new text is too short to
  *    shingle — compact needs a log trace to touch the old bucket);
  *    late events leave no trace. Superseded rows are EXCLUDED AT
  *    READ by the catalog join (below) and physically dropped by
  *    [[compact]];
  *  - `catalog/` — one row per ever-seen doc: `(doc_id, ver, live,
  *    dl)`, the changelog's materialized head (latest sequence wins,
  *    deletes keep a `live = false` tombstone row to fend off late
  *    replays of older versions). Merged per batch by the two-rename
  *    swap; at real scale the rewrite drops to O(touched buckets)
  *    under a doc-bucketed dynamic-overwrite layout (the
  *    `CdcSink.applyChangelogBucketed` discipline — same upgrade as
  *    the terms note below);
  *  - `terms/` — the merged `(h, df)` dictionary: df is a count
  *    monoid WITH SUBTRACTION — each batch contributes +1 per term of
  *    an effective upsert and −1 per term of the version it
  *    supersedes (or deletes), read from the doc's current postings
  *    rows; terms whose df reaches 0 leave the dictionary;
  *  - `stats/` — one row `(n, t)`: live doc count and live shingle
  *    total (± deltas, same discipline);
  *  - `postings_compacted2/bucket=<doc_id mod CompactBuckets>/` — the
  *    bucketed base [[compact]] folds the log into, holding ONLY
  *    live-latest rows. Bucketing by doc_id (not term hash) serves
  *    two masters: bounded file count for the search scan (which
  *    broadcasts the query side and never shuffles postings by h
  *    anyway), and PARTITION-PRUNED old-version lookups during ingest
  *    (a batch reads only its docs' buckets).
  *
  * Legacy zones remain readable (r12 indexes and the pre-r12 flat
  * Append layout): loose parquet under `postings/` and the r12
  * h-bucketed `postings_compacted/` are read with `ver = 0`
  * synthesized and folded wholesale into the v2 base by the first
  * [[compact]]. A dir is stamped `_format = 2` by its first ingested
  * batch; update/delete events REQUIRE the stamp (a legacy append-only
  * dir has no catalog, so superseding its docs would serve stale
  * postings — refused with an explicit rebuild message; append-only
  * inserts of new unique docs stay correct on any dir and are
  * accepted).
  *
  * Exactly-once: the postings log is per-batch IDEMPOTENT — each batch
  * writes its own `postings/batch=<id>/` partition with Overwrite, so
  * a retry that crashed after the write but before the marker replaces
  * the partition instead of appending duplicates (the marker file is a
  * fast-skip only). The merged tables (`terms/`, `stats/`, `catalog/`)
  * commit by the two-rename swap with the `_applied_batch` marker
  * INSIDE the new directory — the CdcAggView discipline — in the fixed
  * order terms → stats → catalog: every delta derives from the batch
  * plus the PRE-BATCH catalog, so the catalog must commit LAST — a
  * crash between steps re-runs only the lagging steps against the
  * still-pre-batch catalog and reproduces identical deltas.
  *
  * Served-index derivation at read time: postings rows survive iff
  * the catalog's head row for their doc is live at exactly their
  * version (rows for docs the catalog has never seen — legacy
  * append-only zones — stay live); the scale-aware df-cap
  * (`bm25DfCap(n)`) is applied against the MAINTAINED df table, so a
  * term that outgrows the cap as the corpus grows leaves the served
  * index automatically, without ever rewriting postings.
  */
object Bm25IndexView {

  /** foreachBatch adapter for an APPEND-ONLY doc stream
    * `(doc_id, text)` — unique doc_ids, no updates/deletes:
    * `docs.writeStream.foreachBatch(Bm25IndexView.writer(dir))`.
    * Events get `op = insert, ver = batchId` (any monotone stand-in
    * works when every doc appears exactly once). */
  def writer(baseDir: String): (DataFrame, Long) => Unit =
    (batch, batchId) => applyBatch(batch, batchId, baseDir)

  /** foreachBatch adapter for a full CDC CHANGELOG stream carrying
    * `(doc_id, text, <opCol>, <seqCol>)` — the MaxScale event
    * vocabulary (insert / update_before / update_after / delete,
    * `update_before` skipped: the paired after-image carries the new
    * row), sequenced by the GTID-derived total order. */
  def changelogWriter(baseDir: String,
      opCol: String = "event_type",
      seqCol: String = "sequence"): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      applyChangelogBatch(batch, batchId, baseDir, opCol, seqCol)

  /** Append-only entry: wraps plain docs as insert events. */
  def applyBatch(docs: DataFrame, batchId: Long, baseDir: String): Unit =
    applyChangelogBatch(
      docs.select(col("doc_id"), col("text"))
        .withColumn("event_type", lit("insert"))
        .withColumn("sequence", lit(batchId)),
      batchId, baseDir, "event_type", "sequence")

  def applyChangelogBatch(events: DataFrame, batchId: Long, baseDir: String,
      opCol: String = "event_type", seqCol: String = "sequence"): Unit = {
    val spark = events.sparkSession
    new java.io.File(baseDir).mkdirs()

    // ---- within-batch resolution: latest sequence per doc wins
    // (update_before skipped — the after-image is the row); identical
    // re-deliveries collapse through the max_by. Small (batch-sized).
    val resolved = events
      .where(col(opCol) =!= "update_before")
      .select(col("doc_id").cast("long").as("doc_id"),
        col("text"), col(opCol).as("op"), col(seqCol).cast("long").as("ver"))
      .groupBy("doc_id")
      .agg(max_by(struct(col("text"), col("op"), col("ver")), col("ver")).as("r"))
      .select(col("doc_id"), col("r.text").as("text"),
        col("r.op").as("op"), col("r.ver").as("ver"))
      .localCheckpoint(eager = true)
    val hasMutation = resolved
      .where(col("op").isin("update_after", "delete")).limit(1).count() > 0
    val fmt = requireFormat(baseDir, hasMutation)
    IndexFiles.refuseIfCompacting(baseDir, s"ingest batch $batchId")

    // ---- EFFECTIVE events vs the PRE-BATCH catalog: an event whose
    // sequence does not beat the doc's head is LATE and changes
    // nothing — it is dropped BEFORE the log write, so a duplicate
    // event re-delivered by an at-least-once source in a LATER batch
    // can never plant a second copy of the doc's head-version rows in
    // another partition (both would match the catalog head at serve).
    // Docs the catalog has never seen are new (old_live = false) —
    // which is also the correct reading for legacy append-only zones,
    // whose unique-doc contract guarantees no effective event ever
    // supersedes them.
    val cat = readCatalog(spark, baseDir)
    val eff = resolved.join(
        cat.select(col("doc_id"), col("ver").as("cver"),
          col("live").as("clive"), col("dl").as("cdl")),
        Seq("doc_id"), "left")
      .where(col("cver").isNull || col("ver") > col("cver"))
      .withColumn("old_live", coalesce(col("clive"), lit(false)))
      .withColumn("new_live", col("op") =!= "delete")
      .withColumn("new_dl", when(col("new_live"),
        greatest(size(split(col("text"), " ")) - 2, lit(0)).cast("long"))
        .otherwise(lit(0L)))
      .localCheckpoint(eager = true) // batch-sized; reused four times
    if (fmt == 1) refuseLegacyCollisions(spark, baseDir, eff, batchId)

    // ---- the batch's postings-log rows: a pure function of (batch,
    // PRE-BATCH catalog) — deterministic across every foreachBatch
    // retry window, because the catalog commits LAST (step 4): a retry
    // that lost the marker recomputes the identical frame. Effective
    // upsert postings carry the event's ver; each effective delete
    // contributes one h=NULL tombstone marker row (read paths filter
    // h IS NOT NULL; compact uses the markers to touch the deleted
    // doc's bucket). Even after the catalog committed (a window no
    // real crash can reach — the marker precedes it), a re-run only
    // shrinks eff to EMPTY (per-doc catalog versions never regress),
    // which skips the overwrite instead of truncating the partition.
    val upserts = eff.where(col("new_live"))
    val upsertRows = graft.operators.TextOps.bm25Postings(
        upserts.select(col("doc_id"), col("text")))
      .join(upserts.select(col("doc_id"), col("ver")), "doc_id")
      .select(col("doc_id"), col("ver"), col("dl"), col("h"), col("tf"))
    // an effective upsert that SUPERSEDES a live version but whose new
    // text is too short to shingle (<3 tokens ⇒ bm25Postings emits no
    // rows) must still leave a log trace, or compact's touched-bucket
    // set would miss the superseded version and stale rows would stay
    // physically in the base (ADVICE r13) — emit the same h = NULL
    // marker a delete does
    val shortUpserts = upserts.where(col("old_live"))
      .join(upsertRows.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("ver"), lit(0L).as("dl"),
        lit(null).cast("long").as("h"), lit(0L).as("tf"))
    val logRows = upsertRows
      .unionByName(shortUpserts)
      .unionByName(eff.where(!col("new_live"))
        .select(col("doc_id"), col("ver"), lit(0L).as("dl"),
          lit(null).cast("long").as("h"), lit(0L).as("tf")))
      .localCheckpoint(eager = true) // evaluated once, reused below

    // 1. postings append — idempotent PER BATCH: the batch owns its
    //    `batch=<id>` partition and writes it with Overwrite, so a
    //    foreachBatch retry that crashed between the write and the
    //    marker REPLACES the partition instead of re-appending
    //    duplicate rows. The marker is only a fast-skip.
    val pMarker = java.nio.file.Paths.get(s"$baseDir/_postings-batch-$batchId")
    if (!java.nio.file.Files.exists(pMarker)) {
      if (!logRows.isEmpty)
        logRows.write.mode(SaveMode.Overwrite)
          .parquet(s"$baseDir/postings/batch=$batchId")
      java.nio.file.Files.createFile(pMarker)
    }

    // 2. term-dictionary merge — df is a count monoid WITH SUBTRACTION:
    //    +1 per term of an effective upsert, −1 per term of the version
    //    it supersedes or deletes (the superseded doc's current postings
    //    rows, looked up from the zones: the log is bounded between
    //    compactions and the v2 base is PARTITION-PRUNED to the batch's
    //    doc buckets). Terms at df = 0 leave the dictionary.
    val termsDir = s"$baseDir/terms"
    if (IndexFiles.lastApplied(termsDir) < batchId) {
      // every non-tombstone log row is an effective upsert's term
      val plus = logRows.where(col("h").isNotNull)
        .select(col("h"), lit(1L).as("d"))
      // fast path: a batch superseding nothing (the append-only common
      // case) never touches the zones — df deltas are pure increments
      val superseded = eff.where(col("old_live"))
        .select(col("doc_id"), col("cver").as("ver"))
        .localCheckpoint(eager = true)
      val delta = (if (superseded.isEmpty) plus
        else plus.unionByName(
          oldPostingsOf(spark, baseDir, superseded)
            .select(col("h"), lit(-1L).as("d"))))
        .groupBy("h").agg(sum("d").as("d"))
      val current =
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(termsDir)))
          spark.read.parquet(termsDir).where(col("h").isNotNull)
        else delta.select(col("h"), col("d").as("df")).limit(0)
      val merged = current.select(col("h"), col("df").as("df_cur"))
        .join(delta, Seq("h"), "full_outer")
        .select(col("h"),
          (coalesce(col("df_cur"), lit(0L)) + coalesce(col("d"), lit(0L)))
            .as("df"))
        .where(col("df") > 0)
      IndexFiles.swapInWithMarker(merged, termsDir, batchId)
    }

    // 3. stats merge — (n, t) with subtraction: n moves only on a
    //    liveness edge (insert of a dead/unseen doc, delete of a live
    //    one); t moves by new_dl − old_dl of every effective event.
    val statsDir = s"$baseDir/stats"
    if (IndexFiles.lastApplied(statsDir) < batchId) {
      val d = eff.agg(
        coalesce(sum(when(col("new_live") && !col("old_live"), 1L)
          .when(!col("new_live") && col("old_live"), -1L)
          .otherwise(0L)), lit(0L)).as("dn"),
        coalesce(sum(when(col("new_live"), col("new_dl")).otherwise(lit(0L))
          - when(col("old_live"), col("cdl")).otherwise(lit(0L))), lit(0L))
          .as("dt")).head()
      val (cn, ct) =
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(statsDir))) {
          val r = spark.read.parquet(statsDir).head()
          (r.getLong(0), r.getLong(1))
        } else (0L, 0L)
      import spark.implicits._
      IndexFiles.swapInWithMarker(
        Seq((cn + d.getLong(0), ct + d.getLong(1))).toDF("n", "t"),
        statsDir, batchId)
    }

    // 4. catalog merge — LAST (steps 2-3 derive their deltas from the
    //    pre-batch catalog; committing it last keeps every crash-retry
    //    window reading the same pre-state). Latest-wins per doc;
    //    deletes keep a live=false tombstone row.
    val catalogDir = s"$baseDir/catalog"
    if (IndexFiles.lastApplied(catalogDir) < batchId) {
      val newCat = eff.select(col("doc_id"), col("ver"),
        col("new_live").as("live"), col("new_dl").as("dl"))
      val merged = cat.select(col("doc_id"), col("ver").as("v0"),
          col("live").as("l0"), col("dl").as("d0"))
        .join(newCat.select(col("doc_id"), col("ver").as("v1"),
          col("live").as("l1"), col("dl").as("d1")), Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("v1"), col("v0")).as("ver"),
          coalesce(col("l1"), col("l0")).as("live"),
          coalesce(col("d1"), col("d0")).as("dl"))
      IndexFiles.swapInWithMarker(merged, catalogDir, batchId)
    }
  }

  /** The maintained corpus stats `(n, t)` — live docs, live shingles. */
  def stats(spark: SparkSession, baseDir: String): (Long, Long) = {
    val r = spark.read.parquet(s"$baseDir/stats").head()
    (r.getLong(0), r.getLong(1))
  }

  /** How many doc-hash buckets the compacted postings base uses. */
  val CompactBuckets = 16

  /** COMPACTION: fold the per-batch postings log (plus any legacy
    * zones, wholesale, on first run) into the doc-bucketed base
    * `postings_compacted2/bucket=<doc_id mod CompactBuckets>/`,
    * PHYSICALLY DROPPING superseded and deleted rows — the base holds
    * only live-latest postings, so a long-lived index's storage and
    * read amplification stay bounded by the live corpus, not the
    * changelog's history. Only buckets that received log rows (or hold
    * rows a log tombstone kills) are rewritten — every mutated doc has
    * log rows (tombstone markers included), so touched buckets =
    * distinct doc-buckets of the log; untouched buckets stay
    * byte-identical and compaction cost is O(touched buckets).
    *
    * Crash-safe: only FULLY-COMMITTED batches fold — a batch counts
    * only once the CATALOG (the last merge step) has applied it
    * (`id <= catalog/_applied_batch`), not merely once its postings
    * marker exists: the marker precedes the catalog commit, and a
    * crash between them would otherwise let the fold evaluate the
    * batch's new-version rows against the PRE-batch catalog heads
    * (dropping them), delete the batch dir, and have the replay
    * fast-skip the postings step — losing the updated docs' postings
    * forever once the catalog commits (ADVICE r13). The fold dedupes
    * on (doc_id, h) — unique among live-latest rows — so a crash
    * between the bucket rewrite and the log cleanup re-folds
    * idempotently, and the per-batch `_postings-batch-<id>` markers
    * survive compaction, so a late foreachBatch replay of a folded
    * batch is still skipped. Holds the `_compact-lease` for its
    * duration (it reads the catalog and the log as of one moment) —
    * ingest batches landing mid-fold are refused loudly instead of
    * silently corrupting ([[IndexFiles.withCompactLease]]). */
  def compact(spark: SparkSession, baseDir: String): Unit =
    IndexFiles.withCompactLease(baseDir) {
      compactLocked(spark, baseDir)
    }

  private def compactLocked(spark: SparkSession, baseDir: String): Unit = {
    val logRoot = java.nio.file.Paths.get(s"$baseDir/postings")
    // only fully-committed batches fold (see scaladoc)
    val committed = IndexFiles.lastApplied(s"$baseDir/catalog")
    val batchDirs = listBatchDirs(logRoot).filter { p =>
      val id = p.getFileName.toString.stripPrefix("batch=")
      id.toLong <= committed &&
        java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$baseDir/_postings-batch-$id"))
    }
    val legacy = legacyZones(spark, baseDir)
    if (batchDirs.isEmpty && legacy.isEmpty) return
    val baseRoot = s"$baseDir/postings_compacted2"
    val fresh = (batchDirs.map(p => withVer(spark.read.parquet(p.toString)))
        ++ legacy)
      .reduce(_ unionByName _)
      .select(col("doc_id"), col("ver"), col("dl"), col("h"), col("tf"))
      .withColumn("bucket", pmod(col("doc_id"), lit(CompactBuckets.toLong)))
      .localCheckpoint(eager = true) // evaluated once: bucket probe + fold
    val touched = fresh.select("bucket").distinct()
      .collect().map(_.getLong(0)).toSeq
    val existing =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(baseRoot)))
        spark.read.parquet(baseRoot)
          .withColumn("bucket", col("bucket").cast("long"))
          .where(col("bucket").isin(touched: _*)) // partition-pruned read
          .select("doc_id", "ver", "dl", "h", "tf", "bucket")
      else fresh.limit(0)
    val merged = currentRows(spark, baseDir,
        existing.unionByName(fresh).where(col("h").isNotNull))
      .dropDuplicates("doc_id", "h") // re-fold idempotency (values equal)
      // co-locate each bucket's rows: ONE file per rewritten bucket, so
      // the compacted base's file count stays = bucket count (the read-
      // amplification bound compaction exists to provide)
      .repartition(CompactBuckets, col("bucket"))
      .localCheckpoint(eager = true) // fixed before the overwrite below
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try merged.write.mode(SaveMode.Overwrite)
      .partitionBy("bucket").parquet(baseRoot)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    // a touched bucket whose rows ALL died never appears in `merged`,
    // so dynamic overwrite leaves its stale partition — drop it
    val kept = merged.select("bucket").distinct()
      .collect().map(_.getLong(0)).toSet
    touched.filterNot(kept).foreach { b =>
      RenameSwap.deleteRecursively(java.nio.file.Paths.get(s"$baseRoot/bucket=$b"))
    }
    // folded: clear the sources (idempotent-by-dedup if we crash mid-way)
    batchDirs.foreach(RenameSwap.deleteRecursively)
    deleteLegacyZones(spark, baseDir)
  }

  private def listBatchDirs(logRoot: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.exists(logRoot)) Nil
    else java.nio.file.Files.list(logRoot).iterator().asScala.toSeq
      .filter(p => java.nio.file.Files.isDirectory(p)
        && p.getFileName.toString.startsWith("batch="))
      .sortBy(_.getFileName.toString)
  }

  /** Loose parquet files directly under `postings/` (the pre-r12 flat
    * Append layout). */
  private def loosePostingsFiles(baseDir: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val logRoot = java.nio.file.Paths.get(s"$baseDir/postings")
    if (!java.nio.file.Files.exists(logRoot)) Nil
    else java.nio.file.Files.list(logRoot).iterator().asScala.toSeq
      .filter(p => java.nio.file.Files.isRegularFile(p)
        && p.getFileName.toString.endsWith(".parquet"))
  }

  /** Legacy read zones: pre-r12 loose postings files and the r12
    * h-bucketed `postings_compacted/` base — read with `ver = 0`
    * synthesized (their append-only contract means one version per
    * doc), folded into the v2 base by the first [[compact]]. */
  private def legacyZones(spark: SparkSession, baseDir: String): Seq[DataFrame] = {
    val loose = loosePostingsFiles(baseDir)
    val looseZone =
      if (loose.isEmpty) Nil
      else Seq(withVer(spark.read.parquet(loose.map(_.toString): _*)))
    val v1Base = java.nio.file.Paths.get(s"$baseDir/postings_compacted")
    val v1Zone =
      if (!java.nio.file.Files.exists(v1Base)) Nil
      else Seq(withVer(spark.read.parquet(v1Base.toString)))
    (looseZone ++ v1Zone)
      .map(_.select(col("doc_id"), col("ver"), col("dl"), col("h"), col("tf")))
  }

  private def deleteLegacyZones(spark: SparkSession, baseDir: String): Unit = {
    loosePostingsFiles(baseDir).foreach(java.nio.file.Files.deleteIfExists(_))
    RenameSwap.deleteRecursively(java.nio.file.Paths.get(s"$baseDir/postings_compacted"))
  }

  private def withVer(df: DataFrame): DataFrame =
    if (df.columns.contains("ver")) df
    else df.withColumn("ver", lit(0L))

  /** The raw postings frame `(doc_id, ver, dl, h, tf)` across ALL
    * zones (v2 base + batch log + legacy), tombstone markers and
    * superseded versions still included. */
  private def rawPostings(spark: SparkSession, baseDir: String): DataFrame = {
    val logRoot = java.nio.file.Paths.get(s"$baseDir/postings")
    // batch dirs read individually: pre-r13 batches have no ver column
    // and parquet schema resolution across mixed dirs picks one file's
    val batchZone = listBatchDirs(logRoot)
      .map(p => withVer(spark.read.parquet(p.toString))
        .select(col("doc_id"), col("ver"), col("dl"), col("h"), col("tf")))
    val v2Base = java.nio.file.Paths.get(s"$baseDir/postings_compacted2")
    val v2Zone =
      if (!java.nio.file.Files.exists(v2Base)) Nil
      else Seq(spark.read.parquet(v2Base.toString)
        .select(col("doc_id"), col("ver"), col("dl"), col("h"), col("tf")))
    val zones = batchZone ++ v2Zone ++ legacyZones(spark, baseDir)
    require(zones.nonEmpty, s"no postings under $baseDir")
    zones.reduce(_ unionByName _)
  }

  private def readCatalog(spark: SparkSession, baseDir: String): DataFrame = {
    val p = java.nio.file.Paths.get(s"$baseDir/catalog")
    if (java.nio.file.Files.exists(p))
      spark.read.parquet(p.toString).where(col("doc_id").isNotNull)
        .select(col("doc_id"), col("ver"), col("live"), col("dl"))
    else {
      import spark.implicits._
      Seq.empty[(Long, Long, Boolean, Long)].toDF("doc_id", "ver", "live", "dl")
    }
  }

  /** Restrict a postings frame to the LIVE-LATEST rows: a row survives
    * iff the catalog's head for its doc is live at exactly its version
    * (docs the catalog never saw — legacy append-only zones — stay
    * live). Tombstone marker rows (h NULL) are dropped. */
  private def currentRows(spark: SparkSession, baseDir: String,
      postings: DataFrame): DataFrame = {
    val cat = readCatalog(spark, baseDir)
      .select(col("doc_id"), col("ver").as("cver"), col("live").as("clive"))
    postings.where(col("h").isNotNull)
      .join(cat, Seq("doc_id"), "left")
      .where(col("cver").isNull || (col("clive") && col("ver") === col("cver")))
      .drop("cver", "clive")
  }

  /** The current postings frame `(doc_id, dl, h, tf)`: live-latest
    * rows across the compacted base plus any not-yet-folded batch log
    * (and legacy zones). */
  private def postingsFrame(spark: SparkSession, baseDir: String): DataFrame =
    currentRows(spark, baseDir, rawPostings(spark, baseDir))
      .select(col("doc_id"), col("dl"), col("h"), col("tf"))

  /** The CURRENT postings rows of specific `(doc_id, ver)` heads — the
    * superseded-version lookup the df subtraction needs. The lookup
    * side is batch-sized (broadcast); the v2 base read is PRUNED to
    * the touched doc buckets, the batch log is bounded between
    * compactions, legacy zones are scanned (they exist only until the
    * first compact folds them). */
  private def oldPostingsOf(spark: SparkSession, baseDir: String,
      heads: DataFrame): DataFrame = {
    val logRoot = java.nio.file.Paths.get(s"$baseDir/postings")
    val batchZone = listBatchDirs(logRoot)
      .map(p => withVer(spark.read.parquet(p.toString))
        .select(col("doc_id"), col("ver"), col("h")))
    val v2Base = java.nio.file.Paths.get(s"$baseDir/postings_compacted2")
    val v2Zone =
      if (!java.nio.file.Files.exists(v2Base)) Nil
      else Seq(spark.read.parquet(v2Base.toString)
        // filter on the PARTITION column — this is what makes the
        // lookup O(touched doc-buckets) instead of O(base)
        .where(col("bucket").cast("long")
          .isin(-1L +: headBuckets(heads): _*))
        .select(col("doc_id"), col("ver"), col("h")))
    val zones = batchZone ++ v2Zone ++
      legacyZones(spark, baseDir).map(_.select("doc_id", "ver", "h"))
    val all =
      if (zones.isEmpty) heads.select(col("doc_id"), col("ver"),
        lit(null).cast("long").as("h")).limit(0)
      else zones.reduce(_ unionByName _)
    all.where(col("h").isNotNull)
      .join(broadcast(heads), Seq("doc_id", "ver"))
      .select(col("doc_id"), col("ver"), col("h"))
  }

  private def headBuckets(heads: DataFrame): Seq[Long] =
    heads.select(pmod(col("doc_id"), lit(CompactBuckets.toLong)).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq

  /** Format classification, decided at FIRST CONTACT and stamped: a
    * dir that already holds postings content when first touched by
    * this code is a LEGACY append-only index (`_format = 1` — its docs
    * predate the catalog, so superseding them would silently serve
    * stale postings); an empty dir is changelog-capable (`_format =
    * 2`). The stamp is permanent — compaction folding legacy zones
    * into the v2 base does NOT make their docs catalog-covered, so
    * legaciness must not be re-derived from zone presence. */
  private def formatOf(baseDir: String): Int = {
    val stamp = java.nio.file.Paths.get(s"$baseDir/_format")
    if (java.nio.file.Files.exists(stamp))
      new String(java.nio.file.Files.readAllBytes(stamp), "UTF-8").trim.toInt
    else {
      val hasContent = loosePostingsFiles(baseDir).nonEmpty ||
        java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$baseDir/postings_compacted")) ||
        java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$baseDir/postings_compacted2")) ||
        listBatchDirs(java.nio.file.Paths.get(s"$baseDir/postings")).nonEmpty
      val v = if (hasContent) 1 else 2
      java.nio.file.Files.write(stamp, v.toString.getBytes("UTF-8"))
      v
    }
  }

  /** Update/delete events require a `_format = 2` dir (catalog-covered
    * from birth); append-only inserts of new unique docs stay correct
    * on any format and are accepted everywhere. Returns the format. */
  private def requireFormat(baseDir: String, hasMutation: Boolean): Int = {
    val f = formatOf(baseDir) // stamps on first contact, even insert-only
    if (hasMutation && f < 2)
      throw new IllegalStateException(
        s"$baseDir holds a legacy append-only BM25 index (no catalog " +
          "covering its docs): update/delete events would serve stale " +
          "postings. Rebuild the index from the changelog's snapshot, " +
          "or keep the ingest append-only.")
    f
  }

  /** On a legacy (`_format = 1`) dir the catalog does not cover the
    * pre-existing docs, so an "insert" colliding with a legacy doc_id
    * would double-count df/n/t and serve skewed scores while the
    * stale rows silently drop (ADVICE r13). The unique-doc contract
    * is therefore ENFORCED, not just documented: any catalog-unseen
    * id in the batch that already holds postings rows in any zone is
    * refused. Cost is paid only on legacy dirs: the lookup side is
    * batch-sized (broadcast), the v2 base read is pruned to the
    * batch's doc buckets, and loose legacy zones exist only until the
    * first compact folds them. */
  private def refuseLegacyCollisions(spark: SparkSession, baseDir: String,
      eff: DataFrame, batchId: Long): Unit = {
    val newDocs = eff.where(col("cver").isNull)
      .select("doc_id").distinct().localCheckpoint(eager = true)
    if (newDocs.isEmpty) return
    // the batch's OWN partition is excluded: a crash-retry that wrote
    // its postings but not yet the catalog must not refuse itself
    val batchZone = listBatchDirs(java.nio.file.Paths.get(s"$baseDir/postings"))
      .filterNot(_.getFileName.toString == s"batch=$batchId")
      .map(p => withVer(spark.read.parquet(p.toString)).select("doc_id"))
    val v2Base = java.nio.file.Paths.get(s"$baseDir/postings_compacted2")
    val v2Zone =
      if (!java.nio.file.Files.exists(v2Base)) Nil
      else Seq(spark.read.parquet(v2Base.toString)
        .where(col("bucket").cast("long")
          .isin(-1L +: headBuckets(newDocs): _*)) // partition-pruned
        .select("doc_id"))
    val zones = batchZone ++ v2Zone ++
      legacyZones(spark, baseDir).map(_.select("doc_id"))
    if (zones.isEmpty) return
    val hit = zones.reduce(_ unionByName _)
      .join(broadcast(newDocs), "doc_id").limit(1).collect()
    if (hit.nonEmpty)
      throw new IllegalStateException(
        s"$baseDir is a legacy append-only BM25 index and the batch " +
          s"inserts doc_id ${hit.head.getLong(0)}, which already holds " +
          "postings outside the catalog: accepting it would double-count " +
          "df/n/t. Legacy dirs require globally-unique doc_ids; rebuild " +
          "from the changelog's snapshot to mutate existing docs.")
  }

  /** The SERVED index over the maintained artifacts — row-identical to
    * `TextOps.bm25ServedIndex` over the changelog's materialized
    * latest state (spec-pinned): live-latest postings join the
    * maintained df table under the scale-aware cap, never
    * re-aggregating postings. */
  def served(spark: SparkSession, baseDir: String): DataFrame = {
    val (n, _) = stats(spark, baseDir)
    graft.operators.TextOps.bm25ServedFrom(
      postingsFrame(spark, baseDir),
      spark.read.parquet(s"$baseDir/terms").where(col("h").isNotNull),
      n)
  }

  /** Health metrics over the MAINTAINED artifacts, in the batch
    * `q_lexical_health` shape `(metric, value)` — derived at read time
    * from the live-latest postings, the merged df dictionary, and the
    * (n, t) stats, so the ingest path never computes anything extra
    * for health. The kept/total collapse is the query-terms-going-dark
    * alarm; `postings_kept` is the served-index volume. */
  def health(spark: SparkSession, baseDir: String): DataFrame = {
    import spark.implicits._
    val (n, t) = stats(spark, baseDir)
    val cap = graft.operators.TextOps.bm25DfCap(n)
    val postings = postingsFrame(spark, baseDir)
    val dfx = spark.read.parquet(s"$baseDir/terms")
      .where(col("h").isNotNull)
    def counted(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).cast("long").as("value"))
        .select(lit(name).as("metric"), col("value"))
    Seq(("df_cap", cap), ("n_docs", n), ("t_shingles", t))
      .toDF("metric", "value")
      .unionByName(counted("terms_total", dfx))
      .unionByName(counted("terms_kept", dfx.where(col("df") <= cap)))
      .unionByName(counted("postings_total", postings))
      .unionByName(counted("postings_kept",
        graft.operators.TextOps.bm25ServedFrom(postings, dfx, n)))
      .orderBy("metric")
  }
}
