package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained RESIDUAL IVF-PQ code table from a vector
  * CHANGELOG — the vector twin of [[Bm25IndexView]], closing the r12
  * asymmetry where the lexical index had the full
  * maintain → compact → serve lifecycle while the vector side's
  * on-disk `pqvec` artifact was batch build-once and the streaming
  * encoder's codes never landed in a served artifact.
  *
  * The GEOMETRY (IVF cells + residual codebooks) is trained once per
  * ERA by a batch build ([[graft.operators.Similarity.pqResArtifacts]])
  * and FROZEN for the index's lifetime: residual codes are meaningful
  * only against the exact (cells, codebooks) pair that produced them.
  * Every ingest batch re-asserts the era against the `_era` stamp —
  * a writer holding retrained geometry is REFUSED (the
  * [[StateGeometryGuard]] discipline applied to the artifact itself;
  * upgrades go through a re-encode migration + fresh serve
  * checkpoints — [[migrateCellSplit]] for a grown cell set,
  * [[migrateCodebooks]] for retrained residual codebooks).
  *
  * Changelog-correct, the [[Bm25IndexView]] contract verbatim: events
  * carry a monotone sequence; insert / update_after / delete
  * (update_before skipped); the served code table always equals the
  * batch encode of the changelog's materialized latest state — latest
  * sequence wins, deletes tombstone, late events lose.
  *
  * Layout under `baseDir`:
  *  - `codes/batch=<id>/` — `(vec_id, ver, cell_id, s, j)`: the
  *    batch's EFFECTIVE upsert codes (PqSub rows per vector, encoded
  *    by the stateless [[StreamOps.ivfPqEncodeProj]] — bit-identical
  *    to the batch index chain), plus one `s = NULL` marker row per
  *    effective event that supersedes or deletes a live version,
  *    carrying the OLD version's cell_id — the superseded rows live
  *    in the old cell's partition, and the marker is what lets
  *    [[compact]] touch exactly that partition (an updated vector may
  *    ROUTE TO A DIFFERENT CELL, so unlike the doc-bucketed lexical
  *    log the old partition is not implied by the new row);
  *  - `catalog/` — one row per ever-seen vector `(vec_id, ver, live,
  *    cell_id)`, the changelog's materialized head (latest wins,
  *    deletes keep a live = false tombstone), committed LAST per
  *    batch so every crash-retry window recomputes deltas against the
  *    same pre-batch state;
  *  - `codes_compacted/cell_id=<c>/` — the cell-partitioned base
  *    [[compact]] folds the log into, holding only live-latest rows:
  *    the SERVING layout (a probed query reads its cells' partitions,
  *    never the corpus — the batch artifact's `index_res` shape).
  *
  * Exactly-once: per-batch partition Overwrite + marker fast-skip for
  * the log; two-rename swap for the catalog; the log rows are a pure
  * function of (batch, pre-batch catalog) and the catalog commits
  * last, so every foreachBatch retry window recomputes the identical
  * frame — and a post-catalog re-run only shrinks the effective set
  * to empty (per-vector versions never regress), which skips the
  * overwrite instead of truncating the partition.
  */
object VecIndexView {

  /** foreachBatch adapter for an append-only vector stream
    * `(vec_id, embedding)` — unique vec_ids. */
  def writer(baseDir: String,
      cells: Seq[(Long, Seq[Double], Seq[Long])],
      codebooks: Seq[(Int, Long, Seq[Long])]): (DataFrame, Long) => Unit =
    (batch, batchId) => applyChangelogBatch(
      batch.select(col("vec_id"), col("embedding"))
        .withColumn("event_type", lit("insert"))
        .withColumn("sequence", lit(batchId)),
      batchId, baseDir, cells, codebooks)

  /** foreachBatch adapter for a full CDC changelog stream carrying
    * `(vec_id, embedding, <opCol>, <seqCol>)`. */
  def changelogWriter(baseDir: String,
      cells: Seq[(Long, Seq[Double], Seq[Long])],
      codebooks: Seq[(Int, Long, Seq[Long])],
      opCol: String = "event_type",
      seqCol: String = "sequence"): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      applyChangelogBatch(batch, batchId, baseDir, cells, codebooks,
        opCol, seqCol)

  def applyChangelogBatch(events: DataFrame, batchId: Long, baseDir: String,
      cells: Seq[(Long, Seq[Double], Seq[Long])],
      codebooks: Seq[(Int, Long, Seq[Long])],
      opCol: String = "event_type", seqCol: String = "sequence"): Unit = {
    val spark = events.sparkSession
    new java.io.File(baseDir).mkdirs()
    requireEra(baseDir, cells, codebooks)
    IndexFiles.refuseIfCompacting(baseDir, s"ingest batch $batchId")

    // within-batch resolution: latest sequence per vector wins
    val resolved = events
      .where(col(opCol) =!= "update_before")
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding"), col(opCol).as("op"), col(seqCol).cast("long").as("ver"))
      .groupBy("vec_id")
      .agg(max_by(struct(col("embedding"), col("op"), col("ver")), col("ver"))
        .as("r"))
      .select(col("vec_id"), col("r.embedding").as("embedding"),
        col("r.op").as("op"), col("r.ver").as("ver"))
      .localCheckpoint(eager = true)

    // effective events vs the PRE-BATCH catalog (late ones lose and
    // leave no trace — see Bm25IndexView on cross-batch duplicates)
    val cat = readCatalog(spark, baseDir)
    val eff = resolved.join(
        cat.select(col("vec_id"), col("ver").as("cver"),
          col("live").as("clive"), col("cell_id").as("ccell")),
        Seq("vec_id"), "left")
      .where(col("cver").isNull || col("ver") > col("cver"))
      .withColumn("old_live", coalesce(col("clive"), lit(false)))
      .withColumn("new_live", col("op") =!= "delete")
      .localCheckpoint(eager = true)

    // encode effective upserts with the frozen geometry — the
    // stateless streaming encoder, bit-identical to the batch chain;
    // evaluated once, reused by the log write and the catalog merge
    val upserts = eff.where(col("new_live"))
    val enc = StreamOps.ivfPqEncodeProj(
        upserts.select(col("vec_id"), col("embedding")), cells, codebooks)
      .select(col("vec_id"), col("cell_id"), col("codes"))
      .localCheckpoint(eager = true)
    val codeRows = enc
      .select(col("vec_id"), col("cell_id"),
        posexplode(col("codes")).as(Seq("s", "j")))
      .join(upserts.select(col("vec_id"), col("ver")), "vec_id")
      .select(col("vec_id"), col("ver"), col("cell_id"),
        col("s").cast("int").as("s"), col("j"))
    // one marker row per superseded/deleted LIVE version, in the OLD
    // cell (the partition compaction must touch)
    val markers = eff.where(col("old_live"))
      .select(col("vec_id"), col("ver"), col("ccell").as("cell_id"),
        lit(null).cast("int").as("s"), lit(null).cast("long").as("j"))
    val logRows = codeRows.unionByName(markers)
      .localCheckpoint(eager = true)

    // 1. codes-log append — per-batch partition Overwrite + fast-skip
    val pMarker = java.nio.file.Paths.get(s"$baseDir/_codes-batch-$batchId")
    if (!java.nio.file.Files.exists(pMarker)) {
      if (!logRows.isEmpty)
        logRows.write.mode(SaveMode.Overwrite)
          .parquet(s"$baseDir/codes/batch=$batchId")
      java.nio.file.Files.createFile(pMarker)
    }

    // 2. catalog merge — LAST (see Bm25IndexView step ordering)
    val catalogDir = s"$baseDir/catalog"
    if (IndexFiles.lastApplied(catalogDir) < batchId) {
      val nc = eff.join(enc.select(col("vec_id"), col("cell_id")),
          Seq("vec_id"), "left")
        .select(col("vec_id"), col("ver"), col("new_live").as("live"),
          coalesce(col("cell_id"), lit(-1L)).as("cell_id"))
      val merged = cat.select(col("vec_id"), col("ver").as("v0"),
          col("live").as("l0"), col("cell_id").as("c0"))
        .join(nc.select(col("vec_id"), col("ver").as("v1"),
          col("live").as("l1"), col("cell_id").as("c1")),
          Seq("vec_id"), "full_outer")
        .select(col("vec_id"),
          coalesce(col("v1"), col("v0")).as("ver"),
          coalesce(col("l1"), col("l0")).as("live"),
          coalesce(col("c1"), col("c0")).as("cell_id"))
      IndexFiles.swapInWithMarker(merged, catalogDir, batchId)
    }
  }

  private def readCatalog(spark: SparkSession, baseDir: String): DataFrame = {
    val p = java.nio.file.Paths.get(s"$baseDir/catalog")
    if (java.nio.file.Files.exists(p))
      spark.read.parquet(p.toString).where(col("vec_id").isNotNull)
        .select(col("vec_id"), col("ver"), col("live"), col("cell_id"))
    else {
      import spark.implicits._
      Seq.empty[(Long, Long, Boolean, Long)]
        .toDF("vec_id", "ver", "live", "cell_id")
    }
  }

  /** The ERA stamp: geometry fingerprint of the frozen (cells,
    * codebooks). First writer stamps; every later writer must match. */
  private def requireEra(baseDir: String,
      cells: Seq[(Long, Seq[Double], Seq[Long])],
      codebooks: Seq[(Int, Long, Seq[Long])]): Unit = {
    val fp = StateGeometryGuard.ivfpq(cells, codebooks).render
    val stamp = java.nio.file.Paths.get(s"$baseDir/_era")
    if (java.nio.file.Files.exists(stamp)) {
      val have = new String(java.nio.file.Files.readAllBytes(stamp), "UTF-8")
      if (have != fp)
        throw new IllegalStateException(
          s"$baseDir was built under a different quantizer era: " +
            s"stored $have, writer holds $fp. Residual codes are only " +
            "meaningful against the geometry that produced them — " +
            "re-encode through a migration and fresh serve checkpoints.")
    } else java.nio.file.Files.write(stamp, fp.getBytes("UTF-8"))
  }

  private def rawCodes(spark: SparkSession, baseDir: String): DataFrame = {
    val batchZone = IndexFiles
      .listBatchDirs(java.nio.file.Paths.get(s"$baseDir/codes"))
      .map(p => spark.read.parquet(p.toString)
        .select(col("vec_id"), col("ver"), col("cell_id"), col("s"), col("j")))
    val base = java.nio.file.Paths.get(s"$baseDir/codes_compacted")
    val baseZone =
      if (!java.nio.file.Files.exists(base)) Nil
      else Seq(spark.read.parquet(base.toString)
        .select(col("vec_id"), col("ver"),
          col("cell_id").cast("long").as("cell_id"), col("s"), col("j")))
    val zones = batchZone ++ baseZone
    require(zones.nonEmpty, s"no codes under $baseDir")
    zones.reduce(_ unionByName _)
  }

  /** Restrict code rows to LIVE-LATEST: a row survives iff the
    * catalog head for its vector is live at exactly its version.
    * Marker rows (s NULL) are dropped. */
  private def currentRows(spark: SparkSession, baseDir: String,
      codes: DataFrame): DataFrame = {
    val cat = readCatalog(spark, baseDir)
      .select(col("vec_id"), col("ver").as("cver"), col("live").as("clive"))
    codes.where(col("s").isNotNull)
      .join(cat, Seq("vec_id"), "left")
      .where(col("clive") && col("ver") === col("cver"))
      .drop("cver", "clive")
  }

  /** The SERVED code table `(vec_id, s, j, cell_id)` — the exact
    * static-side frame [[StreamOps.ivfPqSearchStream]] /
    * [[StreamOps.hybridSearchStream]] consume, row-identical to the
    * batch residual index over the changelog's materialized latest
    * state (spec-pinned). */
  def servedIndex(spark: SparkSession, baseDir: String): DataFrame =
    currentRows(spark, baseDir, rawCodes(spark, baseDir))
      .select(col("vec_id"), col("s"), col("j"), col("cell_id"))

  /** COMPACTION: fold marker-committed log batches into the
    * cell-partitioned base, physically dropping superseded/deleted
    * rows. Touched partitions = the distinct cell_ids of the log
    * (marker rows carry the OLD cell of every superseded version, so
    * cross-cell updates touch both partitions); untouched cells stay
    * byte-identical. Crash-safe by the [[Bm25IndexView.compact]]
    * argument: only FULLY-COMMITTED batches fold — gated on the
    * CATALOG's `_applied_batch` (the last merge step), not merely the
    * codes marker, because a crash between marker and catalog commit
    * would otherwise let the fold drop the batch's rows against the
    * pre-batch catalog heads and delete the partition the replay
    * fast-skips (ADVICE r13) — the fold dedupes on (vec_id, s), and
    * batch markers survive so late replays of folded batches stay
    * skipped. Holds the `_compact-lease`; ingest batches landing
    * mid-fold are refused ([[IndexFiles.withCompactLease]]). */
  def compact(spark: SparkSession, baseDir: String): Unit =
    IndexFiles.withCompactLease(baseDir) {
      compactLocked(spark, baseDir)
    }

  private def compactLocked(spark: SparkSession, baseDir: String): Unit = {
    val committed = IndexFiles.lastApplied(s"$baseDir/catalog")
    val batchDirs = IndexFiles
      .listBatchDirs(java.nio.file.Paths.get(s"$baseDir/codes"))
      .filter { p =>
        val id = p.getFileName.toString.stripPrefix("batch=")
        id.toLong <= committed &&
          java.nio.file.Files.exists(
            java.nio.file.Paths.get(s"$baseDir/_codes-batch-$id"))
      }
    if (batchDirs.isEmpty) return
    val baseRoot = s"$baseDir/codes_compacted"
    val fresh = batchDirs
      .map(p => spark.read.parquet(p.toString)
        .select(col("vec_id"), col("ver"), col("cell_id"), col("s"), col("j")))
      .reduce(_ unionByName _)
      .localCheckpoint(eager = true)
    val touched = fresh.select("cell_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val existing =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(baseRoot)))
        spark.read.parquet(baseRoot)
          .withColumn("cell_id", col("cell_id").cast("long"))
          .where(col("cell_id").isin(touched: _*)) // partition-pruned
          .select("vec_id", "ver", "cell_id", "s", "j")
      else fresh.limit(0)
    val merged = currentRows(spark, baseDir, existing.unionByName(fresh))
      .dropDuplicates("vec_id", "s") // re-fold idempotency (values equal)
      .repartition(col("cell_id"))
      .localCheckpoint(eager = true)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try merged.write.mode(SaveMode.Overwrite)
      .partitionBy("cell_id").parquet(baseRoot)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    val kept = merged.select("cell_id").distinct()
      .collect().map(_.getLong(0)).toSet
    touched.filterNot(kept).foreach { c =>
      RenameSwap.deleteRecursively(java.nio.file.Paths.get(s"$baseRoot/cell_id=$c"))
    }
    batchDirs.foreach(RenameSwap.deleteRecursively)
  }

  /** CELL-SPLIT migration (VERDICT r12 #3): re-shard a maintained index
    * onto a GROWN cell set without a full rebuild. NCells is scale-aware
    * at build time (`Similarity.ivfCells` grows as √n) but frozen for a
    * maintained index's lifetime — at 100× corpus growth a frozen cell
    * count degrades probe selectivity n/NCells linearly. The cheap path
    * out exploits two facts: (a) routing depends only on the SEED
    * centroids, so old vectors re-route only if a new seed actually
    * beats their old cell; (b) residuals depend on the cell MEANS,
    * which are deterministic integer sums over membership — a cell
    * whose membership did not change reproduces its mean (and so all
    * its members' codes) bit-for-bit. The migration therefore touches
    * exactly the partitions of cells whose (seed, mean) changed or
    * that gained/lost members, re-encodes only vectors routed into a
    * touched cell, and leaves every other partition byte-identical —
    * a from-scratch build at the new cell set (same codebooks)
    * produces the identical table (spec-pinned).
    *
    * The residual CODEBOOKS stay frozen — they are a quantizer of the
    * residual space, consistent (if gradually suboptimal) across cell
    * growth; retraining them is the full re-encode of
    * [[migrateCodebooks]] (r14), deliberately not this path.
    *
    * Offline, stream stopped (like [[compact]]): compacts first, then
    * rewrites touched partitions, then the catalog, then the `_era`
    * stamp LAST — so a crash mid-migration leaves the old era stamped
    * and the re-run (old-era writers still refused? no: `newCells` is
    * re-presented) recomputes the same touched set against the
    * unchanged catalog and overwrites idempotently. Serve checkpoints
    * bound to the OLD geometry refuse the migrated index
    * ([[StateGeometryGuard]]); searches resume on fresh checkpoints.
    *
    * `corpus` is the current snapshot `(vec_id, embedding)` of the
    * ingested table (the changelog's materialized latest state) — the
    * maintained index stores codes, not vectors, so re-encoding needs
    * the source table, exactly like [[PqMigration.reencodedResidual]].
    * Returns the touched cell ids (observability + spec hook). */
  def migrateCellSplit(spark: SparkSession, baseDir: String,
      corpus: DataFrame,
      oldCells: Seq[(Long, Seq[Double], Seq[Long])],
      newCells: Seq[(Long, Seq[Double], Seq[Long])],
      codebooks: Seq[(Int, Long, Seq[Long])]): Set[Long] =
    IndexFiles.withCompactLease(baseDir) {
      migrateCellSplitLocked(spark, baseDir, corpus, oldCells, newCells,
        codebooks)
    }

  private def migrateCellSplitLocked(spark: SparkSession, baseDir: String,
      corpus: DataFrame,
      oldCells: Seq[(Long, Seq[Double], Seq[Long])],
      newCells: Seq[(Long, Seq[Double], Seq[Long])],
      codebooks: Seq[(Int, Long, Seq[Long])]): Set[Long] = {
    // refuse a writer whose old geometry is not what the index holds
    requireEra(baseDir, oldCells, codebooks)
    compactLocked(spark, baseDir) // all rows into the cell-partitioned base
    val baseRoot = s"$baseDir/codes_compacted"

    // cells whose seed or mean changed, plus brand-new ids
    val oldById = oldCells.map(c => c._1 -> c).toMap
    val geomChanged = newCells.filter { c =>
      oldById.get(c._1) match {
        case Some(o) => o._2 != c._2 || o._3 != c._3
        case None => true
      }
    }.map(_._1).toSet ++ oldById.keySet.diff(newCells.map(_._1).toSet)

    val cat = readCatalog(spark, baseDir)
    val live = cat.where(col("live"))
      .select(col("vec_id"), col("ver"), col("cell_id").as("old_cell"))
    // one routing+encode pass of the live corpus under the NEW cells —
    // the encoder is the stateless streaming projection, so codes are
    // bit-identical to a from-scratch batch build at the new cell set
    val enc = StreamOps.ivfPqEncodeProj(
        corpus.select(col("vec_id"), col("embedding")), cells = newCells,
        codebooks = codebooks)
      .select(col("vec_id"), col("cell_id").as("new_cell"), col("codes"))
      .join(live, "vec_id")
      .localCheckpoint(eager = true)
    require(enc.count() == live.count(),
      "corpus snapshot does not cover every live vector in the catalog")

    // touched = geometry-changed cells ∪ both ends of every moved vector
    val movedEnds = enc.where(col("new_cell") =!= col("old_cell"))
      .select(explode(array(col("new_cell"), col("old_cell"))).as("c"))
      .distinct().collect().map(_.getLong(0)).toSet
    val touched = geomChanged ++ movedEnds
    if (touched.nonEmpty) {
      val newRows = enc
        .where(col("new_cell").isin(touched.toSeq: _*))
        .select(col("vec_id"), col("ver"), col("new_cell").as("cell_id"),
          posexplode(col("codes")).as(Seq("s", "j")))
        .select(col("vec_id"), col("ver"), col("cell_id"),
          col("s").cast("int").as("s"), col("j"))
        .repartition(col("cell_id"))
        .localCheckpoint(eager = true)
      val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try newRows.write.mode(SaveMode.Overwrite)
        .partitionBy("cell_id").parquet(baseRoot)
      finally prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None =>
          spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      val kept = newRows.select("cell_id").distinct()
        .collect().map(_.getLong(0)).toSet
      touched.diff(kept).foreach { c =>
        RenameSwap.deleteRecursively(java.nio.file.Paths.get(s"$baseRoot/cell_id=$c"))
      }
    }
    // catalog follows the new routing (ver/liveness unchanged)
    val newCat = cat.join(
        enc.select(col("vec_id"), col("new_cell")), Seq("vec_id"), "left")
      .select(col("vec_id"), col("ver"), col("live"),
        coalesce(col("new_cell"), col("cell_id")).as("cell_id"))
    IndexFiles.swapInWithMarker(newCat, s"$baseDir/catalog",
      IndexFiles.lastApplied(s"$baseDir/catalog"))
    // era swap LAST: from here on, old-era writers and serve
    // checkpoints are refused
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$baseDir/_era"),
      StateGeometryGuard.ivfpq(newCells, codebooks).render.getBytes("UTF-8"))
    touched
  }

  /** CODEBOOK-RETRAIN migration (VERDICT r13 #3) — the last lifecycle
    * asymmetry: cell SPLITS migrate in place ([[migrateCellSplit]]),
    * but retrained residual CODEBOOKS used to mean refuse + full
    * rebuild. This is [[PqMigration]]'s re-encode discipline applied
    * to the maintained artifact, with the CELL SET frozen (routing
    * depends only on the cells, so the catalog — ver, liveness,
    * cell_id — is untouched and enforced unchanged):
    *
    *  - offline, stream stopped, `_compact-lease` held throughout;
    *  - compacts first (all rows into the cell-partitioned base);
    *  - re-encodes the LIVE-LATEST vectors — enumerable from the
    *    catalog without replaying the changelog — from the `corpus`
    *    snapshot under the new codebooks (the stateless streaming
    *    encoder: codes bit-identical to a from-scratch batch build);
    *  - rewrites every populated cell partition (every code changes —
    *    unlike a cell split there is no untouched-partition fast
    *    path; the write is the serving layout's one-file-per-cell);
    *  - swaps the `_era` stamp LAST: a crash mid-rewrite leaves the
    *    old era stamped and the RE-RUN (same old+new codebooks)
    *    recomputes identical rows and overwrites idempotently — the
    *    index must not serve between a crashed migration and its
    *    re-run (mixed-era partitions), the same offline contract as
    *    [[migrateCellSplit]].
    *
    * After the swap, old-era writers are refused by [[requireEra]] and
    * old-era serve checkpoints by [[StateGeometryGuard]]; searches
    * resume on fresh checkpoints. Returns the rewritten cell ids. */
  def migrateCodebooks(spark: SparkSession, baseDir: String,
      corpus: DataFrame,
      cells: Seq[(Long, Seq[Double], Seq[Long])],
      oldCodebooks: Seq[(Int, Long, Seq[Long])],
      newCodebooks: Seq[(Int, Long, Seq[Long])]): Set[Long] =
    IndexFiles.withCompactLease(baseDir) {
      // refuse a writer whose old geometry is not what the index holds
      requireEra(baseDir, cells, oldCodebooks)
      compactLocked(spark, baseDir)
      val baseRoot = s"$baseDir/codes_compacted"
      val cat = readCatalog(spark, baseDir)
      val live = cat.where(col("live"))
        .select(col("vec_id"), col("ver"), col("cell_id").as("old_cell"))
        .localCheckpoint(eager = true)
      val enc = StreamOps.ivfPqEncodeProj(
          corpus.select(col("vec_id"), col("embedding")), cells,
          newCodebooks)
        .select(col("vec_id"), col("cell_id"), col("codes"))
        .join(live, "vec_id")
        .localCheckpoint(eager = true)
      require(enc.count() == live.count(),
        "corpus snapshot does not cover every live vector in the catalog")
      // frozen cells ⇒ routing must be unchanged — enforced, not assumed
      require(enc.where(col("cell_id") =!= col("old_cell")).isEmpty,
        "cell routing moved under a codebook-only migration: the cell " +
          "set differs from the index's — use migrateCellSplit first")
      val newRows = enc
        .select(col("vec_id"), col("ver"), col("cell_id"),
          posexplode(col("codes")).as(Seq("s", "j")))
        .select(col("vec_id"), col("ver"), col("cell_id"),
          col("s").cast("int").as("s"), col("j"))
        .repartition(col("cell_id"))
        .localCheckpoint(eager = true)
      val kept: Set[Long] =
        if (newRows.isEmpty) Set.empty
        else {
          val prev =
            spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
          spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          try newRows.write.mode(SaveMode.Overwrite)
            .partitionBy("cell_id").parquet(baseRoot)
          finally prev match {
            case Some(v) =>
              spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
            case None =>
              spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
          }
          newRows.select("cell_id").distinct()
            .collect().map(_.getLong(0)).toSet
        }
      // post-compact the base holds live-latest only, so every on-disk
      // cell re-encodes; drop any straggler partition defensively
      import scala.jdk.CollectionConverters._
      val basePath = java.nio.file.Paths.get(baseRoot)
      if (java.nio.file.Files.exists(basePath))
        java.nio.file.Files.list(basePath).iterator().asScala.toSeq
          .filter(p => java.nio.file.Files.isDirectory(p)
            && p.getFileName.toString.startsWith("cell_id="))
          .filterNot(p => kept.contains(
            p.getFileName.toString.stripPrefix("cell_id=").toLong))
          .foreach(RenameSwap.deleteRecursively)
      // era swap LAST: old-era writers and serve checkpoints refused
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$baseDir/_era"),
        StateGeometryGuard.ivfpq(cells, newCodebooks).render
          .getBytes("UTF-8"))
      kept
    }
}
