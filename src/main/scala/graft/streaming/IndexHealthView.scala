package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `s_index_health`: incrementally-maintained index-health table from
  * the vector INGEST stream — the streaming twin of the batch
  * `q_index_health`, closing the health leg of the lifecycle in both
  * modes (ingest `s_ivfpq_encode` → maintain `s_ivf_maintain` → serve
  * `s_ivfpq_search` → monitor `s_rerank_monitor` → HEALTH → migrate
  * `PqMigration`). Per micro-batch, each arriving vector's cell
  * assignment and quantization error fall out of the SAME encode
  * projection the ingest path runs ([[StreamOps.ivfPqEncodeProj]] —
  * the min-dist the assignment computes anyway, normally dropped), so
  * health costs one extra column on ingest, never a second corpus
  * pass. Per-cell `(n, inertia)` are COUNT/SUM monoids — increments
  * only under the append-only ingest contract — merged into the stored
  * table per batch.
  *
  * Exactly-once: the merged table swaps in atomically with its
  * `_applied_batch` marker INSIDE the new directory (the CdcAggView
  * two-rename discipline); a foreachBatch retry whose marker is
  * current is a no-op. The view binds the cells + codebook fingerprint
  * under `baseDir` at writer creation — health numbers are only
  * comparable within ONE quantizer era (inertia is measured against
  * those codewords), so a retrained index refuses an old table.
  *
  * The SERVED health frame derives at read time: shares and the macro
  * row are ratios OF the maintained monoids, so they are never stored
  * (nothing to rewrite as the corpus grows), exactly like the BM25
  * view's read-time df-cap.
  */
object IndexHealthView {

  private val ShareFx = 1048576L

  /** foreachBatch adapter — binds the index era at creation:
    * `vecs.writeStream.foreachBatch(IndexHealthView.writer(...)).start()` */
  def writer(baseDir: String,
      cells: Seq[(Long, Seq[Double], Seq[Long])],
      codebooks: Seq[(Int, Long, Seq[Long])]): (DataFrame, Long) => Unit = {
    new java.io.File(baseDir).mkdirs()
    StateGeometryGuard.bind(baseDir, StateGeometryGuard.ivfpq(cells, codebooks))
    (batch, batchId) => applyBatch(batch, batchId, baseDir, cells, codebooks)
  }

  def applyBatch(vecs: DataFrame, batchId: Long, baseDir: String,
      cells: Seq[(Long, Seq[Double], Seq[Long])],
      codebooks: Seq[(Int, Long, Seq[Long])]): Unit = {
    val spark = vecs.sparkSession
    val tableDir = s"$baseDir/health"
    if (IndexFiles.lastApplied(tableDir) >= batchId) return
    val batchAgg = StreamOps.ivfPqEncodeProj(vecs, cells, codebooks)
      .groupBy("cell_id")
      .agg(count(lit(1)).as("n_vecs"), sum("err").as("inertia_fx"))
    val current =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(tableDir)))
        spark.read.parquet(tableDir).where(col("cell_id").isNotNull)
      else batchAgg.limit(0)
    val merged = current
      .select(col("cell_id"), col("n_vecs").as("n_cur"),
        col("inertia_fx").as("i_cur"))
      .join(batchAgg.select(col("cell_id"), col("n_vecs").as("n_new"),
        col("inertia_fx").as("i_new")), Seq("cell_id"), "full_outer")
      .select(col("cell_id"),
        (coalesce(col("n_cur"), lit(0L)) + coalesce(col("n_new"), lit(0L)))
          .as("n_vecs"),
        (coalesce(col("i_cur"), lit(0L)) + coalesce(col("i_new"), lit(0L)))
          .as("inertia_fx"))
    IndexFiles.swapInWithMarker(merged, tableDir, batchId)
  }

  /** The health frame in `q_index_health`'s exact shape — per-cell
    * rows `(cell_id, n_vecs, share_fx, inertia_fx)` plus the
    * `cell_id = -1` macro row, shares derived at read time from the
    * maintained monoids. */
  def health(spark: SparkSession, baseDir: String): DataFrame = {
    val perCell = spark.read.parquet(s"$baseDir/health")
      .where(col("cell_id").isNotNull)
    val tot = perCell.agg(sum("n_vecs").as("n"), sum("inertia_fx").as("ti"))
    perCell.withColumn("one", lit(1))
      .join(broadcast(tot.withColumn("one", lit(1))), "one")
      .select(col("cell_id"), col("n_vecs"),
        expr(s"(n_vecs * $ShareFx) DIV n").as("share_fx"),
        col("inertia_fx"))
      .unionByName(tot.select(lit(-1L).as("cell_id"), col("n").as("n_vecs"),
        lit(ShareFx).as("share_fx"), col("ti").as("inertia_fx")))
      .orderBy("cell_id")
  }
}
