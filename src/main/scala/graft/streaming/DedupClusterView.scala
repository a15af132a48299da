package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming duplicate CLUSTERING: maintain a cluster-labels table from a
  * stream of near-dup candidate pairs (the output of
  * [[StreamOps.neardupStream]] / [[StreamOps.embedNeardupStream]]). Each
  * micro-batch appends its pairs to an edge log, reclusters the full log
  * with star contraction ([[graft.operators.ConnectedComponents]]), and
  * atomically swaps the labels table — so `readLabels` always serves a
  * complete, transitively-closed view of every duplicate seen so far.
  *
  * Recluster-per-batch (not incremental per-key label state) is
  * deliberate: component labels are a GLOBAL property — one new edge can
  * relabel an entire component (its minimum changes) — so per-key
  * streaming state cannot maintain them without a global pass anyway.
  * The edge log is bounded by docs × bands (the upstream LSH gate plus
  * its hot-bucket cap), reclustering is O(edges) per round for O(log n)
  * rounds, and production dedup pipelines run exactly this
  * "append edges, periodically recluster" loop.
  *
  * Exactly-once: a batch-id marker makes replays no-ops. Even without
  * the marker the view is correct — duplicate edges do not change
  * connected components — the marker just keeps the log from growing
  * under retry loops. Crash windows: append-then-crash re-appends on
  * replay (harmless, above); swap is the same two-rename protocol as
  * [[CdcSink]] (readers see the old or the new table, never half).
  *
  * Labels cover nodes that appear in at least one pair; unseen docs are
  * singletons and label themselves — consumers `coalesce(label, id)`,
  * same contract as the batch `q_dedup_cluster` oracle's LEFT JOIN.
  */
object DedupClusterView {

  /** foreachBatch adapter:
    * `pairs.writeStream.foreachBatch(DedupClusterView.writer(dir)).start()` */
  def writer(baseDir: String): (DataFrame, Long) => Unit =
    (batch, batchId) => applyBatch(batch, batchId, baseDir)

  def applyBatch(pairs: DataFrame, batchId: Long, baseDir: String): Unit = {
    val spark = pairs.sparkSession
    new java.io.File(baseDir).mkdirs()
    val marker = java.nio.file.Paths.get(s"$baseDir/_batch-$batchId")
    if (java.nio.file.Files.exists(marker)) return // replay: already applied
    val edgesDir = s"$baseDir/edges"
    val batchPairs = pairs.toDF("a", "b")
    if (!batchPairs.isEmpty) {
      batchPairs.write.mode(SaveMode.Append).parquet(edgesDir)
      recluster(spark, baseDir)
    }
    java.nio.file.Files.createFile(marker)
  }

  /** Recluster the full edge log and swap the labels table in. */
  private def recluster(spark: SparkSession, baseDir: String): Unit = {
    val edges = spark.read.parquet(s"$baseDir/edges")
    val nodes = edges.select(col("a").as("id"))
      .union(edges.select(col("b").as("id")))
      .distinct()
    val labels = graft.operators.ConnectedComponents.labels(nodes, edges)
      .select(col("id").as("doc_id"), col("cluster_id"))

    RenameSwap.publish(s"$baseDir/labels",
      next => labels.write.mode(SaveMode.Overwrite).parquet(next))
  }

  /** The maintained view: (doc_id, cluster_id) for every doc that has
    * appeared in a candidate pair. */
  def readLabels(spark: SparkSession, baseDir: String): DataFrame =
    spark.read.parquet(s"$baseDir/labels")

  /** Maintenance: rewrite the edge log distinct — bands and batches
    * re-emit the same pair, and while duplicate edges never change the
    * clustering, they do grow the log the per-batch recluster reads.
    * Same atomic swap as the labels table; run from a maintenance
    * schedule, not the hot foreachBatch path (the same small-file story
    * as [[CdcSink.compact]]). */
  def compactEdges(spark: SparkSession, baseDir: String): Unit = {
    val edgesDir = s"$baseDir/edges"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(edgesDir))) return
    val distinctEdges = spark.read.parquet(edgesDir)
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    RenameSwap.publish(edgesDir,
      next => distinctEdges.write.mode(SaveMode.Overwrite).parquet(next))
  }
}
