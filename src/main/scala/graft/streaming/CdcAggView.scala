package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Incrementally-maintained aggregate view over a CDC changelog: per
  * group, exact power sums `(n, Σv, Σv²)` — enough for count/sum/mean/
  * variance/stddev (see q_agg_stats) — updated from each micro-batch's
  * per-key diffs instead of re-aggregating the table.
  *
  * Diff semantics: the batch is compacted per key; a compacted row WINS
  * iff it is newer (by `orderCols`, struct-lexicographic) than the stored
  * state row for its key. A winning row contributes `+(group_new, v_new)`
  * and, if the key existed, `-(group_old, v_old)` — so updates that move
  * a key between groups shift its mass correctly. Accumulators are
  * DECIMAL, so increments and decrements cancel EXACTLY (float sums
  * would drift) and the view stays bit-equal to a from-scratch
  * re-aggregation (spec-pinned).
  *
  * Exactly-once: the applied batchId is written INSIDE the new view
  * directory before the atomic swap, so view content and marker commit
  * together. On a foreachBatch retry (same batchId) the view step is
  * skipped; the state merge it precedes is idempotent on its own
  * (CdcSinkSpec). Apply order per batch: view first (it needs the
  * PRE-merge state to compute diffs), then state — a crash between the
  * two re-runs only the idempotent half.
  *
  * Scale: the diff join reads the whole stored state through
  * [[CdcSink.readStoredState]] (base and deltas merged per key when the
  * state has deltas), so its cost follows the table, not the batch; the
  * view merge touches |touched groups| rows. This is the q_agg_stats
  * scaladoc's "power sums merge associatively" turned into a running
  * pipeline.
  */
object CdcAggView {

  private val S1 = DecimalType(28, 2)
  private val S2 = DecimalType(38, 4)

  /** One micro-batch: update the view at `aggDir` from `batch` and the
    * PRE-merge state at `stateDir`, then merge `batch` into the state
    * via [[CdcSink.applyChangelog]]. */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      stateDir: String,
      aggDir: String,
      keyCol: String,
      orderCols: Seq[String],
      groupCol: String,
      valueCol: String): Unit = {
    val spark = batch.sparkSession
    if (IndexFiles.lastApplied(aggDir) < batchId) {
      val delta = CdcSink.latestPerKey(batch, keyCol, orderCols)

      val stored =
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(stateDir)))
          CdcSink.readStoredState(spark, stateDir, Some(batch.schema))
        else batch.limit(0)

      // rename the stored side up front: `stored` can share delta's plan
      // (first batch: batch.limit(0)), making frame-qualified refs
      // ambiguous under Spark's self-join detection
      val oCols = stored.columns.map(c => col(c).as(s"__o_$c"))
      val joined = delta.join(stored.select(oCols.toIndexedSeq: _*),
          col(keyCol) === col(s"__o_$keyCol"), "left_outer")
        .where(col(s"__o_$keyCol").isNull ||
          struct(orderCols.map(col): _*) >
            struct(orderCols.map(c => col(s"__o_$c")): _*))

      val plus = joined.select(
        col(groupCol).as("g"), lit(1L).as("dn"),
        col(valueCol).cast(S1).as("ds1"),
        (col(valueCol).cast(S1) * col(valueCol).cast(S1)).cast(S2).as("ds2"))
      val minus = joined.where(col(s"__o_$keyCol").isNotNull).select(
        col(s"__o_$groupCol").as("g"), lit(-1L).as("dn"),
        (-col(s"__o_$valueCol").cast(S1)).as("ds1"),
        (-(col(s"__o_$valueCol").cast(S1) * col(s"__o_$valueCol").cast(S1)))
          .cast(S2).as("ds2"))

      val aggDelta = plus.unionByName(minus).groupBy("g")
        .agg(sum("dn").as("dn"),
          sum("ds1").cast(S1).as("ds1"), sum("ds2").cast(S2).as("ds2"))

      val current =
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(aggDir)))
          spark.read.parquet(aggDir)
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("g",
              batch.schema(groupCol).dataType),
            org.apache.spark.sql.types.StructField("n",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("s1", S1),
            org.apache.spark.sql.types.StructField("s2", S2))))

      val merged = current.alias("c")
        .join(aggDelta.alias("d"), col("c.g") === col("d.g"), "full_outer")
        .select(
          coalesce(col("c.g"), col("d.g")).as("g"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          (coalesce(col("s1"), lit(0).cast(S1)) +
            coalesce(col("ds1"), lit(0).cast(S1))).cast(S1).as("s1"),
          (coalesce(col("s2"), lit(0).cast(S2)) +
            coalesce(col("ds2"), lit(0).cast(S2))).cast(S2).as("s2"))
        .where(col("n") > 0)

      IndexFiles.swapInWithMarker(merged, aggDir, batchId)
    }
    CdcSink.applyChangelog(batch, stateDir, keyCol, orderCols)
  }

  /** foreachBatch adapter. */
  def writer(
      stateDir: String, aggDir: String, keyCol: String,
      orderCols: Seq[String], groupCol: String, valueCol: String)
      : (DataFrame, Long) => Unit =
    (batch, id) => applyBatch(
      batch, id, stateDir, aggDir, keyCol, orderCols, groupCol, valueCol)

  /** The view: (g, n, s1, s2) per group. */
  def read(spark: org.apache.spark.sql.SparkSession, aggDir: String): DataFrame =
    spark.read.parquet(aggDir).where(col("g").isNotNull)
}
