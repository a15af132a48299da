package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The sink half of the CDC story: maintain a materialized latest-state
  * table from a changelog stream (the downstream a reference consumer
  * builds by hand around `read()`, reference `examples/main.cpp:29-43` —
  * here it's `writeStream.foreachBatch(CdcSink.applyChangelog(...))`).
  *
  * Merge semantics: union the stored state with the micro-batch, keep the
  * row with the greatest `(orderCols)` per key — the same compaction
  * window as `q_cdc_snapshot`/`q_cdc_merge`. Because "greatest version
  * wins" is a join-free property of the union, the merge is IDEMPOTENT:
  * re-applying a batch after a foreachBatch retry, or replaying an older
  * batch out of order, cannot regress the table (CdcSinkSpec pins both).
  *
  * Scale shape: per batch, one shuffle of (stored ∪ delta) on the key.
  * At 100 TB the stored side dominates, so production deployments bucket
  * the stored table by the key and merge per-partition (StorageSpec's
  * bucketed-join shape), or delegate the swap to a transactional table
  * format; the atomic-directory-swap here is the single-writer stand-in
  * for that commit protocol — the MERGE computation is identical.
  */
/** Commit protocol for publishing one new GENERATION of a materialized
  * table: `write` materializes the complete new contents into a fresh
  * staging location of the impl's choosing; after `publish` returns,
  * readers of `tableDir` see exactly the new generation. Contract:
  * readers never observe a mix of generations, and a failure anywhere
  * leaves the old generation intact and visible.
  *
  * [[RenameSwap]] is the filesystem stand-in (two renames — the
  * single-writer protocol this sink ships with); at 100 TB the same
  * merge drives a transactional table format whose metadata commit IS
  * `publish` (CdcSinkSpec's transactional fake pins the seam with an
  * atomic pointer swap over immutable generation directories). */
trait TableSwap {
  def publish(tableDir: String, write: String => Unit): Unit
}

/** Two-rename swap on a real filesystem: write `<dir>.next-<nanos>`,
  * retire the live dir to `<dir>.old-<nanos>`, promote next, delete old.
  * A reader never observes a half-written table; a crash mid-swap leaves
  * either the old or the new table, both complete. */
object RenameSwap extends TableSwap {
  override def publish(tableDir: String, write: String => Unit): Unit = {
    val dir  = java.nio.file.Paths.get(tableDir)
    val next = java.nio.file.Paths.get(tableDir + ".next-" + System.nanoTime())
    val old  = java.nio.file.Paths.get(tableDir + ".old-" + System.nanoTime())
    write(next.toString)
    if (java.nio.file.Files.exists(dir))
      java.nio.file.Files.move(dir, old)
    java.nio.file.Files.move(next, dir)
    deleteRecursively(old)
  }

  /** Delete a directory tree, deepest entries first; a missing `p` is
    * a no-op. */
  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.deleteIfExists(_))
  }
}

object CdcSink {

  /** One micro-batch application: merge `batch` (a static DataFrame, as
    * foreachBatch hands it over) into the parquet table at `tableDir`.
    *
    * Publication goes through `swap` ([[TableSwap]]): the default
    * [[RenameSwap]] stages to `<tableDir>.next-<nanos>` and swaps with
    * two renames; a transactional deployment passes its own impl and the
    * merge computation is untouched. */
  def applyChangelog(
      batch: DataFrame,
      tableDir: String,
      keyCol: String,
      orderCols: Seq[String],
      deleteWhen: Option[org.apache.spark.sql.Column] = None,
      swap: TableSwap = RenameSwap): Unit = {
    val spark = batch.sparkSession
    val w = Window.partitionBy(col(keyCol))
      .orderBy(orderCols.map(col(_).desc): _*)
    val b = tombstoned(batch, deleteWhen)
    val current = existingState(spark, tableDir, b)
    val merged0 = current.unionByName(b.select(current.columns.map(col): _*))
      // legacy tables written before delete support lack the column;
      // reading them through the new schema yields nulls — normalize
      .withColumn("__tombstone", coalesce(col("__tombstone"), lit(false)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    // A delete event WINS the merge (beating the stored row) and is then
    // RETAINED as a tombstone row (`__tombstone = true`, hidden by
    // readState) rather than dropped: if it were dropped, a replayed
    // OLDER insert would find no stored row to lose against and
    // resurrect the key. purgeTombstones() reclaims the space once the
    // source's committed-GTID watermark guarantees no replay can reach
    // back past the delete. MaxScale's update_before images should be
    // pre-filtered by the caller (the paired update_after is newer and
    // carries the new row).
    val merged = merged0

    swap.publish(tableDir,
      next => merged.write.mode(SaveMode.Overwrite).parquet(next))
  }

  /** foreachBatch adapter: `stream.writeStream.foreachBatch(
    * CdcSink.writer(dir, "user_id", Seq("ts", "event_id"))).start()`. */
  def writer(tableDir: String, keyCol: String, orderCols: Seq[String],
      deleteWhen: Option[org.apache.spark.sql.Column] = None,
      swap: TableSwap = RenameSwap)
      : (DataFrame, Long) => Unit =
    (batch, _) =>
      applyChangelog(batch, tableDir, keyCol, orderCols, deleteWhen, swap)

  /** Current materialized state: tombstoned keys are invisible. */
  def readState(spark: SparkSession, tableDir: String): DataFrame = {
    val df = spark.read.parquet(tableDir)
    if (df.columns.contains("__tombstone"))
      df.where(!col("__tombstone")).drop("__tombstone")
    else df
  }

  /** Bin-pack the state table into ~`targetFileBytes` files — the
    * maintenance job that counters per-batch small-file accumulation
    * (every micro-batch write adds files; a month of 1-minute batches is
    * 43k of them, and at 100 TB the NameNode/listing cost and the
    * per-file scan overhead both hurt). Content is unchanged, tombstones
    * are preserved (they are still guarding against replays), and the
    * atomic swap keeps readers consistent. Run it from a maintenance
    * schedule, not the hot foreachBatch path. */
  def compact(
      spark: SparkSession, tableDir: String,
      targetFileBytes: Long = 128L << 20,
      swap: TableSwap = RenameSwap): Unit = {
    val dir = java.nio.file.Paths.get(tableDir)
    if (!java.nio.file.Files.exists(dir)) return
    import scala.jdk.CollectionConverters._
    val totalBytes = java.nio.file.Files.walk(dir).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map(java.nio.file.Files.size).sum
    val nFiles = math.max(1, math.ceil(
      totalBytes.toDouble / targetFileBytes).toInt)
    val raw = spark.read.parquet(tableDir)
    // preserve the hash-bucket layout (and its pruning) when present:
    // repartition ON the bucket so each bucket compacts to few files
    val bucketed = raw.columns.contains("__bucket")
    val df =
      if (bucketed) raw.repartition(nFiles, col("__bucket"))
      else raw.repartition(nFiles)
    swap.publish(tableDir, { next =>
      val w = df.write.mode(SaveMode.Overwrite)
      (if (bucketed) w.partitionBy("__bucket") else w).parquet(next)
    })
  }

  /** Drop retained tombstone rows — run once the source's committed-GTID
    * watermark guarantees no replay can deliver events older than the
    * deletes (until then a tombstone is what stops a replayed older
    * insert from resurrecting its key). */
  def purgeTombstones(spark: SparkSession, tableDir: String,
      swap: TableSwap = RenameSwap): Unit = {
    val df = spark.read.parquet(tableDir)
    if (df.columns.contains("__tombstone")) {
      val live = df.where(!col("__tombstone"))
      swap.publish(tableDir, { next =>
        val w = live.write.mode(SaveMode.Overwrite)
        // keep the hash-bucket layout (and its pruning) when present
        (if (live.columns.contains("__bucket")) w.partitionBy("__bucket")
         else w).parquet(next)
      })
    }
  }

  /** Batch rows flagged with their tombstone status (always present so
    * stored and incoming schemas line up once a sink uses deletes). */
  private def tombstoned(
      batch: DataFrame,
      deleteWhen: Option[org.apache.spark.sql.Column]): DataFrame =
    batch.withColumn("__tombstone",
      deleteWhen.getOrElse(lit(false)))

  // ------------------------------------------------------ bucketed state

  /** Hash-bucketed incremental merge: the stored table is laid out as
    * `__bucket=<pmod(xxhash64(key), n)>/` partition directories, and each
    * micro-batch rewrites ONLY the buckets its keys hash into — per-batch
    * cost is O(touched buckets), not O(table). [[applyChangelog]]'s
    * whole-table rewrite is the simple, fully-atomic variant; this is
    * what you run when the table is 100 TB and a batch touches 0.1% of
    * keys: untouched bucket directories are left byte-identical
    * (spec-asserted) and reads prune to the buckets they filter on.
    *
    * Visibility is per-bucket (Spark's dynamic partition overwrite swaps
    * each partition dir independently); a reader can observe bucket A
    * merged before bucket B. CDC consumers tolerate that the same way
    * they tolerate reading mid-batch state from any non-transactional
    * store; at production scale the same merge drives a transactional
    * table format's partition-level commit instead. */
  def applyChangelogBucketed(
      batch: DataFrame,
      tableDir: String,
      keyCol: String,
      orderCols: Seq[String],
      numBuckets: Int = 64,
      deleteWhen: Option[org.apache.spark.sql.Column] = None): Unit = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    val spark = batch.sparkSession
    val withBucket = tombstoned(batch, deleteWhen).withColumn(
      "__bucket", pmod(xxhash64(col(keyCol)), lit(numBuckets)))
    // bounded by numBuckets (a constant), not by batch or table size
    val touched = withBucket.select("__bucket").distinct()
      .collect().map(_.getLong(0))
    if (touched.isEmpty) return

    val dir = java.nio.file.Paths.get(tableDir)
    val stored =
      if (java.nio.file.Files.exists(dir))
        spark.read.schema(withBucket.schema).parquet(tableDir)
          .where(col("__bucket").isin(touched: _*)) // partition-pruned scan
      else withBucket.limit(0)

    val w = Window.partitionBy(col(keyCol))
      .orderBy(orderCols.map(col(_).desc): _*)
    val merged = stored
      .unionByName(withBucket.select(stored.columns.map(col): _*))
      .withColumn("__tombstone", coalesce(col("__tombstone"), lit(false)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")

    merged.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic") // replace touched only
      .partitionBy("__bucket")
      .parquet(tableDir)
  }

  /** foreachBatch adapter for the bucketed variant. */
  def bucketedWriter(
      tableDir: String, keyCol: String, orderCols: Seq[String],
      numBuckets: Int = 64): (DataFrame, Long) => Unit =
    (batch, _) =>
      applyChangelogBucketed(batch, tableDir, keyCol, orderCols, numBuckets)

  /** Read the bucketed state without the layout column; tombstoned keys
    * are invisible. */
  def readBucketedState(spark: SparkSession, tableDir: String): DataFrame = {
    val df = spark.read.parquet(tableDir).drop("__bucket")
    if (df.columns.contains("__tombstone"))
      df.where(!col("__tombstone")).drop("__tombstone")
    else df
  }

  private def existingState(
      spark: SparkSession, tableDir: String, batch: DataFrame): DataFrame =
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(tableDir)))
      spark.read.schema(batch.schema).parquet(tableDir)
    else batch.limit(0)
}
