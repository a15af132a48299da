package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Commit protocol for publishing one new GENERATION of a materialized
  * table: `write` materializes the complete new generation into a fresh
  * staging location of the impl's choosing (it may reuse files of the
  * live generation by hard link or copy: a generation's files are never
  * modified in place); after `publish` returns, readers of `tableDir`
  * see exactly the new generation. Contract: readers never observe a mix
  * of generations, and a failure anywhere leaves the old generation
  * intact and visible.
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
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.deleteIfExists(_))
  }
}

/** The sink half of the CDC story: maintain a materialized latest-state
  * table from a changelog stream (the downstream a reference consumer
  * builds by hand around `read()`, reference `examples/main.cpp:29-43` —
  * here it's `writeStream.foreachBatch(CdcSink.applyChangelog(...))`).
  *
  * Merge semantics: across the stored state and every micro-batch, keep
  * the row with the greatest `(orderCols)` per key ([[latestPerKey]],
  * the one merge rule every path here uses) — the same compaction window
  * as `q_cdc_snapshot`/`q_cdc_merge`. Because "greatest version wins" is
  * a join-free property of the union, the merge is IDEMPOTENT:
  * re-applying a batch after a foreachBatch retry, or replaying an older
  * batch out of order, cannot regress the table (CdcSinkSpec pins both).
  *
  * Layout: merge-on-read, after the log-structured merge-tree. The table
  * directory holds one GENERATION:
  *  - a base: the parquet files of the last whole-table merge;
  *  - zero or more delta files `delta-<n>.parquet`, each one batch
  *    reduced to its latest row per key, tombstones kept;
  *  - the `_cdc_sink` metadata file: key column, order columns and the
  *    schema every file of the generation shares. Spark's file listing
  *    skips `_`-prefixed names.
  * A batch writes only its delta and reuses the previous generation's
  * files by hard link, so its cost follows the delta, not the table.
  * When the deltas' bytes reach the base's, the batch instead folds the
  * whole state into a new base; that bounds read and write amplification
  * at 2×. Readers merge base and deltas with the same rule.
  */
object CdcSink {

  /** One micro-batch application: merge `batch` (a static DataFrame, as
    * foreachBatch hands it over) into the parquet table at `tableDir`,
    * publishing exactly one complete new generation.
    *
    * The batch is reduced to its latest row per key and written as one
    * new delta file; the live generation's base and deltas are reused by
    * reference. The batch folds instead — one whole-table merge of base,
    * deltas and batch into a new base — when the table has no base
    * (first batch, or a table this sink did not write), when the deltas'
    * bytes have reached the base's, or when the batch's schema, key or
    * order columns differ from the generation's.
    *
    * A delete event WINS the merge (beating the stored row) and is then
    * RETAINED as a tombstone row (`__tombstone = true`, hidden by
    * readState) rather than dropped: if it were dropped, a replayed OLDER
    * insert would find no stored row to lose against and resurrect the
    * key. purgeTombstones() reclaims the space once the source's
    * committed-GTID watermark guarantees no replay can reach back past
    * the delete. MaxScale's update_before images should be pre-filtered
    * by the caller (the paired update_after is newer and carries the new
    * row).
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
    val b = tombstoned(batch, deleteWhen)
    val meta = Meta(keyCol, orderCols, b.schema)
    val gen = generation(tableDir)
    val fold = gen.base.isEmpty || !gen.meta.exists(_.sameLayout(meta)) ||
      gen.deltaBytes >= gen.baseBytes
    swap.publish(tableDir, { next =>
      if (fold)
        mergeInto(existingState(spark, tableDir, b), b, keyCol, orderCols)
          .write.mode(SaveMode.Overwrite).parquet(next)
      else {
        val to = Files.createDirectories(Paths.get(next))
        (gen.base ++ gen.deltas).foreach(f => reuse(f, to.resolve(f.getFileName)))
        val staging = to.resolve("_staging")
        latestPerKey(b, keyCol, orderCols).coalesce(1).write.parquet(staging.toString)
        dataFiles(staging).zipWithIndex.foreach { case (f, i) =>
          Files.move(f, to.resolve(f"$DeltaPrefix${gen.deltas.size + i}%05d.parquet"))
        }
        RenameSwap.deleteRecursively(staging)
      }
      writeMeta(next, meta)
    })
  }

  /** foreachBatch adapter: `stream.writeStream.foreachBatch(
    * CdcSink.writer(dir, "user_id", Seq("ts", "event_id"))).start()`. */
  def writer(tableDir: String, keyCol: String, orderCols: Seq[String],
      deleteWhen: Option[org.apache.spark.sql.Column] = None,
      swap: TableSwap = RenameSwap)
      : (DataFrame, Long) => Unit =
    (batch, _) =>
      applyChangelog(batch, tableDir, keyCol, orderCols, deleteWhen, swap)

  /** Current materialized state: base and deltas merged per key, and
    * tombstoned keys invisible. A generation without deltas is read as
    * its files, with no merge. */
  def readState(spark: SparkSession, tableDir: String): DataFrame = {
    val df = readStoredState(spark, tableDir)
    if (df.columns.contains("__tombstone"))
      df.where(!col("__tombstone")).drop("__tombstone")
    else df
  }

  /** The stored rows of the table at `tableDir`: the latest row per key
    * across base and deltas, tombstone rows included. Read through
    * `schema` when one is given (columns it lacks are dropped, columns
    * the files lack read as null). */
  def readStoredState(spark: SparkSession, tableDir: String,
      schema: Option[StructType] = None): DataFrame =
    storedRows(generation(tableDir),
      schema.fold(spark.read)(spark.read.schema(_)).parquet(tableDir))

  /** The one merge rule: per `keyCol`, the row with the greatest
    * `orderCols` (compared in order, each descending with nulls last). */
  private[streaming] def latestPerKey(
      df: DataFrame, keyCol: String, orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(orderCols.map(col(_).desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Bin-pack the state table into ~`targetFileBytes` files — the
    * maintenance job that counters per-batch small-file accumulation
    * (every micro-batch write adds files; a month of 1-minute batches is
    * 43k of them, and at 100 TB the NameNode/listing cost and the
    * per-file scan overhead both hurt). Deltas are folded into the new
    * base first; content is unchanged, tombstones are preserved (they are
    * still guarding against replays), and the atomic swap keeps readers
    * consistent. Run it from a maintenance schedule, not the hot
    * foreachBatch path. */
  def compact(
      spark: SparkSession, tableDir: String,
      targetFileBytes: Long = 128L << 20,
      swap: TableSwap = RenameSwap): Unit = {
    val dir = java.nio.file.Paths.get(tableDir)
    if (!java.nio.file.Files.exists(dir)) return
    val totalBytes = java.nio.file.Files.walk(dir).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map(java.nio.file.Files.size).sum
    val nFiles = math.max(1, math.ceil(
      totalBytes.toDouble / targetFileBytes).toInt)
    val gen = generation(tableDir)
    val raw = storedRows(gen, spark.read.parquet(tableDir))
    // preserve the hash-bucket layout (and its pruning) when present:
    // repartition ON the bucket so each bucket compacts to few files
    val bucketed = raw.columns.contains("__bucket")
    val df =
      if (bucketed) raw.repartition(nFiles, col("__bucket"))
      else raw.repartition(nFiles)
    swap.publish(tableDir, { next =>
      val w = df.write.mode(SaveMode.Overwrite)
      (if (bucketed) w.partitionBy("__bucket") else w).parquet(next)
      gen.meta.foreach(writeMeta(next, _))
    })
  }

  /** Drop retained tombstone rows — run once the source's committed-GTID
    * watermark guarantees no replay can deliver events older than the
    * deletes (until then a tombstone is what stops a replayed older
    * insert from resurrecting its key). Deltas are folded first, so a
    * delta's tombstone takes its key's base row with it. */
  def purgeTombstones(spark: SparkSession, tableDir: String,
      swap: TableSwap = RenameSwap): Unit = {
    val gen = generation(tableDir)
    val df = storedRows(gen, spark.read.parquet(tableDir))
    if (df.columns.contains("__tombstone")) {
      val live = df.where(!col("__tombstone"))
      swap.publish(tableDir, { next =>
        val w = live.write.mode(SaveMode.Overwrite)
        // keep the hash-bucket layout (and its pruning) when present
        (if (live.columns.contains("__bucket")) w.partitionBy("__bucket")
         else w).parquet(next)
        gen.meta.foreach(writeMeta(next, _))
      })
    }
  }

  /** Batch rows flagged with their tombstone status (always present so
    * stored and incoming schemas line up once a sink uses deletes; a
    * null condition is not a delete). */
  private def tombstoned(
      batch: DataFrame,
      deleteWhen: Option[org.apache.spark.sql.Column]): DataFrame =
    batch.withColumn("__tombstone",
      coalesce(deleteWhen.getOrElse(lit(false)), lit(false)))

  /** `incoming` merged into `stored` under [[latestPerKey]], in
    * `stored`'s column order. */
  private def mergeInto(stored: DataFrame, incoming: DataFrame,
      keyCol: String, orderCols: Seq[String]): DataFrame =
    latestPerKey(stored.unionByName(incoming.select(stored.columns.map(col): _*))
      // legacy tables written before delete support lack the column;
      // reading them through the new schema yields nulls — normalize
      .withColumn("__tombstone", coalesce(col("__tombstone"), lit(false))),
      keyCol, orderCols)

  // ------------------------------------------------------ generations

  private val MetaFile = "_cdc_sink"
  private val DeltaPrefix = "delta-"
  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** What a generation's deltas were reduced by, and the schema all its
    * files share. */
  private[streaming] final case class Meta(
      keyCol: String, orderCols: Seq[String], schema: StructType) {
    /** Same key, order and column names and types (nullability aside):
      * a batch with this layout can land as a delta. */
    def sameLayout(o: Meta): Boolean =
      keyCol == o.keyCol && orderCols == o.orderCols &&
        schema.map(f => (f.name, f.dataType)) ==
          o.schema.map(f => (f.name, f.dataType))
  }

  /** The files of the generation at a table directory; `meta` is None
    * for a missing directory or one this sink's [[applyChangelog]] did
    * not write. */
  private[streaming] final case class Generation(
      base: Seq[Path], deltas: Seq[Path], meta: Option[Meta]) {
    val baseBytes: Long = base.map(Files.size).sum
    val deltaBytes: Long = deltas.map(Files.size).sum
  }

  private[streaming] def generation(tableDir: String): Generation = {
    val dir = Paths.get(tableDir)
    val (deltas, base) = dataFiles(dir)
      .partition(_.getFileName.toString.startsWith(DeltaPrefix))
    val metaFile = dir.resolve(MetaFile)
    Generation(base, deltas,
      if (Files.isRegularFile(metaFile)) Some(readMeta(metaFile)) else None)
  }

  /** The regular files of `dir` that Spark reads (not `_`/`.`-prefixed);
    * none when `dir` is missing. */
  private def dataFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
      }.toList.sortBy(_.getFileName.toString)
      finally s.close()
    }

  /** Put an immutable file of the live generation into the next one:
    * a hard link, or a byte copy where the filesystem has none. */
  private def reuse(from: Path, to: Path): Unit =
    try Files.createLink(to, from)
    catch {
      case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
        Files.copy(from, to)
    }

  /** The generation's rows, latest per key: a merge only when it has
    * deltas. */
  private def storedRows(gen: Generation, raw: DataFrame): DataFrame =
    gen.meta match {
      case Some(m) if gen.deltas.nonEmpty => latestPerKey(raw, m.keyCol, m.orderCols)
      case _ => raw
    }

  private def writeMeta(dir: String, m: Meta): Unit = {
    val o = Json.createObjectNode()
    o.put("key", m.keyCol)
    val order = o.putArray("order")
    m.orderCols.foreach(order.add)
    o.set[com.fasterxml.jackson.databind.JsonNode]("schema", Json.readTree(m.schema.json))
    Files.write(Paths.get(dir, MetaFile), Json.writeValueAsBytes(o))
  }

  private def readMeta(p: Path): Meta = {
    val o = Json.readTree(Files.readAllBytes(p))
    Meta(o.get("key").asText, o.get("order").elements.asScala.map(_.asText).toList,
      DataType.fromJson(o.get("schema").toString).asInstanceOf[StructType])
  }

  // ------------------------------------------------------ bucketed state

  /** Hash-bucketed incremental merge: the stored table is laid out as
    * `__bucket=<pmod(xxhash64(key), n)>/` partition directories, and each
    * micro-batch rewrites ONLY the buckets its keys hash into — per-batch
    * cost is O(touched buckets), not O(table). Untouched bucket
    * directories are left byte-identical (spec-asserted) and reads prune
    * to the buckets they filter on; the merge in each touched bucket is
    * [[latestPerKey]].
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

    mergeInto(stored, withBucket, keyCol, orderCols).write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic") // replace touched only
      .partitionBy("__bucket")
      .parquet(tableDir)
  }

  /** Read the bucketed state without the layout column; tombstoned keys
    * are invisible. */
  def readBucketedState(spark: SparkSession, tableDir: String): DataFrame =
    readState(spark, tableDir).drop("__bucket")

  private def existingState(
      spark: SparkSession, tableDir: String, batch: DataFrame): DataFrame =
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(tableDir)))
      spark.read.schema(batch.schema).parquet(tableDir)
    else batch.limit(0)
}
