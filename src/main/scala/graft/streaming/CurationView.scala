package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The END-TO-END maintained curation table: a stream of documents in
  * (a CDC changelog, an ingest feed), the per-document keep/drop VERDICT
  * table out — `q_dedup_verdict`'s columns (is_exact_dup, is_near_dup,
  * is_contaminated, verdict), continuously maintained.
  *
  * Per micro-batch: append the arriving docs to a doc log, recompute the
  * verdict over the FULL log (exact-dup windows, MinHash→connected-
  * components labels via [[graft.operators.TextOps.labelsFrom]], the
  * n-gram contamination gate), atomically swap the verdict table in.
  * Recompute-per-batch is deliberate, for the same reason as
  * [[DedupClusterView]]: every stage of the verdict is a GLOBAL property
  * — a new doc can demote an existing cluster representative, flip a
  * chunk from unique to boilerplate, or (as a new benchmark doc) newly
  * contaminate old docs — so per-key state cannot maintain it; the
  * production shape is exactly this "append, periodically re-curate"
  * loop, batched to taste.
  *
  * Exactly-once: batch-id markers make replays no-ops, and the log read
  * drops duplicate doc_ids defensively (an append-then-crash replay
  * would otherwise double a document and make it its own exact dup).
  * Swap: same two-rename protocol as [[DedupClusterView]]/CdcSink —
  * readers see the old or the new table, never half.
  */
object CurationView {

  /** foreachBatch adapter:
    * `docs.writeStream.foreachBatch(CurationView.writer(dir)).start()` */
  def writer(baseDir: String): (DataFrame, Long) => Unit =
    (batch, batchId) => applyBatch(batch, batchId, baseDir)

  def applyBatch(docs: DataFrame, batchId: Long, baseDir: String): Unit = {
    new java.io.File(baseDir).mkdirs()
    val marker = java.nio.file.Paths.get(s"$baseDir/_batch-$batchId")
    if (java.nio.file.Files.exists(marker)) return // replay: already applied
    val batchDocs = docs.select("doc_id", "text", "lang", "source", "n_chars")
    if (!batchDocs.isEmpty) {
      batchDocs.write.mode(SaveMode.Append).parquet(s"$baseDir/docs")
      recurate(docs.sparkSession, baseDir)
    }
    java.nio.file.Files.createFile(marker)
  }

  /** Recompute the verdict over the full accumulated log and swap. */
  private def recurate(spark: SparkSession, baseDir: String): Unit = {
    val log = spark.read.parquet(s"$baseDir/docs")
      .dropDuplicates("doc_id") // defensive vs append-then-crash replays
    val verdicts = graft.operators.TextOps.dedupVerdictFrom(
      log, graft.operators.TextOps.labelsFrom(log))
    swap(verdicts, s"$baseDir/verdicts")
  }

  /** Two-rename table swap ([[RenameSwap]]). Readers see the OLD table
    * or the NEW table, never a half-written mix — but there is a brief
    * not-found window between the two renames (and a crash between them
    * strands the table under `.old-*`/`.next-*`); a reader that hits it
    * should retry, which [[readVerdicts]] does. */
  private def swap(table: DataFrame, tableDir: String): Unit =
    RenameSwap.publish(tableDir,
      next => table.write.mode(SaveMode.Overwrite).parquet(next))

  /** The maintained view: one verdict row per document seen so far.
    * Retries around the read ITSELF (not just an existence pre-check —
    * a swap starting after the check would still hit the between-renames
    * not-found window; ADVICE r6), and eagerly resolves the file listing
    * so a pass here means the snapshot is readable. The returned frame
    * still re-lists lazily on action; callers racing a continuous writer
    * should consume it promptly, as the spec does. */
  def readVerdicts(spark: SparkSession, baseDir: String): DataFrame = {
    val path = s"$baseDir/verdicts"
    var attempt = 0
    while (true) {
      try {
        val df = spark.read.parquet(path)
        df.schema // forces file listing — the not-found surfaces HERE
        return df
      } catch {
        case e: org.apache.spark.sql.AnalysisException =>
          attempt += 1
          if (attempt >= 50) throw new IllegalStateException(
            s"verdicts table at $path unreadable after $attempt retries " +
              s"(is the maintainer running?)", e)
          Thread.sleep(20)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
