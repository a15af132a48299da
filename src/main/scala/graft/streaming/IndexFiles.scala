package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Shared file discipline of the maintained-index views
  * ([[Bm25IndexView]], [[VecIndexView]]): per-batch log partitions,
  * the two-rename atomic swap with the `_applied_batch` marker INSIDE
  * the new directory, and recursive deletes. Also used by
  * [[CdcAggView]] and [[IndexHealthView]]. */
private[streaming] object IndexFiles {

  def listBatchDirs(logRoot: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.exists(logRoot)) Nil
    else java.nio.file.Files.list(logRoot).iterator().asScala.toSeq
      .filter(p => java.nio.file.Files.isDirectory(p)
        && p.getFileName.toString.startsWith("batch="))
      .sortBy(_.getFileName.toString)
  }

  def lastApplied(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir, "_applied_batch")
    if (java.nio.file.Files.exists(p))
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim.toLong
    else -1L
  }

  /** Publish `df` as the new generation of `dir` through [[RenameSwap]];
    * the marker is written into the staged directory, so it commits
    * atomically with the data it describes. */
  def swapInWithMarker(df: DataFrame, dir: String, batchId: Long): Unit =
    RenameSwap.publish(dir, { next =>
      df.write.mode(SaveMode.Overwrite).parquet(next)
      java.nio.file.Files.write(java.nio.file.Paths.get(next, "_applied_batch"),
        batchId.toString.getBytes("UTF-8"))
    })

  // ---------------------------------------------------------------
  // Compact/ingest mutual-exclusion lease. The views' compactions
  // read the catalog and the log "as of one moment" — an ingest batch
  // landing mid-fold could commit a catalog head whose postings the
  // fold never saw. That contract used to be prose; like every other
  // misuse in this codebase (era stamps, legacy mutation, checkpoint
  // guards) it now fails loudly: compact holds `_compact-lease`
  // (host|pid|ts) for its duration, ingest batches check-and-refuse a
  // live lease, and a lease left by a crashed compactor is STALE —
  // same-host dead pid, or older than [[LeaseTtlMs]] — and is
  // recovered (deleted) by whoever trips over it.
  // ---------------------------------------------------------------

  /** A cross-host lease older than this is presumed crashed (pid
    * liveness is only checkable on the compactor's own host). */
  val LeaseTtlMs: Long = 60L * 60 * 1000

  private def leasePath(baseDir: String): java.nio.file.Path =
    java.nio.file.Paths.get(s"$baseDir/_compact-lease")

  private def localHost: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: Throwable => "unknown-host" }

  private def readLease(p: java.nio.file.Path): Option[(String, Long, Long)] =
    if (!java.nio.file.Files.exists(p)) None
    else try {
      val parts = new String(
        java.nio.file.Files.readAllBytes(p), "UTF-8").trim.split('|')
      Some((parts(0), parts(1).toLong, parts(2).toLong))
    } catch { case _: Throwable => Some(("unparseable", -1L, 0L)) }

  private def isStale(l: (String, Long, Long)): Boolean = {
    val (host, pid, ts) = l
    val dead = host == localHost && {
      val h = ProcessHandle.of(pid)
      !(h.isPresent && h.get.isAlive)
    }
    dead || System.currentTimeMillis() - ts > LeaseTtlMs
  }

  /** Ingest-side check: refuse the batch while a LIVE compaction holds
    * the lease; silently recover (delete) a stale one. */
  def refuseIfCompacting(baseDir: String, what: String): Unit = {
    val p = leasePath(baseDir)
    readLease(p) match {
      case Some(l) if !isStale(l) =>
        throw new IllegalStateException(
          s"$what refused: a compaction holds the lease on $baseDir " +
            s"(host=${l._1} pid=${l._2} since epoch-ms ${l._3}). Compaction " +
            "and ingest must not interleave — retry after it completes; " +
            "if the compactor crashed, the lease goes stale and is " +
            "recovered automatically.")
      case Some(_) => java.nio.file.Files.deleteIfExists(p) // stale: recover
      case None    => ()
    }
  }

  /** Compact-side guard: acquire the lease (atomically — two live
    * compactors racing is refused), run `body`, release. A stale
    * lease from a crashed compactor is recovered on the way in. */
  def withCompactLease[A](baseDir: String)(body: => A): A = {
    val p = leasePath(baseDir)
    readLease(p) match {
      case Some(l) if !isStale(l) =>
        throw new IllegalStateException(
          s"compaction refused: another compaction holds the lease on " +
            s"$baseDir (host=${l._1} pid=${l._2} since epoch-ms ${l._3}).")
      case Some(_) => java.nio.file.Files.deleteIfExists(p)
      case None    => ()
    }
    val content = s"$localHost|${ProcessHandle.current().pid()}|" +
      s"${System.currentTimeMillis()}"
    java.nio.file.Files.write(p, content.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    try body finally java.nio.file.Files.deleteIfExists(p)
  }
}
