package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Test-only transactional commit fake (the TableSwap seam's second
  * implementation): generations are IMMUTABLE directories and the table
  * path is a SYMLINK atomically repointed at commit — the pointer-swap a
  * transactional table format's metadata commit performs. Readers
  * resolve through the link, so they observe exactly one committed
  * generation; a crash before the pointer move leaves the old
  * generation visible and the orphan staging dir unreachable. */
object TransactionalFakeSwap extends TableSwap {
  val commits = new java.util.concurrent.atomic.AtomicLong
  override def publish(tableDir: String, write: String => Unit): Unit = {
    import java.nio.file.{Files, LinkOption, Paths, StandardCopyOption}
    val dir = Paths.get(tableDir)
    val gen = Paths.get(tableDir + ".gen-" + System.nanoTime())
    write(gen.toString)
    // a pre-existing REAL directory (table created by another swap impl)
    // becomes the retiring generation
    if (Files.exists(dir, LinkOption.NOFOLLOW_LINKS) &&
        !Files.isSymbolicLink(dir))
      Files.move(dir, Paths.get(tableDir + ".gen-pre-" + System.nanoTime()))
    // commit = atomic pointer move (relative target: same parent dir)
    val ptr = Paths.get(tableDir + ".ptr-" + System.nanoTime())
    Files.createSymbolicLink(ptr, gen.getFileName)
    Files.move(ptr, dir, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    commits.incrementAndGet()
  }
}

/** Test-only TableSwap wrapper that records the files of the staging
  * generation at the moment its write callback throws, then rethrows:
  * it shows where in the write a failure struck. */
final class StagingProbeSwap(inner: TableSwap) extends TableSwap {
  @volatile var stagedAtFailure: Option[Set[String]] = None
  override def publish(tableDir: String, write: String => Unit): Unit =
    inner.publish(tableDir, { next =>
      try write(next)
      catch {
        case e: Throwable =>
          import scala.jdk.CollectionConverters._
          val s = java.nio.file.Files.list(java.nio.file.Paths.get(next))
          stagedAtFailure =
            try Some(s.iterator().asScala.map(_.getFileName.toString).toSet)
            finally s.close()
          throw e
      }
    })
}

/** The sink half of the CDC pipeline: changelog stream in, maintained
  * latest-state parquet table out, via foreachBatch + idempotent merge. */
class CdcSinkSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private def freshDir(): String = {
    val d = java.nio.file.Files
      .createTempDirectory(SparkSpec.localDir.toPath, "cdc-sink-")
    java.nio.file.Files.delete(d)
    d.toString
  }

  test("stream -> foreachBatch sink equals full recompaction of the log") {
    val dir = freshDir()
    val in = MemoryStream[Ev](spark)
    val q = in.toDF().writeStream
      .foreachBatch(CdcSink.writer(dir, "user_id", Seq("ts", "event_id")))
      .start()
    try {
      in.addData(
        Ev(1, 1, ts(0), "insert"), Ev(2, 2, ts(1), "insert"),
        Ev(3, 1, ts(2), "update"))
      q.processAllAvailable()
      in.addData(
        Ev(4, 2, ts(3), "update"), Ev(5, 3, ts(4), "insert"))
      q.processAllAvailable()

      val state = CdcSink.readState(spark, dir)
        .select("user_id", "event_id", "event_type")
        .as[(Long, Long, String)].collect().toSet
      // latest per user across BOTH batches
      assert(state == Set(
        (1L, 3L, "update"), (2L, 4L, "update"), (3L, 5L, "insert")))
    } finally q.stop()
  }

  test("merge is idempotent under batch retry and old-batch replay") {
    val dir = freshDir()
    val newer = Seq(
      Ev(10, 1, ts(5), "update"), Ev(11, 2, ts(6), "update"))
      .toDF()
    val older = Seq(Ev(1, 1, ts(0), "insert")).toDF()

    CdcSink.applyChangelog(newer, dir, "user_id", Seq("ts", "event_id"))
    val after1 = CdcSink.readState(spark, dir).collect().toSet

    // foreachBatch retry: the exact same batch applied again
    CdcSink.applyChangelog(newer, dir, "user_id", Seq("ts", "event_id"))
    assert(CdcSink.readState(spark, dir).collect().toSet == after1)

    // out-of-order replay of an OLDER version must not regress the table
    CdcSink.applyChangelog(older, dir, "user_id", Seq("ts", "event_id"))
    val after3 = CdcSink.readState(spark, dir)
      .select("user_id", "event_id").as[(Long, Long)].collect().toMap
    assert(after3(1L) == 10L, s"older replay regressed user 1: $after3")
  }

  test("wire to table: maxscale-cdc source -> CdcSink materializes state") {
    import graft.sources.MockMaxScaleServer
    import MockMaxScaleServer.{Schema, event}
    val dir = freshDir()
    val srv = new MockMaxScaleServer(Schema, Seq(
      event(1, "insert", 1, "v1"),
      event(2, "insert", 2, "w1"),
      event(3, "update_after", 1, "v2")))
    try {
      val cdc = spark.readStream.format("maxscale-cdc")
        .option("host", "127.0.0.1").option("port", srv.port)
        .option("user", "u").option("password", "p")
        .option("table", "db.t").option("timeoutSeconds", 1)
        .load()
      val q = cdc.writeStream
        .foreachBatch(CdcSink.writer(dir, "id", Seq("sequence")))
        .start()
      try {
        org.scalatest.concurrent.Eventually.eventually(
          org.scalatest.concurrent.Eventually.timeout(
            org.scalatest.time.Span(20, org.scalatest.time.Seconds))) {
          q.processAllAvailable()
          val state = CdcSink.readState(spark, dir)
            .select("id", "name", "event_type")
            .as[(Int, String, String)].collect().toSet
          assert(state == Set(
            (1, "v2", "update_after"), (2, "w1", "insert")))
        }
      } finally q.stop()
    } finally srv.close()
  }

  test("s_scd2: closed versions stream out; late rows never rewrite history") {
    val in = MemoryStream[Ev](spark)
    val hist = StreamOps.scd2History[Long, Ev](
      in.toDS(), _.user_id, _.ts.getTime)
      .map { case (ev, validTo) => (ev.user_id, ev.event_id, validTo) }
    val q = hist.writeStream.format("memory").queryName("s_scd2")
      .outputMode("append").start()
    try {
      in.addData(
        Ev(1, 1, ts(0), "insert"), Ev(2, 1, ts(2), "update"),
        Ev(3, 2, ts(1), "insert"))
      q.processAllAvailable()
      val t1 = spark.table("s_scd2").as[(Long, Long, Long)].collect().toSet
      // user 1's first version closed at ts(2); user 2 still open
      assert(t1 == Set((1L, 1L, ts(2).getTime)))

      in.addData(Ev(4, 1, ts(5), "update"), Ev(5, 2, ts(6), "update"))
      q.processAllAvailable()
      val t2 = spark.table("s_scd2").as[(Long, Long, Long)].collect().toSet
      assert(t2 == Set(
        (1L, 1L, ts(2).getTime), (1L, 2L, ts(5).getTime),
        (2L, 3L, ts(6).getTime)))

      // a LATE row (before user 1's open version) is dropped, not applied
      in.addData(Ev(6, 1, ts(3), "late"))
      q.processAllAvailable()
      assert(spark.table("s_scd2").count() == 3)
    } finally q.stop()
  }

  test("s_scd2 equals the batch q_scd2 closed rows over the same log") {
    import graft.operators.Cdc
    // batch twin over the events table at sf0.001
    val batchClosed = Cdc.qScd2.build(spark, sf)
      .filter(col("is_current") === 0)
      .select("user_id", "event_id", "valid_to_us")
      .as[(Long, Long, Long)].collect().toSet

    val events = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .as[Ev].collect().toSeq

    // exact epoch-µs (Timestamp.getTime is ms-truncated; nanos carries
    // the full fractional second)
    def micros(t: Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

    val in = MemoryStream[Ev](spark)
    val hist = StreamOps.scd2History[Long, Ev](
      // plain µs versioning matches q_scd2's (ts, event_id) order as
      // long as no user has two events in the same µs — asserted below
      in.toDS(), _.user_id, e => micros(e.ts))
      .map { case (ev, validTo) => (ev.user_id, ev.event_id, validTo) }
    val dup = events.groupBy(e => (e.user_id, micros(e.ts)))
      .count(_._2.size > 1)
    assert(dup == 0, s"$dup same-µs collisions; fixture assumption broken")

    val q = hist.writeStream.format("memory").queryName("s_scd2_eq")
      .outputMode("append").start()
    try {
      in.addData(events: _*)
      q.processAllAvailable()
      val streamed = spark.table("s_scd2_eq")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batchClosed)
    } finally q.stop()
  }

  test("s_scd2 on transformWithState/RocksDB: closed rows equal the fmgs twin " +
      "and the batch q_scd2; one state row per key") {
    import graft.operators.Cdc
    val prevConf = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val batchClosed = Cdc.qScd2.build(spark, sf)
      .filter(col("is_current") === 0)
      .select("user_id", "event_id", "valid_to_us")
      .as[(Long, Long, Long)].collect().toSet
    val events = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .as[Ev].collect().toSeq
    def micros(t: Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val in = MemoryStream[Ev](spark)
    val hist = StreamOps.scd2HistoryTws[Long, Ev](
      in.toDS(), _.user_id, e => micros(e.ts))
      .map { case (ev, validTo) => (ev.user_id, ev.event_id, validTo) }
    val q = hist.writeStream.format("memory").queryName("s_scd2_tws")
      .outputMode("append").start()
    try {
      // two batches so the open version actually rides the RocksDB store
      val (b1, b2) = events.splitAt(events.length / 2)
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("s_scd2_tws")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batchClosed,
        s"tws scd2 diverged: extra=${streamed.diff(batchClosed).take(5)} " +
          s"missing=${batchClosed.diff(streamed).take(5)}")
      // state footprint: exactly the open version — one row per key
      val nKeys = events.map(_.user_id).distinct.size
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      info(s"state rows: $stateRows for $nKeys keys")
      assert(stateRows <= nKeys,
        s"state ($stateRows rows) exceeds one open version per key ($nKeys)")
    } finally {
      q.stop()
      prevConf match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("delete events tombstone their key; an older delete cannot resurrect") {
    val dir = freshDir()
    val del = Some(col("event_type") === "delete")
    CdcSink.applyChangelog(
      Seq(Ev(1, 1, ts(0), "insert"), Ev(2, 2, ts(1), "insert")).toDF(),
      dir, "user_id", Seq("ts", "event_id"), del)
    // delete user 1, then re-insert user 1 later; replay an OLD delete last
    CdcSink.applyChangelog(
      Seq(Ev(3, 1, ts(2), "delete"), Ev(4, 2, ts(3), "update")).toDF(),
      dir, "user_id", Seq("ts", "event_id"), del)
    val afterDelete = CdcSink.readState(spark, dir)
      .select("user_id").as[Long].collect().toSet
    assert(afterDelete == Set(2L), "deleted key still present")

    // replayed OLDER insert must NOT resurrect the deleted key — the
    // retained tombstone is what it loses against
    CdcSink.applyChangelog(
      Seq(Ev(1, 1, ts(0), "insert")).toDF(),
      dir, "user_id", Seq("ts", "event_id"), del)
    assert(CdcSink.readState(spark, dir)
      .select("user_id").as[Long].collect().toSet == Set(2L),
      "replayed old insert resurrected a deleted key")

    CdcSink.applyChangelog(
      Seq(Ev(5, 1, ts(5), "insert")).toDF(),
      dir, "user_id", Seq("ts", "event_id"), del)
    // old delete (before the re-insert) replayed: must NOT kill user 1
    CdcSink.applyChangelog(
      Seq(Ev(3, 1, ts(2), "delete")).toDF(),
      dir, "user_id", Seq("ts", "event_id"), del)
    val state = CdcSink.readState(spark, dir)
      .select("user_id", "event_id").as[(Long, Long)].collect().toMap
    assert(state == Map(1L -> 5L, 2L -> 4L))
  }

  test("compact bin-packs many small files; content and tombstones preserved") {
    val dir = freshDir()
    // a fragmented table (e.g. merge parallelism x many bucket rewrites)
    // with one tombstoned key
    (1 to 6).map(i => Ev(i.toLong, i.toLong, ts(i), "insert")).toDF()
      .withColumn("__tombstone", col("user_id") === 3)
      .repartition(6)
      .write.parquet(dir)
    val before = CdcSink.readState(spark, dir)
      .select("user_id", "event_id").as[(Long, Long)].collect().toSet
    assert(before.size == 5) // tombstoned key hidden
    import scala.jdk.CollectionConverters._
    def nParquet() = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
    assert(nParquet() > 1)

    CdcSink.compact(spark, dir) // tiny table -> one target file
    assert(nParquet() == 1, s"expected 1 file after compaction, got ${nParquet()}")
    assert(CdcSink.readState(spark, dir)
      .select("user_id", "event_id").as[(Long, Long)].collect().toSet == before)
    // the tombstone survived compaction (still guards replays)
    assert(spark.read.parquet(dir).where(col("__tombstone")).count() == 1)
  }

  test("purgeTombstones reclaims deleted keys; visible state unchanged") {
    val dir = freshDir()
    val del = Some(col("event_type") === "delete")
    CdcSink.applyChangelog(
      Seq(Ev(1, 1, ts(0), "insert"), Ev(2, 2, ts(1), "insert"),
        Ev(3, 1, ts(2), "delete")).toDF(),
      dir, "user_id", Seq("ts", "event_id"), del)
    // tombstone physically present, invisible to readers
    assert(spark.read.parquet(dir).count() == 2)
    assert(CdcSink.readState(spark, dir).count() == 1)
    CdcSink.purgeTombstones(spark, dir)
    assert(spark.read.parquet(dir).count() == 1)
    assert(CdcSink.readState(spark, dir)
      .select("user_id").as[Long].collect().toSet == Set(2L))
  }

  test("bucketed merge rewrites only touched buckets, leaves the rest byte-identical") {
    val dir = freshDir()
    val n = 4
    // batch 1: enough keys to populate several buckets
    val b1 = (1L to 40L).map(k => Ev(k, k, ts(0), "insert")).toDF()
    CdcSink.applyChangelogBucketed(b1, dir, "user_id", Seq("ts", "event_id"), n)

    import scala.jdk.CollectionConverters._
    def bucketFiles(): Map[String, Set[(String, Long)]] =
      java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("__bucket="))
        .map { p =>
          p.getFileName.toString ->
            java.nio.file.Files.list(p).iterator().asScala
              .filter(_.getFileName.toString.endsWith(".parquet"))
              .map(f => (f.getFileName.toString,
                java.nio.file.Files.getLastModifiedTime(f).toMillis)).toSet
        }.toMap
    val before = bucketFiles()
    assert(before.size > 1, s"want >1 bucket dirs, got ${before.keySet}")

    // batch 2: a single key -> exactly one bucket touched
    val b2 = Seq(Ev(100L, 7L, ts(5), "update")).toDF()
    CdcSink.applyChangelogBucketed(b2, dir, "user_id", Seq("ts", "event_id"), n)
    val after = bucketFiles()

    val touched = before.keySet.filter(k => before(k) != after.getOrElse(k, Set()))
    assert(touched.size == 1, s"expected 1 rewritten bucket, got $touched")

    // state is still exactly the latest row per key
    val state = CdcSink.readBucketedState(spark, dir)
      .select("user_id", "event_id").as[(Long, Long)].collect().toMap
    assert(state(7L) == 100L)
    assert(state.size == 40)
    assert((1L to 40L).filter(_ != 7L).forall(k => state(k) == k))
  }

  test("bucketed and whole-table merges agree") {
    val dirA = freshDir(); val dirB = freshDir()
    val batches = Seq(
      (1L to 20L).map(k => Ev(k, k % 7, ts(k.toInt % 50), "e")).toDF(),
      (21L to 30L).map(k => Ev(k, k % 5, ts((k.toInt % 40) + 5), "e")).toDF())
    batches.foreach { b =>
      CdcSink.applyChangelog(b, dirA, "user_id", Seq("ts", "event_id"))
      CdcSink.applyChangelogBucketed(b, dirB, "user_id", Seq("ts", "event_id"), 4)
    }
    val a = CdcSink.readState(spark, dirA)
      .select("user_id", "event_id").as[(Long, Long)].collect().toSet
    val b = CdcSink.readBucketedState(spark, dirB)
      .select("user_id", "event_id").as[(Long, Long)].collect().toSet
    assert(a == b)
  }

  test("compact and purge preserve the hash-bucket layout") {
    val dir = freshDir()
    val del = Some(col("event_type") === "delete")
    CdcSink.applyChangelogBucketed(
      (1L to 20L).map(k => Ev(k, k, ts(0), "insert")).toDF(),
      dir, "user_id", Seq("ts", "event_id"), 4, del)
    CdcSink.applyChangelogBucketed(
      Seq(Ev(21, 5, ts(3), "delete")).toDF(),
      dir, "user_id", Seq("ts", "event_id"), 4, del)
    import scala.jdk.CollectionConverters._
    def bucketDirs() = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("__bucket=")).toSet
    val layout = bucketDirs()
    assert(layout.nonEmpty)

    CdcSink.compact(spark, dir)
    assert(bucketDirs() == layout, "compaction flattened the bucket layout")
    assert(CdcSink.readBucketedState(spark, dir).count() == 19)

    CdcSink.purgeTombstones(spark, dir)
    assert(bucketDirs().subsetOf(layout), "purge flattened the bucket layout")
    assert(CdcSink.readBucketedState(spark, dir).count() == 19)
    assert(spark.read.parquet(dir).count() == 19) // tombstone physically gone
  }

  test("TableSwap seam: the retry/replay/delete idempotence matrix holds " +
      "under BOTH publication protocols (rename swap + transactional fake)") {
    val del = Some(col("event_type") === "delete")
    for (swap <- Seq[(String, TableSwap)](
        "rename" -> RenameSwap, "transactional" -> TransactionalFakeSwap)) {
      val (label, impl) = swap
      val dir = freshDir()
      def apply(evs: Ev*): Unit = CdcSink.applyChangelog(
        evs.toDF(), dir, "user_id", Seq("ts", "event_id"), del, impl)
      def state(): Map[Long, Long] = CdcSink.readState(spark, dir)
        .select("user_id", "event_id").as[(Long, Long)].collect().toMap

      apply(Ev(10, 1, ts(5), "update"), Ev(11, 2, ts(6), "update"))
      val after1 = state()
      assert(after1 == Map(1L -> 10L, 2L -> 11L), s"[$label] $after1")

      // foreachBatch retry: the exact same batch applied again
      apply(Ev(10, 1, ts(5), "update"), Ev(11, 2, ts(6), "update"))
      assert(state() == after1, s"[$label] retry changed the table")

      // out-of-order replay of an OLDER version must not regress
      apply(Ev(1, 1, ts(0), "insert"))
      assert(state()(1L) == 10L, s"[$label] older replay regressed user 1")

      // delete tombstones; a replayed older insert cannot resurrect
      apply(Ev(12, 1, ts(7), "delete"))
      assert(state().keySet == Set(2L), s"[$label] delete not applied")
      apply(Ev(1, 1, ts(0), "insert"))
      assert(state().keySet == Set(2L),
        s"[$label] replayed old insert resurrected a deleted key")
    }
    // the fake really committed via the pointer swap, every generation
    assert(TransactionalFakeSwap.commits.get() >= 5)
  }

  test("transactional fake's pointer swap is observable: the table path " +
      "is a symlink to an immutable committed generation") {
    val dir = freshDir()
    CdcSink.applyChangelog(
      Seq(Ev(1, 1, ts(0), "insert")).toDF(), dir, "user_id",
      Seq("ts", "event_id"), None, TransactionalFakeSwap)
    val p = java.nio.file.Paths.get(dir)
    assert(java.nio.file.Files.isSymbolicLink(p), "table path is not a pointer")
    val gen1 = java.nio.file.Files.readSymbolicLink(p).toString
    assert(CdcSink.readState(spark, dir).count() == 1)

    CdcSink.applyChangelog(
      Seq(Ev(2, 2, ts(1), "insert")).toDF(), dir, "user_id",
      Seq("ts", "event_id"), None, TransactionalFakeSwap)
    val gen2 = java.nio.file.Files.readSymbolicLink(p).toString
    assert(gen1 != gen2, "commit did not advance the generation pointer")
    assert(CdcSink.readState(spark, dir).count() == 2)
    // the retired generation is still intact (immutable history — what a
    // transactional format's time travel reads)
    assert(java.nio.file.Files.exists(
      p.getParent.resolve(gen1)), "retired generation was mutated/deleted")
  }

  test("swap is atomic-ish: a table always exists after the first batch") {
    val dir = freshDir()
    CdcSink.applyChangelog(
      Seq(Ev(1, 1, ts(0), "insert")).toDF(), dir, "user_id",
      Seq("ts", "event_id"))
    // no .next-/.old- residue after a clean apply
    val parent = java.nio.file.Paths.get(dir).getParent
    import scala.jdk.CollectionConverters._
    val residue = java.nio.file.Files.list(parent).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.contains(".next-") || n.contains(".old-")).toList
    assert(residue.isEmpty, s"leftover swap dirs: $residue")
    assert(CdcSink.readState(spark, dir).count() == 1)
  }

  // ------------------------------------------------ merge-on-read deltas

  private val order = Seq("ts", "event_id")
  private val deletes = Some(col("event_type") === "delete")

  /** A base of 1,200 keys: enough bytes that a batch of a few rows lands
    * as a delta file rather than folding the table. */
  private def seedBase(dir: String, swap: TableSwap = RenameSwap): Seq[Ev] = {
    val evs = (1L to 1200L).map(k => Ev(k, k, ts(0), "insert"))
    CdcSink.applyChangelog(evs.toDF(), dir, "user_id", order, deletes, swap)
    evs
  }

  private def deltaCount(dir: String): Int = CdcSink.generation(dir).deltas.size

  private def stateOf(dir: String): Map[Long, Long] =
    CdcSink.readState(spark, dir)
      .select("user_id", "event_id").as[(Long, Long)].collect().toMap

  /** The latest row per user over the whole log by (ts, event_id), deleted
    * users absent: the recompaction every generation must read back as. */
  private def recompacted(log: Seq[Ev]): Map[Long, Long] =
    log.groupBy(_.user_id)
      .map { case (k, evs) => k -> evs.maxBy(e => (e.ts.getTime, e.event_id)) }
      .collect { case (k, e) if e.event_type != "delete" => k -> e.event_id }

  test("merge-on-read: small batches land as delta files, and readState " +
      "equals a from-scratch recompaction of the whole log") {
    val dir = freshDir()
    val log = scala.collection.mutable.ArrayBuffer[Ev]() ++ seedBase(dir)
    assert(deltaCount(dir) == 0)
    val batches = Seq(
      // two versions of user 1 in one batch: the newer one lands
      Seq(Ev(2001, 1, ts(1), "update"), Ev(2002, 2, ts(1), "update"),
        Ev(2003, 1, ts(2), "update")),
      Seq(Ev(2004, 3, ts(2), "delete"), Ev(2005, 1300, ts(2), "insert")),
      // same ts as the base row, greater event_id: newer
      Seq(Ev(2006, 4, ts(0), "update")),
      // the base row of user 5 again, and an insert older than user 2's
      // delta row but newer than its base row
      Seq(Ev(5, 5, ts(0), "insert"), Ev(1000, 2, ts(0), "update")),
      // older than user 3's delta tombstone: no resurrection
      Seq(Ev(2007, 3, ts(1), "insert")),
      // deleted and re-inserted within one batch
      Seq(Ev(2008, 6, ts(3), "delete"), Ev(2009, 6, ts(4), "insert")))
    batches.zipWithIndex.foreach { case (b, i) =>
      CdcSink.applyChangelog(b.toDF(), dir, "user_id", order, deletes)
      log ++= b
      assert(deltaCount(dir) == i + 1, s"batch $i did not land as a delta")
      assert(stateOf(dir) == recompacted(log.toSeq), s"state after batch $i")
    }
    // the sink's own whole-table merge of the log in one batch agrees
    val whole = freshDir()
    CdcSink.applyChangelog(log.toSeq.toDF(), whole, "user_id", order, deletes)
    assert(stateOf(whole) == stateOf(dir))
  }

  test("merge-on-read: the retry/replay/delete matrix holds on delta " +
      "generations under BOTH publication protocols") {
    for ((label, impl) <- Seq[(String, TableSwap)](
        "rename" -> RenameSwap, "transactional" -> TransactionalFakeSwap)) {
      val dir = freshDir()
      seedBase(dir, impl)
      def apply(evs: Ev*): Unit = {
        val before = deltaCount(dir)
        CdcSink.applyChangelog(evs.toDF(), dir, "user_id", order, deletes, impl)
        assert(deltaCount(dir) == before + 1, s"[$label] batch did not land as a delta")
      }
      apply(Ev(2010, 1, ts(5), "update"), Ev(2011, 2, ts(6), "update"))
      val after1 = stateOf(dir)
      assert(after1.size == 1200 && after1(1L) == 2010L && after1(2L) == 2011L,
        s"[$label] update not applied")

      // foreachBatch retry: the exact same batch applied again
      apply(Ev(2010, 1, ts(5), "update"), Ev(2011, 2, ts(6), "update"))
      assert(stateOf(dir) == after1, s"[$label] retry changed the table")

      // out-of-order replay of an OLDER version must not regress
      apply(Ev(1500, 1, ts(1), "insert"))
      assert(stateOf(dir) == after1, s"[$label] older replay regressed user 1")

      // delete tombstones; a replayed older insert cannot resurrect
      apply(Ev(2012, 1, ts(7), "delete"))
      assert(stateOf(dir) == after1 - 1L, s"[$label] delete not applied")
      apply(Ev(1500, 1, ts(1), "insert"))
      assert(stateOf(dir) == after1 - 1L,
        s"[$label] replayed old insert resurrected a deleted key")
      apply(Ev(2012, 1, ts(7), "delete"))
      assert(stateOf(dir) == after1 - 1L, s"[$label] retried delete changed the table")
    }
  }

  test("merge-on-read: a batch folds once the deltas' bytes reach the " +
      "base's, and lands as a delta again after the fold") {
    val dir = freshDir()
    val log = scala.collection.mutable.ArrayBuffer[Ev]() ++ seedBase(dir)
    var applied = 0
    var folded = false
    while (!folded && applied < 200) {
      val before = CdcSink.generation(dir)
      val b = Seq(Ev(3000L + applied, 1L + applied, ts(1), "update"))
      CdcSink.applyChangelog(b.toDF(), dir, "user_id", order, deletes)
      log ++= b
      applied += 1
      val after = CdcSink.generation(dir)
      if (before.deltaBytes >= before.baseBytes) {
        assert(after.deltas.isEmpty, s"no fold at ${before.deltaBytes} delta bytes " +
          s"over ${before.baseBytes} base bytes")
        folded = true
      } else {
        assert(after.deltas.size == before.deltas.size + 1)
        assert(after.base.map(_.getFileName) == before.base.map(_.getFileName),
          "a delta batch rewrote the base")
      }
    }
    assert(folded, s"no fold after $applied batches")
    assert(applied > 1, "the first small batch folded")
    assert(stateOf(dir) == recompacted(log.toSeq))
    CdcSink.applyChangelog(Seq(Ev(4000, 7, ts(2), "update")).toDF(),
      dir, "user_id", order, deletes)
    assert(deltaCount(dir) == 1)
  }

  test("merge-on-read: compact and purgeTombstones fold the deltas first, " +
      "so a delta tombstone over a live base row survives a purge") {
    val dir = freshDir()
    seedBase(dir)
    CdcSink.applyChangelog(Seq(Ev(2020, 7, ts(1), "delete")).toDF(),
      dir, "user_id", order, deletes)
    assert(deltaCount(dir) == 1)
    CdcSink.purgeTombstones(spark, dir)
    assert(deltaCount(dir) == 0)
    assert(!stateOf(dir).contains(7L), "purge resurrected a key deleted in a delta")
    assert(stateOf(dir).size == 1199)
    // both the tombstone and the base row it shadowed are gone
    assert(spark.read.parquet(dir).count() == 1199)

    CdcSink.applyChangelog(
      Seq(Ev(2021, 8, ts(1), "delete"), Ev(2022, 9, ts(1), "update")).toDF(),
      dir, "user_id", order, deletes)
    assert(deltaCount(dir) == 1)
    val before = stateOf(dir)
    CdcSink.compact(spark, dir)
    assert(deltaCount(dir) == 0)
    assert(stateOf(dir) == before)
    // compaction keeps the tombstone, one row per key
    assert(spark.read.parquet(dir).count() == 1199)
    assert(spark.read.parquet(dir).where(col("__tombstone")).count() == 1)
    // the compacted generation still takes deltas, and its tombstone
    // still stops an older replay
    CdcSink.applyChangelog(Seq(Ev(8, 8, ts(0), "insert")).toDF(),
      dir, "user_id", order, deletes)
    assert(deltaCount(dir) == 1)
    assert(stateOf(dir) == before)
  }

  test("merge-on-read: a batch with an extra column folds the deltas") {
    val dir = freshDir()
    seedBase(dir)
    CdcSink.applyChangelog(Seq(Ev(2030, 1, ts(1), "update")).toDF(),
      dir, "user_id", order, deletes)
    assert(deltaCount(dir) == 1)
    CdcSink.applyChangelog(
      Seq(Ev(2031, 2, ts(1), "update")).toDF().withColumn("score", lit(5)),
      dir, "user_id", order, deletes)
    assert(deltaCount(dir) == 0, "a widened batch landed as a delta")
    val st = CdcSink.readState(spark, dir)
    assert(st.columns.contains("score"))
    val rows = st.select("user_id", "event_id", "score").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getInt(2))))).toMap
    assert(rows.size == 1200)
    assert(rows(1L) == ((2030L, None)))
    assert(rows(2L) == ((2031L, Some(5))))
    assert(rows(3L) == ((3L, None)))
    // the widened generation takes deltas of its own schema
    CdcSink.applyChangelog(
      Seq(Ev(2032, 3, ts(1), "update")).toDF().withColumn("score", lit(6)),
      dir, "user_id", order, deletes)
    assert(deltaCount(dir) == 1)
  }

  test("merge-on-read: a write that fails after linking, before its delta " +
      "lands, leaves the previous generation intact; the next apply succeeds") {
    import scala.jdk.CollectionConverters._
    val dir = freshDir()
    def listing(): Set[String] = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
    }
    try {
      seedBase(dir)
      CdcSink.applyChangelog(Seq(Ev(2040, 1, ts(1), "update")).toDF(),
        dir, "user_id", order, deletes)
      assert(deltaCount(dir) == 1)
      val before = stateOf(dir)
      val filesBefore = listing()

      // the batch's rows throw when the delta write evaluates them
      val boom = udf { (s: String) =>
        if (s == "boom") throw new IllegalStateException("injected delta failure")
        s
      }
      val failing = Seq(Ev(2041, 2, ts(1), "boom")).toDF()
        .withColumn("event_type", boom(col("event_type")))
      val probe = new StagingProbeSwap(RenameSwap)
      intercept[Exception] {
        CdcSink.applyChangelog(failing, dir, "user_id", order, deletes, probe)
      }
      val staged = probe.stagedAtFailure.getOrElse(fail("the write did not fail"))
      assert(filesBefore.filterNot(_.startsWith("_")).subsetOf(staged),
        s"the failure struck before linking: $staged")
      assert(!staged.contains("delta-00001.parquet"),
        s"the failure struck after the delta landed: $staged")

      assert(listing() == filesBefore)
      assert(stateOf(dir) == before)
      CdcSink.applyChangelog(Seq(Ev(2042, 2, ts(1), "update")).toDF(),
        dir, "user_id", order, deletes)
      assert(deltaCount(dir) == 2)
      assert(stateOf(dir) == before + (2L -> 2042L))
    } finally {
      // the failed write's orphan staging directory
      val parent = java.nio.file.Paths.get(dir).getParent
      val name = java.nio.file.Paths.get(dir).getFileName.toString
      val s = java.nio.file.Files.list(parent)
      try s.iterator().asScala.toList
        .filter(_.getFileName.toString.startsWith(name + ".next-"))
        .foreach(RenameSwap.deleteRecursively)
      finally s.close()
    }
  }
}
