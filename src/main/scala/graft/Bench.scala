package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.expr
import java.lang.management.ManagementFactory

object Bench {

  /** Full-collect ONLY under real heap pressure (used > half of max):
    * non-evictable localCheckpoint blocks from earlier queries release
    * only via GC + ContextCleaner, but an unconditional System.gc()
    * also drops soft-referenced JVM state that every small query then
    * repays (~+58% measured on a 30-query subset). Returns whether a
    * collection ran, so the caller can repay those evictions with one
    * UNTIMED warm pass before the clock starts (VERDICT r15 #1c: the
    * r15 driver capture showed a late-run systematic slowdown — once
    * the heap passed half-full, every subsequent query paid the
    * eviction inside its TIMED runs). */
  private def gcIfPressured(): Boolean = {
    val rt = Runtime.getRuntime
    val pressured = rt.totalMemory - rt.freeMemory > rt.maxMemory / 2
    if (pressured) System.gc()
    pressured
  }

  /** Deterministic release of the blocks the previous query pinned via
    * plain persist(): unpersist frees at the BlockManager immediately —
    * no dependence on a GC finding the frame unreachable and the async
    * ContextCleaner draining (the r15 mechanism that let pins
    * accumulate for many queries on a 32 GiB heap until the whole late
    * run measured under heap pressure). CHECKPOINTED RDDs are skipped:
    * their lineage is truncated, so unpersisting one makes it
    * unrecomputable — the first sweep draft killed the connected-
    * components label state mid-suite (CHECKPOINT_RDD_BLOCK_ID_NOT_
    * FOUND on the next dedup-cluster query). Plain persisted RDDs
    * always recompute from lineage, so sweeping them is safe even if a
    * memo cache still holds the frame. `isLocallyCheckpointed` is
    * checked separately (ADVICE r16): an RDD marked via
    * `localCheckpoint(eager = false)` reports `isCheckpointed = false`
    * until first materialization, but unpersisting it breaks the
    * LATER materialization the mark promises — the exact
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND class the checkpoint skip
    * exists for. */
  private def releasePinnedBlocks(spark: SparkSession): Unit =
    try spark.sparkContext.getPersistentRDDs.values
      .filter(r => !r.isCheckpointed &&
        !org.apache.spark.rdd.graft.RddState.isLocallyCheckpointed(r))
      .foreach(_.unpersist(blocking = false))
    catch { case _: Throwable => () }

  /** Task-metric totals across EVERY job a query triggers — including
    * the eagerly-materialized sub-jobs a plan-level walk cannot see
    * (e.g. BinnedPercentile's pinned intermediates, broadcast builds):
    * the whole-query scan/shuffle truth the `job_*` keys report. Events
    * are posted async; [[snapshot]] drains with a bounded settle wait. */
  private object JobTotals extends org.apache.spark.scheduler.SparkListener {
    private val scan = new java.util.concurrent.atomic.AtomicLong
    private val recs = new java.util.concurrent.atomic.AtomicLong
    private val bytes = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        scan.addAndGet(m.inputMetrics.recordsRead)
        recs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def reset(): Unit = { scan.set(0); recs.set(0); bytes.set(0) }
    /** Deterministic read: drain the async listener bus first — every
      * task-end event posted so far dispatches before the totals are
      * read, so a lagging bus can neither under-count this query nor
      * leak its tail into the next (ADVICE r8; replaces the 20 ms
      * settle-poll heuristic, which raced a bus more than one poll
      * behind). */
    def snapshot(sc: org.apache.spark.SparkContext): (Long, Long, Long) = {
      org.apache.spark.sql.graft.ListenerBus.drain(sc)
      (scan.get, recs.get, bytes.get)
    }
  }

  /** One untimed execution of the query's physical plan, returning
    * (scan rows, shuffle records written, shuffle bytes written) from its
    * SQLMetrics — the plan-shape counters wall-clock noise hides: a lost
    * pushdown or a new exchange moves these even when timings wobble
    * ±35%. Accumulators are consistent once the action returns (task
    * completion processes them before the job finishes), so reading the
    * traversed nodes is race-free. Rows never leave the executors — the
    * action is a per-partition count. The second triple is the
    * [[JobTotals]] whole-query job-level truth (diagnostic only — the
    * drift gate compares the deterministic plan-level triple). */
  private def planMetrics(
      spark: SparkSession,
      fn: (SparkSession, String) => DataFrame,
      sfDir: String): ((Long, Long, Long), (Long, Long, Long)) =
    try {
      // the listener bus is async: task-end events from the preceding
      // TIMED runs may still be queued — drain before zeroing, or they
      // land in this query's job_* totals
      JobTotals.snapshot(spark.sparkContext)
      JobTotals.reset()
      val qe = fn(spark, sfDir).queryExecution
      qe.executedPlan.execute().mapPartitions { it =>
        var n = 0L; while (it.hasNext) { it.next(); n += 1 }; Iterator(n)
      }.count()
      val jobs = JobTotals.snapshot(spark.sparkContext)
      def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
        case q: QueryStageExec => q +: nodes(q.plan)
        case n => n +: n.children.flatMap(nodes)
      }
      val all = nodes(qe.executedPlan)
      def metric(key: String, leafOnly: Boolean): Long =
        all.filter(n => !leafOnly || n.children.isEmpty)
          .flatMap(_.metrics.get(key)).map(_.value).sum
      ((metric("numOutputRows", leafOnly = true),
        metric("shuffleRecordsWritten", leafOnly = false),
        metric("shuffleBytesWritten", leafOnly = false)), jobs)
    } catch { case _: Throwable => ((-1L, -1L, -1L), (-1L, -1L, -1L)) }

  /** Single-connection CDC wire-decode rate (rows/s) against an
    * in-process loopback emitter — the reference-comparable single-node
    * ingest number (BASELINE.md 'CDC wire decode' row; the reference is
    * a single-threaded socket client, so this is the apples-to-apples
    * figure; executor-parallel replay then scales by replayPartitions).
    * Emitter speaks just enough protocol for the happy path: chunked
    * auth/REGISTER acks, then schema + newline-JSON events. */
  private def cdcIngestRate(events: Int): Double =
    try {
      val schema =
        """{"type":"record","name":"ChangeRecord","fields":[""" +
          """{"name":"domain","type":"int","real_type":"int","length":-1},""" +
          """{"name":"server_id","type":"int","real_type":"int","length":-1},""" +
          """{"name":"sequence","type":"int","real_type":"int","length":-1},""" +
          """{"name":"event_type","type":"string","real_type":"varchar","length":32},""" +
          """{"name":"id","type":"int","real_type":"int","length":-1},""" +
          """{"name":"name","type":"string","real_type":"varchar","length":64}]}"""
      val server = new java.net.ServerSocket(
        0, 2, java.net.InetAddress.getLoopbackAddress)
      val emitter = new Thread("bench-cdc-emitter") {
        setDaemon(true)
        override def run(): Unit = {
          val s = server.accept()
          try {
            s.setSoTimeout(5000)
            val in = s.getInputStream
            val out = new java.io.BufferedOutputStream(s.getOutputStream, 1 << 16)
            val buf = new Array[Byte](65536)
            def chunk(): Unit = { if (in.read(buf) < 0) return; Thread.sleep(5)
              while (in.available() > 0) in.read(buf) }
            chunk(); out.write("OK\n".getBytes); out.flush() // auth
            chunk(); out.write("OK\n".getBytes); out.flush() // REGISTER
            chunk() // REQUEST-DATA
            out.write((schema + "\n").getBytes)
            var i = 0
            while (i < events) {
              i += 1
              out.write((s"""{"domain":0,"server_id":1,"sequence":$i,""" +
                s""""event_type":"update_after","id":${i % 1000},""" +
                s""""name":"name_$i"}""" + "\n").getBytes)
            }
            out.flush()
          } catch { case _: Throwable => () } finally s.close()
        }
      }
      emitter.start()
      val c = new graft.sources.cdc.CdcClient(
        "127.0.0.1", server.getLocalPort, "u", "p", 5000)
      try {
        c.connect()
        c.requestData("db.t", None)
        var n = 0
        var broken = false
        val t0 = System.nanoTime()
        while (n < events && !broken) c.readMessage() match {
          case _: graft.sources.cdc.CdcRowMsg => n += 1
          case _: graft.sources.cdc.CdcSchemaMsg => ()
          case _ => broken = true // timeout/closed mid-stream
        }
        // a partial stream must not fabricate a rate — sentinel instead
        if (broken) -1.0 else events / ((System.nanoTime() - t0) / 1e9)
      } finally { c.close(); server.close() }
    } catch { case _: Throwable => -1.0 }

  /** Deep-backlog catch-up drain rate (rows/s): a planted `events`-row
    * backlog behind a replay-capable loopback emitter, drained through
    * EXACTLY the streaming catch-up machinery — [[CdcTailer.splitRanges]]
    * with an empty positions buffer (the recovery-re-plan / deep-lag
    * shape) falls back to sequence-arithmetic cuts, and one
    * [[CdcReplayReader]] per subrange replays concurrently. `partitions
    * = 1` is the serial single-connection figure; the N-partition rate
    * against it is the measured win of the r8 catch-up split.
    *
    * The loopback emitter below is a deliberately MINIMAL load
    * generator — single domain, dense sequences, uniform rows — not a
    * protocol-correctness double: protocol behaviors (multi-domain
    * replay, drops, ERR framing, DDL) are the test-scope
    * MockMaxScaleServer's job, and the client under measurement here is
    * the same production CdcTailer/CdcReplayReader either server
    * drives. Keep it dumb; extend the mock, not this. */
  private def catchupRate(events: Int, partitions: Int): Double =
    try {
      import graft.sources.cdc._
      val fields = Seq(
        CdcField("domain", "int"), CdcField("server_id", "int"),
        CdcField("sequence", "int"), CdcField("event_type", "varchar(32)"),
        CdcField("id", "int"), CdcField("name", "varchar(64)"))
      val schemaLine =
        """{"type":"record","name":"ChangeRecord","fields":[""" +
          """{"name":"domain","type":"int","real_type":"int","length":-1},""" +
          """{"name":"server_id","type":"int","real_type":"int","length":-1},""" +
          """{"name":"sequence","type":"int","real_type":"int","length":-1},""" +
          """{"name":"event_type","type":"string","real_type":"varchar","length":32},""" +
          """{"name":"id","type":"int","real_type":"int","length":-1},""" +
          """{"name":"name","type":"string","real_type":"varchar","length":64}]}""" + "\n"
      // pre-rendered event lines: the emitter must not be the bottleneck
      val lines: Array[Array[Byte]] = (1 to events).map { i =>
        (s"""{"domain":0,"server_id":1,"sequence":$i,""" +
          s""""event_type":"update_after","id":${i % 1000},""" +
          s""""name":"name_$i"}""" + "\n").getBytes
      }.toArray
      val server = new java.net.ServerSocket(
        0, partitions + 2, java.net.InetAddress.getLoopbackAddress)
      @volatile var accepting = true
      val acceptor = new Thread("bench-catchup-emitter") {
        setDaemon(true)
        override def run(): Unit = while (accepting) {
          val s = try server.accept() catch { case _: Throwable => return }
          val h = new Thread(() => {
            try {
              s.setSoTimeout(10000)
              val in = s.getInputStream
              val out = new java.io.BufferedOutputStream(s.getOutputStream, 1 << 16)
              val buf = new Array[Byte](65536)
              def chunk(): String = {
                val n = in.read(buf)
                if (n < 0) "" else {
                  Thread.sleep(2)
                  var total = new String(buf, 0, n)
                  while (in.available() > 0) {
                    val m = in.read(buf)
                    if (m > 0) total += new String(buf, 0, m)
                  }
                  total
                }
              }
              chunk(); out.write("OK\n".getBytes); out.flush() // auth
              chunk(); out.write("OK\n".getBytes); out.flush() // REGISTER
              val req = chunk()                                // REQUEST-DATA
              val parts = req.trim.split("\\s+")
              // inclusive GTID replay, like the real server
              val from =
                if (parts.length >= 3) parts(2).split("-")(2).toLong else 0L
              out.write(schemaLine.getBytes)
              var i = math.max(0L, from - 1).toInt
              while (i < lines.length) { out.write(lines(i)); i += 1 }
              out.flush()
              // stay open (quiet) until the reader closes: streaming
              // ranges end at observed events, not at EOF
              try in.read(buf) catch { case _: Throwable => () }
            } catch { case _: Throwable => () }
            finally (try s.close() catch { case _: Throwable => () })
          })
          h.setDaemon(true)
          h.start()
        }
      }
      acceptor.start()
      // un-started tailer == empty positions buffer: splitRanges takes the
      // same arithmetic fallback a deep catch-up takes
      val tailer = new CdcTailer("127.0.0.1", server.getLocalPort, "u", "p",
        "db.t", fields, resumeAfter = None, timeoutMs = 10000)
      val ranges = tailer.splitRanges(None, Gtid(0, 1, events.toLong), partitions)
      val dts = SqlTypes.toStructType(fields, typed = true).fields.map(_.dataType)
      val counts = ranges.map(_ => new java.util.concurrent.atomic.AtomicLong)
      val t0 = System.nanoTime()
      val threads = ranges.zip(counts).map { case ((lo, hi), slot) =>
        val th = new Thread(() => {
          val r = new CdcReplayReader(
            CdcReplayPartition("127.0.0.1", server.getLocalPort, "u", "p",
              "db.t", fields, lo.map(_.toString), hi.toString,
              timeoutMs = 10000), dts, typed = true)
          try { while (r.next()) slot.incrementAndGet() } finally r.close()
        })
        th.setDaemon(true); th.start(); th
      }
      threads.foreach(_.join(120000))
      val secs = (System.nanoTime() - t0) / 1e9
      accepting = false
      try server.close() catch { case _: Throwable => () }
      // a partial drain must not fabricate a rate
      if (counts.map(_.get).sum != events) -1.0 else events / secs
    } catch { case _: Throwable => -1.0 }

  /** The newest prior capture in the working directory whose (cpus, sf)
    * match this run — per-query wall seconds + deterministic plan
    * metrics. Accepts the per-round DETAIL snapshots
    * (`BENCH_r*_detail.json` — each round's full driver capture,
    * persisted at snapshot time so later bench_out.json overwrites
    * can't orphan the gate: VERDICT r15 #1a), Bench's own
    * config-keyed detail files (`bench_detail_*.json`, written by
    * every run below), the driver wrapper format (`{"parsed": {...}}`
    * in `BENCH_r*.json`) and Bench's raw line (`BENCH_r*_local.json` /
    * `bench_out.json`). Used by the IN-RUN noise gate below: the
    * official capture runs on a loaded shared box (r12: q_winsorize
    * 3.33 s there vs 1.22 s quiet, identical plans), so Bench defends
    * itself — any query >2× its plan-metric-identical prior gets
    * re-run and reports best-of, instead of shipping a scheduling
    * spike as a regression. */
  private def loadPrior(sfDir: String, cpus: String)
      : Map[String, (Double, (Long, Long, Long))] =
    loadPrior(sfDir, cpus, anyCpus = false)

  /** [[loadPrior]] with `anyCpus = true` accepts the newest matching-SF
    * capture at ANY core count — the scaling mode's top-N selector,
    * which must pick the same query set at every core count or the
    * cpus-8 and cpus-32 legs measure different queries. */
  private def loadPrior(sfDir: String, cpus: String, anyCpus: Boolean)
      : Map[String, (Double, (Long, Long, Long))] =
    try {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val sfTag = sfDir.replaceAll(".*sf", "") // "0.1" from ".../sf0.1"
      val files = new java.io.File(".").listFiles()
        .filter(f => f.getName.matches(
          "BENCH_r\\d+(_local|_detail)?\\.json|bench_detail_.*\\.json|" +
            "bench_out\\.json"))
        .sortBy(-_.lastModified())
      files.iterator.flatMap { f =>
        try {
          val root0 = om.readTree(f)
          val root =
            if (root0.has("parsed") && !root0.get("parsed").isNull)
              root0.get("parsed")
            else root0
          val okCpus = anyCpus ||
            (root.has("cpus") && root.get("cpus").asText() == cpus)
          val okSf = root.has("sf") &&
            root.get("sf").asText().replaceAll(".*sf", "") == sfTag
          if (!okCpus || !okSf || !root.has("queries")) None
          else {
            val qs = root.get("queries")
            val pm = if (root.has("plan_metrics")) root.get("plan_metrics")
              else om.createObjectNode()
            import scala.jdk.CollectionConverters._
            Some(qs.properties().asScala.map { e =>
              val name = e.getKey
              val metrics =
                if (pm.has(name)) {
                  val m = pm.get(name)
                  (m.get("scan_rows").asLong(-1),
                    m.get("shuffle_records").asLong(-1),
                    m.get("shuffle_bytes").asLong(-1))
                } else (-1L, -1L, -1L)
              name -> (e.getValue.asDouble(), metrics)
            }.toMap)
          }
        } catch { case _: Throwable => None }
      }.nextOption().getOrElse(Map.empty)
    } catch { case _: Throwable => Map.empty }

  private def jsonKey(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** One IndexStore builds-journal record (raw stage/note JSON kept as
    * written — the journal and this capture share the format). */
  private final case class BuildRec(artifact: String, kind: String,
    secs: Double, stages: String, notes: String, tEndMs: Long)

  /** The journal records appended after `offset` bytes — the builds
    * THIS run paid, wherever in the run they executed (timed run,
    * untimed warm pass, or plan-metrics pass). */
  private def journalSince(offset: Long): Seq[BuildRec] =
    try {
      val p = IndexStore.buildsJournal
      if (!java.nio.file.Files.exists(p)) Nil
      else {
        val bytes = java.nio.file.Files.readAllBytes(p)
        if (bytes.length <= offset) Nil
        else {
          val om = new com.fasterxml.jackson.databind.ObjectMapper()
          new String(bytes, offset.toInt, (bytes.length - offset).toInt,
            "UTF-8")
            .split('\n').toSeq.filter(_.nonEmpty)
            .flatMap { line =>
              try {
                val n = om.readTree(line)
                Some(BuildRec(n.get("artifact").asText(),
                  n.get("kind").asText(), n.get("build_secs").asDouble(),
                  n.get("stages").toString, n.get("notes").toString,
                  n.get("t_end_ms").asLong()))
              } catch { case _: Throwable => None }
            }
        }
      }
    } catch { case _: Throwable => Nil }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val journalStart: Long =
      try {
        val p = IndexStore.buildsJournal
        if (java.nio.file.Files.exists(p)) java.nio.file.Files.size(p) else 0L
      } catch { case _: Throwable => 0L }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(JobTotals)
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadBefore = os.getSystemLoadAverage
    // Untimed JVM warm-up: compiles the codegen/shuffle/parquet paths once
    // so the first measured query isn't charged for JIT + classloading.
    try {
      val w = spark.range(100000).selectExpr("id", "id % 7 AS k")
      w.join(w.selectExpr("k AS k2", "id AS id2"), expr("k = k2"))
        .groupBy("k").count().count()
    } catch { case _: Throwable => () }
    // deterministic order → per-query timings comparable across rounds;
    // best-of-2 per query damps the shared-box scheduling noise (±35%
    // single-run variance observed) without hiding real cost. All raw runs
    // are emitted too, so a later reader can separate noise (one slow run,
    // one normal) from regression (both runs slow) without a re-run.
    // Optional comma-separated name filter for local iteration; the
    // driver never sets it, so the recorded bench always covers all.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).toSet)
    // SCALING MODE (VERDICT r17 #5; opt-in, additions-only — the
    // driver never sets it, so the recorded contract is byte-identical
    // when the env is unset): the default path's per-query constant
    // (~0.15-0.25 s: construction, 2 timed runs, plan-metrics pass,
    // sweep) swamps sf0.1 walls, so every driver cpus-8 vs cpus-32
    // ratio reads ≈1 regardless of the queries' real scaling. With
    // SPARK_GRAFT_SCALING_TOPN=N, Bench instead times the N slowest
    // queries of the newest same-SF capture (matched at ANY core
    // count, so the cpus-8 and cpus-32 legs pick the SAME set), one
    // warm pass + one timed run each, no plan-metrics pass and no CDC
    // sections — the minimal per-query constant — and prints one
    // "metric":"scaling_topn" JSON line (also bench_scaling_out.json).
    val scalingTopN = sys.env.get("SPARK_GRAFT_SCALING_TOPN")
      .flatMap(_.toIntOption)
    if (scalingTopN.isDefined) {
      val pri = loadPrior(sfDir, cpus, anyCpus = true)
      // drop names no longer in SparkEntry BEFORE take(N), so a renamed
      // or removed query cannot shrink the timed set below N
      val names = pri.toSeq.filter(p => SparkEntry.queries.contains(p._1))
        .sortBy(-_._2._1).take(scalingTopN.get).map(_._1)
      val walls = names.map { name =>
        val fn = SparkEntry.queries(name)
        releasePinnedBlocks(spark)
        // untimed warm pass: artifact builds + JIT off the clock — the
        // mode measures steady-state compute scaling, not cold cost
        try fn(spark, sfDir).count() catch { case _: Throwable => -1L }
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count() catch { case _: Throwable => -1L }
        name -> (System.nanoTime() - t0) / 1e9
      }
      def fs(d: Double) = "%.4f".format(d)
      val qs = walls.map { case (k, v) => "\"" + k + "\":" + fs(v) }
        .mkString("{", ",", "}")
      val line = s"""{"metric":"scaling_topn","value":${fs(walls.map(_._2).sum)},"unit":"sec","n_queries":${walls.length},"queries":$qs,"cpus":$cpus,"sf":"$sfDir"}"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_scaling_out.json"),
        (line + "\n").getBytes("UTF-8"))
      spark.stop()
      println(line)
      return
    }
    // SPARK_GRAFT_REVERSE=1 runs the suite in REVERSE alphabetical
    // order — the run-position bisect for late-run slowdowns (VERDICT
    // r15 #1d): if the slow set moves with the position, the cause is
    // accumulated JVM state, not the queries.
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    val timed = (if (sys.env.get("SPARK_GRAFT_REVERSE").contains("1"))
        ordered.reverse else ordered)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val loadQ = os.getSystemLoadAverage
      // Between-query hygiene, r16 discipline:
      //  1. releasePinnedBlocks — DETERMINISTIC unpersist of anything
      //     the previous query left persisted/checkpointed. The r15
      //     per-run System.gc() existed because such blocks are
      //     non-evictable and release only via GC + ContextCleaner;
      //     the explicit sweep removes the GC dependence entirely.
      //  2. gcIfPressured — belt-and-suspenders for heap that the
      //     sweep can't reach. A full collection also evicts
      //     soft-referenced JVM state (codegen / relation caches) the
      //     next run would repay INSIDE the clock (measured +58% on a
      //     30-query subset, and the r15 driver capture's late-run
      //     2-50× inflation clustered exactly where per-query GC
      //     became permanent) — so any collection is followed by one
      //     UNTIMED warm pass that repays the evictions off the clock.
      releasePinnedBlocks(spark)
      // the warm pass's wall is RECORDED (ADVICE r16): when it lands on
      // a query whose fingerprint-keyed artifact is still cold, it pays
      // the one-time build off the clock — the wall (plus the
      // artifact_builds journal fold below) keeps that cost visible in
      // the capture regardless of heap state
      val qStartMs = System.currentTimeMillis()
      val warm =
        if (gcIfPressured()) {
          val t0 = System.nanoTime()
          try fn(spark, sfDir).count() catch { case _: Throwable => -1L }
          Some((System.nanoTime() - t0) / 1e9)
        } else None
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
        (System.nanoTime() - t0) / 1e9
      }
      // third, untimed pass: plan-shape counters (VERDICT r6 item 8)
      val m = planMetrics(spark, fn, sfDir)
      (name, fn, times, m, loadQ, warm, (qStartMs, System.currentTimeMillis()))
    }
    // IN-RUN NOISE GATE (VERDICT r12 item 5): the official capture box
    // is loaded (r12 loadavg 1.7→2.3); a query whose best-of-2 wall is
    // >2× its prior round's wall UNDER IDENTICAL PLAN METRICS is a
    // scheduling spike, not a regression — re-run it (up to 3 tries,
    // stop once within 1.5× of prior) and report the overall best. All
    // raw runs are still emitted, so nothing is hidden.
    val prior = loadPrior(sfDir, cpus)
    // "same plan" for the gate: scan rows + shuffle records EXACT,
    // shuffle bytes within 1% — byte counts jitter a handful of bytes
    // across runs (compression framing; 54/181 queries differed from
    // their r14 selves by <0.01%), and demanding exact bytes kept the
    // gate structurally dead for half the surface (VERDICT r15 #1b)
    def samePlan(now: (Long, Long, Long), p: (Long, Long, Long)): Boolean =
      now._1 >= 0 && p._1 >= 0 && now._1 == p._1 && now._2 == p._2 &&
        math.abs(now._3 - p._3) <= math.max(p._3 / 100, 64L)
    val results = timed.map { case (name, fn, times, m, loadQ, warm, win) =>
      val planNow = m._1
      val rerun = prior.get(name) match {
        case Some((pSec, pPlan))
            if samePlan(planNow, pPlan)
              && times.min > 2 * pSec && times.min - pSec > 0.2 =>
          val extra = scala.collection.mutable.ArrayBuffer.empty[Double]
          // same hygiene as the timed runs: sweep pins, and repay any
          // GC's soft-ref evictions with an untimed warm pass
          releasePinnedBlocks(spark)
          if (gcIfPressured()) {
            try fn(spark, sfDir).count() catch { case _: Throwable => -1L }
          }
          var tries = 0
          while (tries < 3 && (extra.isEmpty || extra.min > 1.5 * pSec)) {
            tries += 1
            val t0 = System.nanoTime()
            try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
            extra += (System.nanoTime() - t0) / 1e9
          }
          extra.toSeq
        case _ => Nil
      }
      val all = times ++ rerun
      (name, all.min, all, m, loadQ, rerun.length, warm, win)
    }
    val loadAfter = os.getSystemLoadAverage
    def f(d: Double) = "%.4f".format(d)
    val qs = results.map { case (k, v, _, _, _, _, _, _) => s"\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val runs = results.map { case (k, _, ts, _, _, _, _, _) =>
      s"\"" + k + "\":[" + ts.map(f).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val mets = results.map { case (k, _, _, ((sc, sr, sb), (jc, jr, jb)), _, _, _, _) =>
      s"\"" + k + s"""":{"scan_rows":$sc,"shuffle_records":$sr,"shuffle_bytes":$sb,""" +
        s""""job_scan_rows":$jc,"job_shuffle_records":$jr,"job_shuffle_bytes":$jb}"""
    }.mkString("{", ",", "}")
    // noise-gate annotations: which queries were re-run (count), and
    // the loadavg sampled as each query started
    val reruns = results.filter(_._6 > 0)
      .map { case (k, _, _, _, _, n, _, _) => s"\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    val loadQ = results.map { case (k, _, _, _, l, _, _, _) =>
      s"\"" + k + "\":" + "%.2f".format(l)
    }.mkString("{", ",", "}")
    // untimed warm-pass walls (ADVICE r16): a cold artifact build paid
    // off the clock must stay visible in the capture
    val warmRuns = results.flatMap { case (k, _, _, _, _, _, w, _) =>
      w.map(sec => s"\"" + k + "\":" + f(sec))
    }.mkString("{", ",", "}")
    // artifact builds paid during THIS run, from the IndexStore journal
    // (VERDICT r16 #2): keyed by ARTIFACT, each with its per-stage
    // walls + notes and the query whose window paid it — so cold-build
    // costs are never attributed to whichever consumer ran first
    val artifactBuilds = {
      val windows = results.map { case (k, _, _, _, _, _, _, (a, b)) =>
        (k, a, b)
      }
      journalSince(journalStart).map { rec =>
        val payer = windows.find { case (_, a, b) =>
          rec.tEndMs >= a && rec.tEndMs <= b
        }.map(_._1).getOrElse("")
        s"${jsonKey(rec.artifact)}:{" +
          s""""kind":${jsonKey(rec.kind)},"build_secs":${f(rec.secs)},""" +
          s""""stages":${rec.stages},"notes":${rec.notes},""" +
          s""""during_query":${jsonKey(payer)}}"""
      }.mkString("{", ",", "}")
    }
    val total = results.map(_._2).sum
    // reference-comparable single-socket ingest (best-of-2, rows/s)
    val ingest = math.max(cdcIngestRate(100000), cdcIngestRate(100000))
    // measured catch-up drain on planted backlogs, each through the
    // BACKLOG-AWARE planner (maxN=8; GtidRangeCuts.adaptiveN picks the
    // fan-out) vs the forced serial single-connection drain. At 100k the
    // adaptive planner itself chooses serial (span < 2^17), so the pair
    // pins "shallow backlog no longer pays the 8-way setup tax"; at 1M it
    // fans out to 7 and the pair pins the parallel win.
    // untimed warm-up: the first replay drain pays JIT + classloading of
    // the CdcTailer/CdcReplayReader paths; without it the first measured
    // capture (historically the parallel one) eats that cost and the
    // par-vs-serial comparison is ordering noise, not planner truth
    catchupRate(20000, 1)
    // At 100k the adaptive planner picks ONE connection, so the
    // "maxN=8" and the forced-serial drain are the IDENTICAL plan —
    // measuring them as separate samples invites a noise flip on a
    // ~0.1s drain (the r10 first capture showed an 18% phantom gap).
    // One sample set feeds both fields; catchup_plan_connections makes
    // the planner's choice explicit. The 1M pair is a REAL comparison
    // (7-way vs serial) and measures separately, interleaved.
    val shallowConns = graft.sources.cdc.GtidRangeCuts
      .adaptiveN(None, graft.sources.cdc.Gtid(0, 1, 100000), 8)
    val shallow = (1 to 3).map(_ => catchupRate(100000, 8)).max
    val (catchupPar, catchupSer) =
      if (shallowConns == 1) (shallow, shallow)
      else (shallow, (1 to 3).map(_ => catchupRate(100000, 1)).max)
    val deep = (1 to 3).map(_ => (catchupRate(1000000, 8), catchupRate(1000000, 1)))
    val (catchup1mPar, catchup1mSer) = (deep.map(_._1).max, deep.map(_._2).max)
    val deepConns = graft.sources.cdc.GtidRangeCuts
      .adaptiveN(None, graft.sources.cdc.Gtid(0, 1, 1000000), 8)
    def r0(d: Double) = "%.0f".format(d)
    val rates = s""""cdc_ingest_rows_per_sec":${r0(ingest)},""" +
      s""""catchup_rows_per_sec":${r0(catchupPar)},""" +
      s""""catchup_serial_rows_per_sec":${r0(catchupSer)},""" +
      s""""catchup_plan_connections":$shallowConns,""" +
      s""""catchup_1m_rows_per_sec":${r0(catchup1mPar)},""" +
      s""""catchup_1m_serial_rows_per_sec":${r0(catchup1mSer)},""" +
      s""""catchup_1m_plan_connections":$deepConns"""
    val common = s""""loadavg":{"before":${f(loadBefore)},"after":${f(loadAfter)}},"cpus":$cpus,"sf":"$sfDir""""
    val full = s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,"runs":$runs,"plan_metrics":$mets,"reruns":$reruns,"warm_runs":$warmRuns,"artifact_builds":$artifactBuilds,"loadavg_per_query":$loadQ,$rates,$common}"""
    // Full payload (per-query runs + plan counters, ~15 KB) goes to a
    // FILE: the driver's bench capture keeps only a stdout tail, and a
    // 15 KB line loses its head to the truncation (BENCH_r08/r09
    // "parsed": null). Stdout gets a compact summary as the very last
    // line, after spark.stop() so no shutdown logging lands behind it.
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
      (full + "\n").getBytes("UTF-8"))
    // ALSO persist under a (cpus, sf)-keyed name: bench_out.json is
    // clobbered by every run of any configuration, which is how the r15
    // noise gate found no comparable prior at driver time (the freshest
    // file was a cpus-24 sf1 audit). The keyed detail survives other
    // configurations' runs; committed ones survive rounds.
    // full-surface runs only: a fresher SUBSET capture would shadow the
    // full prior (loadPrior takes the newest matching file whole)
    if (only.isEmpty) {
      val sfKey = sfDir.replaceAll(".*sf", "").replaceAll("[^0-9.]", "")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"bench_detail_cpus${cpus}_sf$sfKey.json"),
        (full + "\n").getBytes("UTF-8"))
    }
    println(full)
    val top = results.sortBy(-_._2).take(30)
      .map { case (k, v, _, _, _, _, _, _) => s"\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    spark.stop()
    println(s"""{"metric":"total","value":${f(total)},"unit":"sec","n_queries":${results.length},"queries":$top,"reruns":$reruns,$rates,$common,"detail_file":"bench_out.json"}""")
  }
}
