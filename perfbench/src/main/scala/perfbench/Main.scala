package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** State shared by a run's workload code. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val traceRun: Boolean, val cpus: Int, val benchDir: Path, val workDir: Path,
    val tracer: Tracer, val exec: ExecListener) {
  val m = new Metrics
  var attempted = 0L
  var failed = 0L
  def dataDir: String = benchDir.resolve("data").resolve("sf0.01").toString

  def fail(msg: String): Unit = synchronized {
    failed += 1
    System.err.println(s"[perfbench] FAIL $msg")
  }

  /** Marks the end of set-up: `setup_s` runs from JVM start to here. */
  private var setupS = Double.NaN
  def setupDone(): Unit = if (setupS.isNaN) {
    val start = ManagementFactory.getRuntimeMXBean.getStartTime
    setupS = (System.currentTimeMillis() - start) / 1000.0
  }
  def setupSeconds: Double = setupS

  private var overheadFrac = Double.NaN
  /** Traced over untraced cost of the same work, minus one. */
  def overhead(f: Double): Unit = overheadFrac = f
  def overheadValue: Double = overheadFrac
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --bench-dir <dir> --work-dir <dir> --cpus <n>`; prints the result as
  * one JSON line, last on stdout. */
object Main {
  val Workloads = Seq("batch_suite", "cdc_tail", "cdc_backfill")

  /** Every per-layer metric, with its unit; a traced run prints all of
    * them, 0 for layers its workload does not exercise. */
  val PerLayer: Seq[(String, String)] = Seq(
    "operators.construct_ms" -> "ms", "operators.eager_jobs" -> "count",
    "planning.analyze_ms" -> "ms", "planning.optimize_ms" -> "ms",
    "planning.physical_ms" -> "ms",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.tasks_per_job" -> "count", "exec.job_wall_ms" -> "ms",
    "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.sched_delay_ms" -> "ms", "exec.core_util" -> "fraction",
    "exec.scan_rows" -> "count", "exec.shuffle_write_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "pinned.rdds_after_query" -> "count", "pinned.bytes_after_query" -> "bytes",
    "index.build_s" -> "s", "index.artifacts_built" -> "count",
    "index.bytes" -> "bytes", "index.builds_in_timed" -> "count",
    "cdc.client.connect_ms" -> "ms", "cdc.client.read_ns_per_row" -> "ns",
    "cdc.wire_bytes_per_row" -> "bytes",
    "cdc.types.cast_ns_per_row" -> "ns",
    "cdc.emitter.blocked_ms" -> "ms", "cdc.emitter.idle_ms" -> "ms",
    "cdc.connections" -> "count", "cdc.wire_rows_per_committed_row" -> "ratio",
    "cdc.replay.partitions" -> "count", "cdc.replay.task_ms_max" -> "ms",
    "cdc.replay.task_ms_median" -> "ms", "cdc.replay.skew" -> "ratio",
    "cdc.stream.batches" -> "count", "cdc.stream.rows_per_batch" -> "count",
    "cdc.stream.latest_offset_ms" -> "ms", "cdc.stream.query_planning_ms" -> "ms",
    "cdc.stream.get_batch_ms" -> "ms", "cdc.stream.wal_commit_ms" -> "ms",
    "cdc.stream.commit_offsets_ms" -> "ms", "cdc.stream.trigger_ms" -> "ms",
    "cdc.stream.backlog_events_max" -> "count", "cdc.stream.backlog_events_mean" -> "count",
    "sink.write_ms" -> "ms", "sink.state_bytes" -> "bytes",
    "sink.state_files" -> "count", "sink.keys" -> "count",
    "gen.late_ms_p99" -> "ms",
    "trace.overhead_frac" -> "fraction") ++
    SelfLayers.map(l => s"self.$l" -> "ms")

  /** Span layers whose self time a traced run reports. */
  lazy val SelfLayers: Seq[String] = Seq("query", "operators", "planning.analyze",
    "planning.optimize", "planning.physical", "exec", "spark.job",
    "cdc.client", "cdc.types", "cdc.backfill", "cdc.stream", "sink")

  /** Each workload's own end-to-end metrics, printed by
    * name on their own line before the result. */
  val Named: Map[String, Seq[(String, String)]] = Map(
    "batch_suite" -> Seq("suite_s" -> "s", "query_p50_ms" -> "ms", "query_p90_ms" -> "ms"),
    "cdc_tail" -> Seq("tail_lag_p50_ms" -> "ms", "tail_lag_p99_ms" -> "ms",
      "tail_capacity_rows_per_s" -> "rows/s"),
    "cdc_backfill" -> Seq("backfill_rows_per_s" -> "rows/s", "client_rows_per_s" -> "rows/s"))

  /** The result's end-to-end metrics. Every workload reports each of
    * them, measured on its own unit of work:
    *  - `latency_p50_ms`: batch_suite, the median query wall; cdc_tail,
    *    the median event lag at the fixed rate; cdc_backfill, the median
    *    wall of one parallel drain of the backlog (step (a));
    *  - `latency_high_ms`: batch_suite, the 90th-percentile query wall;
    *    cdc_tail, the 99th-percentile lag; cdc_backfill, the wall of the
    *    slowest timed drain of step (a). Step (b), the single-connection
    *    client, is printed as `client_rows_per_s` but not gated: one
    *    thread's speed on a shared 4-core machine swings with the load
    *    on the core it runs on, and its median moved 25% between two
    *    sets of ten runs of the same code;
    *  - `rate_per_s`: batch_suite, queries per second of timed wall;
    *    cdc_tail, rows committed per second when saturated; cdc_backfill,
    *    rows per second through step (a). */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "peak_rss_mb" -> "MB",
    "latency_p50_ms" -> "ms", "latency_high_ms" -> "ms", "rate_per_s" -> "1/s")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(Workloads.contains(workload) || workload == "fingerprints",
      s"unknown workload '$workload' (one of ${Workloads.mkString(", ")})")
    val cpus = a.getOrElse("cpus", "4").toInt
    val workDir = Paths.get(a("work-dir")).toAbsolutePath
    Files.createDirectories(workDir)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", workDir.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer
    val exec = new ExecListener(tracer)
    spark.sparkContext.addSparkListener(exec)
    val ctx = new Ctx(spark, a.getOrElse("seed", "1").toLong, a.getOrElse("seconds", "10").toInt,
      a.getOrElse("trace", "0") == "1", cpus, Paths.get(a("bench-dir")).toAbsolutePath,
      workDir, tracer, exec)
    var crashed: Throwable = null
    try workload match {
      case "batch_suite" => BatchSuite.run(ctx)
      case "cdc_tail" => CdcTail.run(ctx)
      case "cdc_backfill" => CdcBackfill.run(ctx)
      case "fingerprints" =>
        BatchSuite.makeFingerprints(ctx, a("verify-out"), Paths.get(a("out")))
    } catch { case e: Throwable => crashed = e }
    finally {
      try spark.stop() catch { case _: Throwable => () }
    }
    if (crashed != null) {
      crashed.printStackTrace()
      System.err.println(s"[perfbench] run aborted: $crashed")
      sys.exit(3)
    }
    if (workload == "fingerprints") return
    if (ctx.traceRun) {
      val spans = workDir.resolve("spans.jsonl")
      tracer.write(spans)
      val self = tracer.selfTimeMs
      SelfLayers.foreach(l => ctx.m.put(s"self.$l", self.getOrElse(l, 0.0), "ms"))
      ctx.m.put("trace.overhead_frac", ctx.overheadValue, "fraction")
    } else {
      ctx.m.put("setup_s", ctx.setupSeconds, "s")
      ctx.m.put("peak_rss_mb", peakRssMb(), "MB")
      val named = Named(workload).map { case (n, u) =>
        f"$n=${ctx.m.values.get(n).map(_._1).getOrElse(Double.NaN)}%.4f $u"
      }
      println(s"[perfbench] $workload: " + (named :+
        f"fail_frac=${ctx.failed.toDouble / math.max(1L, ctx.attempted)}%.6f fraction").mkString(", "))
    }
    val names = if (ctx.traceRun) PerLayer else EndToEnd
    val metrics = names.map { case (n, unit) =>
      val v = ctx.m.values.get(n).map(_._1).getOrElse(0.0)
      s"${Json.str(n)}: {${Json.str("value")}: ${Json.num(v)}, ${Json.str("unit")}: ${Json.str(unit)}}"
    }
    // an end-to-end metric must be measured; a per-layer one is 0 when
    // the workload does not enter its layer
    val missing = names.filter { case (n, _) =>
      ctx.m.values.get(n) match {
        case None => !ctx.traceRun
        case Some((v, _)) => v.isNaN || v.isInfinite
      }
    }
    missing.foreach { case (n, _) => ctx.fail(s"metric $n was not measured") }
    val correct = ctx.failed == 0
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, ctx.attempted)}, """ +
      s""""failed": ${ctx.failed}, "metrics": {${metrics.mkString(", ")}}}""")
  }

  /** Peak resident set of this process (Linux `VmHWM`). */
  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) return Double.NaN
    scala.io.Source.fromFile(status.toFile).getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}
