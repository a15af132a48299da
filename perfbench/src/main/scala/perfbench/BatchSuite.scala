package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.perfbench.BusAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}

import scala.jdk.CollectionConverters._

/** `batch_suite`: one client, closed loop, running the suite's queries
  * from `SparkEntry.queries` one at a time.
  *
  * Each query is timed from the builder call until every output row of
  * its executed plan has been consumed (not `Dataset.count()`, which
  * lets the optimizer drop the columns and final sorts a user pays for).
  * The consumed rows are fingerprinted (row count plus an
  * order-insensitive row hash) and checked against `fingerprints.json`.
  *
  * Set-up runs one untimed warm pass of the suite, which also builds
  * every `IndexStore` artifact into the run's fresh index directory.
  */
object BatchSuite {

  /** Timed passes at least; each query's wall is its median over them. */
  val TimedPasses = 2

  /** Row count and order-insensitive hash of a query's output. */
  final case class Fingerprint(rows: Long, lo: Long, hi: Long) {
    def json: String = s"[$rows,$lo,$hi]"
  }

  /** Execute the query's physical plan as a user action would, consuming
    * and hashing every row it produces. */
  def consume(qe: QueryExecution): Fingerprint = {
    val plan = qe.executedPlan
    val schema = plan.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      plan.execute().mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L
        var lo = 0L
        var hi = 0L
        while (it.hasNext) {
          val r = proj(it.next())
          val h = XXH64.hashUnsafeBytes(r.getBaseObject, r.getBaseOffset, r.getSizeInBytes, 42L)
          n += 1; lo += h & 0xffffffffL; hi += h >>> 32
        }
        Iterator((n, lo, hi))
      }.collect()
    }
    Fingerprint(parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).sum)
  }

  def loadFingerprints(p: Path): Map[String, Fingerprint] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
    node.fields().asScala.map { e =>
      val a = e.getValue
      e.getKey -> Fingerprint(a.get(0).asLong, a.get(1).asLong, a.get(2).asLong)
    }.toMap
  }

  /** Walls of one query execution, in ms, phase by phase. */
  final case class Walls(construct: Double, analyze: Double, optimize: Double,
      physical: Double, exec: Double) {
    def total: Double = construct + analyze + optimize + physical + exec
  }

  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  /** Run one query; every phase is entered through a tracer span and
    * tagged with its layer, so listener jobs are attributed to it. */
  def runQuery(ctx: Ctx, name: String, fn: (SparkSession, String) => DataFrame,
      pass: Int): (Walls, Fingerprint) = {
    val sc = ctx.spark.sparkContext
    val tr = ctx.tracer
    val trace = s"$name#$pass"
    def layer[T](l: String)(f: => T): T = {
      sc.setLocalProperty(Tracer.LayerProp, l)
      try tr.span(sc, l, s"$l $name", trace)(f)
      finally sc.setLocalProperty(Tracer.LayerProp, null)
    }
    tr.span(sc, "query", name, trace) {
      val t0 = System.nanoTime()
      val df = layer("operators")(fn(ctx.spark, ctx.dataDir))
      val t1 = System.nanoTime()
      val qe = df.queryExecution
      layer("planning.analyze")(qe.analyzed)
      val t2 = System.nanoTime()
      layer("planning.optimize")(qe.optimizedPlan)
      val t3 = System.nanoTime()
      layer("planning.physical")(qe.executedPlan)
      val t4 = System.nanoTime()
      val fp = layer("exec")(consume(qe))
      val t5 = System.nanoTime()
      (Walls(ms(t0, t1), ms(t1, t2), ms(t2, t3), ms(t3, t4), ms(t4, t5)), fp)
    }
  }

  def suiteNames(ctx: Ctx): Seq[String] =
    Files.readAllLines(ctx.benchDir.resolve("suite.txt")).asScala
      .map(_.trim).filter(n => n.nonEmpty && !n.startsWith("#")).toSeq

  /** One pass over `order`; returns each query's walls (None = failed). */
  private def pass(ctx: Ctx, order: Seq[String], expected: Map[String, Fingerprint],
      passNo: Int, check: Boolean): Seq[(String, Option[Walls])] = {
    val queries = graft.SparkEntry.queries
    order.map { name =>
      if (check) ctx.attempted += 1
      val r = queries.get(name) match {
        case None =>
          if (check) ctx.fail(s"$name: not in SparkEntry.queries")
          None
        case Some(fn) =>
          try {
            val (w, fp) = runQuery(ctx, name, fn, passNo)
            if (check && !expected.get(name).contains(fp)) {
              ctx.fail(s"$name: fingerprint ${fp.json} != expected " +
                expected.get(name).map(_.json).getOrElse("(none)"))
              None
            } else Some(w)
          } catch {
            case e: Throwable =>
              if (check) ctx.fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
              None
          }
      }
      if (check) pinnedAfterQuery(ctx)
      name -> r
    }
  }

  /** The untimed warm pass: every query once, from `ctx.cpus` client
    * threads taking queries in the seeded order. It pays first-run costs
    * (class loading, code generation, every `IndexStore` build) before
    * the clock starts; its results are not checked, the timed pass's
    * are. */
  private def warm(ctx: Ctx, order: Seq[String]): Unit = {
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[String](order.asJava)
    val threads = (1 to ctx.cpus).map { i =>
      new Thread(() => {
        var name = queue.poll()
        while (name != null) {
          try graft.SparkEntry.queries.get(name).foreach(fn => runQuery(ctx, name, fn, 0))
          catch { case e: Throwable => System.err.println(s"[perfbench] warm $name: $e") }
          name = queue.poll()
        }
      }, s"perfbench-warm-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  private var pinnedRdds = 0.0
  private var pinnedBytes = 0.0
  private def pinnedAfterQuery(ctx: Ctx): Unit = if (ctx.tracer.on) {
    val sc = ctx.spark.sparkContext
    pinnedRdds = math.max(pinnedRdds, sc.getPersistentRDDs.size.toDouble)
    pinnedBytes = math.max(pinnedBytes,
      sc.getRDDStorageInfo.map(i => (i.memSize + i.diskSize).toDouble).sum)
  }

  private def journal(): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val p = graft.IndexStore.buildsJournal
    if (!Files.exists(p)) Nil
    else {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      Files.readAllLines(p).asScala.filter(_.trim.nonEmpty).map(m.readTree).toSeq
    }
  }

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def run(ctx: Ctx): Unit = {
    val expected = loadFingerprints(ctx.benchDir.resolve("fingerprints.json"))
    val order = new scala.util.Random(ctx.seed).shuffle(suiteNames(ctx))
    warm(ctx, order)
    val built = journal()
    ctx.setupDone()

    val t0 = System.nanoTime()
    val passes = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Option[Walls])]]
    if (!ctx.traceRun) {
      while (passes.length < TimedPasses || (System.nanoTime() - t0) / 1e9 < ctx.seconds)
        passes += pass(ctx, order, expected, passes.length + 1, check = true)
      val perQuery = order.flatMap { n =>
        val ws = passes.flatMap(_.find(_._1 == n).flatMap(_._2)).map(_.total)
        if (ws.isEmpty) None else Some(Stats.median(ws.toSeq))
      }
      ctx.m.put("suite_s", perQuery.sum / 1000.0, "s")
      ctx.m.put("query_p50_ms", Stats.pct(perQuery, 50), "ms")
      ctx.m.put("query_p90_ms", Stats.pct(perQuery, 90), "ms")
      ctx.m.put("latency_p50_ms", Stats.pct(perQuery, 50), "ms")
      ctx.m.put("latency_high_ms", Stats.pct(perQuery, 90), "ms")
      ctx.m.put("rate_per_s", perQuery.length / (perQuery.sum / 1000.0), "1/s")
    } else {
      // the traced pass the layer metrics come from, between two
      // untraced passes, so warm-up does not bias the overhead
      val plain = pass(ctx, order, expected, 1, check = true)
      val sc = ctx.spark.sparkContext
      BusAccess.drain(sc)
      ctx.exec.reset()
      ctx.exec.active = true
      ctx.tracer.on = true
      val tp0 = System.nanoTime()
      val traced = pass(ctx, order, expected, 2, check = true)
      val wallMs = (System.nanoTime() - tp0) / 1e6
      ctx.tracer.on = false
      BusAccess.drain(sc)
      ctx.exec.active = false
      val plainAfter = pass(ctx, order, expected, 3, check = true)
      val ws = traced.flatMap(_._2)
      val e = ctx.exec
      val m = ctx.m
      m.put("operators.construct_ms", ws.map(_.construct).sum, "ms")
      m.put("operators.eager_jobs", layerJobs(ctx, "operators"), "count")
      m.put("planning.analyze_ms", ws.map(_.analyze).sum, "ms")
      m.put("planning.optimize_ms", ws.map(_.optimize).sum, "ms")
      m.put("planning.physical_ms", ws.map(_.physical).sum, "ms")
      m.put("exec.jobs", e.jobs.get.toDouble, "count")
      m.put("exec.stages", e.stages.get.toDouble, "count")
      m.put("exec.tasks", e.tasks.get.toDouble, "count")
      m.put("exec.tasks_per_job", e.tasks.get.toDouble / math.max(1L, e.jobs.get), "count")
      m.put("exec.job_wall_ms", e.jobWallMs.get.toDouble, "ms")
      m.put("exec.task_run_ms", e.taskRunMs.get.toDouble, "ms")
      m.put("exec.task_cpu_ms", e.taskCpuNs.get / 1e6, "ms")
      m.put("exec.gc_ms", e.gcMs.get.toDouble, "ms")
      m.put("exec.sched_delay_ms", e.schedDelayMs.get.toDouble, "ms")
      m.put("exec.core_util", e.taskRunMs.get / (wallMs * ctx.cpus), "fraction")
      m.put("exec.scan_rows", e.scanRows.get.toDouble, "count")
      m.put("exec.shuffle_write_bytes", e.shuffleWriteBytes.get.toDouble, "bytes")
      m.put("exec.shuffle_read_bytes", e.shuffleReadBytes.get.toDouble, "bytes")
      m.put("exec.spill_bytes", e.spillBytes.get.toDouble, "bytes")
      m.put("pinned.rdds_after_query", pinnedRdds, "count")
      m.put("pinned.bytes_after_query", pinnedBytes, "bytes")
      val plainMs = (plain ++ plainAfter).flatMap(_._2).map(_.total).sum / 2
      ctx.overhead(ws.map(_.total).sum / math.max(plainMs, 1e-9) - 1.0)
    }
    val all = journal()
    ctx.m.put("index.build_s", built.map(_.get("build_secs").asDouble).sum, "s")
    ctx.m.put("index.artifacts_built", built.length.toDouble, "count")
    ctx.m.put("index.bytes", treeBytes(graft.IndexStore.buildsJournal.getParent).toDouble, "bytes")
    val inTimed = all.length - built.length
    ctx.m.put("index.builds_in_timed", inTimed.toDouble, "count")
    if (inTimed > 0) ctx.fail(s"$inTimed IndexStore builds ran inside the timed window")
  }

  private def layerJobs(ctx: Ctx, layer: String): Double =
    Option(ctx.exec.jobsByLayer.get(layer)).map(_.get.toDouble).getOrElse(0.0)

  /** Reference fingerprints: every query executed live, cross-checked
    * against the same query's rows as written by `graft.Verify` (whose
    * output the DuckDB oracle has certified), then written to `out`. */
  def makeFingerprints(ctx: Ctx, verifyOut: String, out: Path): Unit = {
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val lines = names.map { name =>
      val live = runQuery(ctx, name, graft.SparkEntry.queries(name), 0)._2
      val again = runQuery(ctx, name, graft.SparkEntry.queries(name), 0)._2
      val certified = consume(ctx.spark.read.parquet(s"$verifyOut/$name").queryExecution)
      require(live == again, s"$name: output differs between two runs: ${live.json} vs ${again.json}")
      require(live == certified,
        s"$name: live rows ${live.json} differ from the oracle-checked rows ${certified.json}")
      s"  ${Json.str(name)}: ${live.json}"
    }
    Files.writeString(out, lines.mkString("{\n", ",\n", "\n}\n"))
  }
}
