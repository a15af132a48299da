package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `parent` is the id of the
  * span that caused it (0 for a root); spans of one query, micro-batch
  * or drain share a `trace` id. Times are `System.nanoTime` values. */
final case class Span(id: Long, parent: Long, trace: String, name: String,
    layer: String, start: Long, end: Long)

/** In-memory span recorder; written out once, at exit.
  *
  * Spans come from two sources: the benchmark's own calls into a layer
  * ([[span]]), and Spark's listener events, which [[ExecListener]] turns
  * into child spans of the call that submitted them (the submitting
  * thread's open span id rides along as a job property). */
final class Tracer {
  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong
  /** Wall-clock to nanoTime offset, for listener events stamped in ms. */
  val epochOffsetNs: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L
  /** Ids of the spans open on the calling thread, innermost first. */
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def newId(): Long = ids.incrementAndGet()

  /** Time `f` as a span of `layer`. Jobs it submits become its children. */
  def span[T](sc: SparkContext, layer: String, name: String, trace: String)(f: => T): T =
    if (!on) f
    else {
      val id = newId()
      val stack = open.get
      val parent = stack.headOption.getOrElse(0L)
      open.set(id :: stack)
      val prevProp = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, s"$id|$trace")
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, trace, name, layer, t0, System.nanoTime()))
        sc.setLocalProperty(Tracer.SpanProp, prevProp)
        open.set(stack)
      }
    }

  def add(s: Span): Unit = if (on) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq

  /** Move span `id` under `parent`. */
  def reparent(id: Long, parent: Long): Unit =
    spans.asScala.find(_.id == id).foreach { s =>
      spans.remove(s)
      spans.add(s.copy(parent = parent))
    }

  /** Per layer: the sum over its spans of duration minus the part of the
    * span covered by its children, in ms. */
  def selfTimeMs: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, group) =>
      layer -> group.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }
          .sortBy(_._1)
        var total = 0L
        var curA = Long.MinValue
        var curB = Long.MinValue
        covered.foreach { case (a, b) =>
          if (a > curB) {
            if (curB > curA) total += curB - curA
            curA = a; curB = b
          } else if (b > curB) curB = b
        }
        if (curB > curA) total += curB - curA
        (s.end - s.start - total) / 1e6
      }.sum
    }
  }

  /** Write every span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"trace":${Json.str(s.trace)},""" +
        s""""name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val LayerProp = "perfbench.layer"
}

/** Task and job counters from Spark's public listener API, collected
  * while `active`; each job also becomes a span under the benchmark call
  * that submitted it. */
final class ExecListener(tracer: Tracer) extends SparkListener {
  @volatile var active = false
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val jobWallMs = new AtomicLong
  val taskRunMs = new AtomicLong
  val taskCpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val schedDelayMs = new AtomicLong
  val scanRows = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val spillBytes = new AtomicLong
  /** Jobs started while `active`, per benchmark layer (the submitting
    * thread's layer). */
  val jobsByLayer = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  /** Task durations of leaf stages (stages that read a source), ms. */
  val leafTaskMs = new ConcurrentLinkedQueue[java.lang.Long]()
  val leafStageTasks = new ConcurrentLinkedQueue[java.lang.Integer]()

  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  private val leafStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  def reset(): Unit = {
    Seq(jobs, stages, tasks, jobWallMs, taskRunMs, taskCpuNs, gcMs, schedDelayMs,
      scanRows, shuffleWriteBytes, shuffleReadBytes, spillBytes).foreach(_.set(0))
    jobsByLayer.clear(); leafTaskMs.clear(); leafStageTasks.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    if (!active) return
    val layer = Option(e.properties).map(_.getProperty(Tracer.LayerProp)).orNull
    if (layer != null)
      jobsByLayer.computeIfAbsent(layer, _ => new AtomicLong).incrementAndGet()
    jobs.incrementAndGet()
    val span = Option(e.properties).map(_.getProperty(Tracer.SpanProp)).orNull
    jobStart.put(e.jobId, (e.time, span))
    e.stageInfos.foreach(si => if (si.parentIds.isEmpty) leafStages.add(si.stageId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val st = jobStart.remove(e.jobId)
    if (st == null) return
    jobWallMs.addAndGet(e.time - st._1)
    if (st._2 != null) {
      val Array(parent, trace) = st._2.split("\\|", 2)
      tracer.add(Span(tracer.newId(), parent.toLong, trace, s"job ${e.jobId}",
        "spark.job", st._1 * 1000000L + tracer.epochOffsetNs,
        e.time * 1000000L + tracer.epochOffsetNs))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (active) {
      stages.incrementAndGet()
      if (leafStages.remove(e.stageInfo.stageId))
        leafStageTasks.add(e.stageInfo.numTasks)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (!active) return
    tasks.incrementAndGet()
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      scanRows.addAndGet(m.inputMetrics.recordsRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      if (info != null) schedDelayMs.addAndGet(math.max(0L, info.duration -
        m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime))
    }
    if (info != null && leafStages.contains(e.stageId))
      leafTaskMs.add(info.duration)
  }
}

/** Minimal JSON writing. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}

object Stats {
  /** Percentile by linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.length
}

/** Metrics of one run, in print order. */
final class Metrics {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = values(name) = (value, unit)
}
