package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import org.apache.spark.perfbench.BusAccess
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.streaming.CdcSink

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `cdc_tail`: open loop. The benchmark's emitter logs seeded change
  * events on a schedule; a `readStream.format("maxscale-cdc")` query
  * with default options upserts them through `CdcSink.writer` (key `id`,
  * order `sequence`, deletes tombstoned, update-before images dropped).
  *
  * After a warm-up at the phase-1 rate, phase 2 keeps at least one full
  * `maxEventsPerBatch` queued, so every micro-batch is full, and
  * measures rows committed to the sink per second (update-before images
  * are not rows of the sink). Phase 1 then offers a fixed rate
  * ([[Phase1Rate]] events/s) and measures lag: each event from when the
  * schedule made it due until the wrapped sink writer returns for the
  * batch whose end offset covers it. A run whose p99 lag exceeds
  * [[LagLimitMs]] did not keep up with the offered rate, and one whose
  * schedule ran more than [[LateLimitMs]] late (p99) did not offer it;
  * either fails. After a drain, the sink's state must equal the
  * generator's latest state per key.
  *
  * The phase-1 rate is about an eighth of the events/s phase 2 drains on
  * a 4-core machine, so the lag is mostly the per-batch fixed cost. Each
  * batch carries the events that arrived while the previous one ran, so
  * with fixed cost F and per-event cost c at rate r a batch takes
  * F / (1 - c r), and a slowdown of the whole machine reaches the lag
  * amplified by that factor. With F about 0.42 s and c about 10 us on a
  * 4-core machine, the factor is 1.1 here and 1.3 at 25000 events/s.
  */
object CdcTail {
  val Phase1Rate = 10000
  /** Phase-1 p99 lag above which the run fails: several times the p99
    * seen on a 4-core machine (0.9-1.4 s). */
  val LagLimitMs = 5000.0
  /** Phase-1 p99 schedule lateness above which the run fails (a few ms
    * is typical). */
  val LateLimitMs = 250.0
  /** Source default for `maxEventsPerBatch`; phase 2 keeps this queued. */
  val BatchEvents = 100000
  /** Events offered in phase 2, in full batches. */
  val Phase2Batches = 6
  /** Seconds of the phase-1 schedule run as warm-up, inside set-up. */
  val WarmSeconds = 5

  private val GtidEnd = """(\d+)-(\d+)-(\d+)""".r.unanchored

  final case class Progress(batchId: Long, rows: Long, start: Long, end: Long,
      startMs: Long, durations: Map[String, Long], head: Long, filtered: Boolean)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val gen = new CdcGen(ctx.seed, keys = 20000)
    val capacity = 4000000
    val emitter = new Emitter(CdcGen.SchemaLine, CdcGen.User, CdcGen.Password, capacity)
    val dueNs = new Array[Long](capacity + 2)
    val stateDir = ctx.workDir.resolve("sink-state").toString
    val progress = new ConcurrentLinkedQueue[Progress]()
    @volatile var committed = 0L
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.sources.nonEmpty && p.sources(0).endOffset != p.sources(0).startOffset) {
          val src = p.sources(0)
          def seqOf(offset: String) = offset match {
            case GtidEnd(_, _, s) => s.toLong
            case _ => 0L
          }
          progress.add(Progress(p.batchId, p.numInputRows, seqOf(src.startOffset),
            seqOf(src.endOffset), java.time.Instant.parse(p.timestamp).toEpochMilli,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
            emitter.head, src.metrics.get("pushdownFilterActive") == "true"))
        }
      }
    }
    spark.streams.addListener(listener)
    /** (batchId, writer start ns, writer end ns) */
    val writes = new ConcurrentLinkedQueue[(Long, Long, Long)]()
    val sink = CdcSink.writer(stateDir, "id", Seq("sequence"),
      deleteWhen = Some(col("event_type") === "delete"))
    val timedWriter: (DataFrame, Long) => Unit = { (df, batchId) =>
      val t0 = System.nanoTime()
      ctx.tracer.span(sc, "sink", s"sink batch $batchId", s"batch#$batchId")(sink(df, batchId))
      writes.add((batchId, t0, System.nanoTime()))
    }

    // every operation of the run is generated in set-up, so generating
    // events (and collecting what that allocates) costs no measured batch
    val ops = ArrayBuffer.empty[Array[Array[Byte]]]
    val opId = ArrayBuffer.empty[Int]
    val opHash = ArrayBuffer.empty[Long]
    var generated = 0L
    def pregen(events: Long): Unit = {
      val target = generated + events
      while (generated < target) {
        val lines = gen.next()
        ops += lines; opId += gen.lastId; opHash += gen.lastStateHash
        generated += lines.length
      }
    }
    var used = 0
    var logged = 0L
    def appendOp(due: Long): Int = {
      if (used == ops.length) pregen(1)
      val lines = ops(used)
      used += 1
      var i = 0
      while (i < lines.length) { logged += 1; dueNs(logged.toInt) = due; i += 1 }
      emitter.append(lines)
      lines.length
    }
    def waitCommitted(target: Long, timeoutS: Int): Boolean = {
      val deadline = System.nanoTime() + timeoutS * 1000000000L
      while (committed < target && System.nanoTime() < deadline) {
        committed = math.max(committed, progress.asScala.map(_.end).foldLeft(0L)(math.max))
        Thread.sleep(5)
      }
      committed >= target
    }

    val query = spark.readStream.format("maxscale-cdc")
      .option("host", "127.0.0.1").option("port", emitter.port.toString)
      .option("table", CdcGen.Table)
      .option("user", CdcGen.User).option("password", CdcGen.Password)
      .load()
      .where(col("event_type") =!= "update_before")
      .writeStream
      .option("checkpointLocation", ctx.workDir.resolve("checkpoints").resolve("tail").toString)
      .foreachBatch(timedWriter)
      .start()
    try {
      /** Offer events at [[Phase1Rate]] for `seconds`, each due on the
        * schedule; returns how late each event was logged, in ms. */
      def offer(seconds: Int): ArrayBuffer[Double] = {
        val late = ArrayBuffer.empty[Double]
        val start = System.nanoTime()
        var events = 0L
        def nextDue = start + events * 1000000000L / Phase1Rate
        while (System.nanoTime() - start < seconds * 1000000000L) {
          while (nextDue <= System.nanoTime()) {
            val due = nextDue
            events += appendOp(due)
            late += (System.nanoTime() - due) / 1e6
          }
          emitter.publish()
          LockSupport.parkNanos(math.max(0L, math.min(nextDue - System.nanoTime(), 1000000L)))
        }
        late
      }

      // warm-up, inside set-up: a first small batch starts the stream,
      // then the phase-1 schedule runs untimed, so the measured batches
      // run compiled code against a settled state table
      pregen(1000 + (WarmSeconds + ctx.seconds).toLong * Phase1Rate +
        (if (ctx.traceRun) 3 else 1) * Phase2Batches.toLong * BatchEvents)
      while (logged < 1000) appendOp(System.nanoTime())
      emitter.publish()
      if (!waitCommitted(logged, 120)) throw new IllegalStateException("the first batch did not commit")
      offer(WarmSeconds)
      if (!waitCommitted(logged, 120)) throw new IllegalStateException("warm-up batches did not commit")
      System.gc()
      ctx.setupDone()
      val warmEnd = logged

      // phase 2: saturated. Keep at least one full batch queued until a
      // fixed amount of work has been offered, so every micro-batch is
      // full; capacity is the rows those batches committed to the sink
      // over the time from the commit before the first of them to the
      // commit of the last. A traced run measures a traced stretch
      // between two untraced ones.
      def saturate(): Double = {
        val from = logged
        val target = from + Phase2Batches * BatchEvents
        while (logged < target) {
          committed = math.max(committed, progress.asScala.map(_.end).foldLeft(0L)(math.max))
          while (logged - committed < 2L * BatchEvents && logged < target)
            appendOp(System.nanoTime())
          emitter.publish()
          Thread.sleep(2)
        }
        if (!waitCommitted(target, 120)) ctx.fail(s"stream did not commit up to $target")
        BusAccess.drain(sc)
        val commitNs = writes.asScala.map(w => w._1 -> w._3).toMap
        // the first batch starts on an idle stream and may be partial; it
        // only marks where the measured stretch begins
        val batches = progress.asScala.toSeq.sortBy(_.batchId)
          .filter(p => p.start >= from && p.end <= target && commitNs.contains(p.batchId))
        if (batches.length < 3) return Double.NaN
        val measured = batches.tail
        measured.map(_.rows).sum / ((commitNs(measured.last.batchId) - commitNs(batches.head.batchId)) / 1e9)
      }
      val capacityPlain = saturate()
      var capacityTraced = Double.NaN
      var capacityAfter = Double.NaN
      if (ctx.traceRun) {
        ctx.exec.reset()
        ctx.exec.active = true
        ctx.tracer.on = true
        capacityTraced = saturate()
        ctx.tracer.on = false
        BusAccess.drain(sc)
        ctx.exec.active = false
        capacityAfter = saturate()
      }

      // phase 1: fixed offered rate, after phase 2, so its small batches
      // run code that the full batches have compiled
      val p1Start = logged
      val late = offer(ctx.seconds)
      val p1End = logged

      // drain: every logged event committed
      val head = logged
      if (!waitCommitted(head, 120)) ctx.fail(s"stream did not commit up to $head (at $committed)")
      val wrote = writes.asScala.map(_._1).toSet
      val deadline = System.nanoTime() + 30000000000L
      while (!progress.asScala.filter(_.end >= head).forall(p => wrote.contains(p.batchId)) &&
          System.nanoTime() < deadline) Thread.sleep(5)
      query.stop()
      BusAccess.drain(sc)
      ctx.exec.active = false
      query.exception.foreach(e => ctx.fail(s"stream failed: $e"))

      // correctness: batches cover every event exactly once, each read
      // the rows its range holds (update-before images are dropped at
      // the wire when the filter is pushed down), and the final state
      val ps = progress.asScala.toSeq.sortBy(_.batchId)
      ctx.attempted += head
      var covered = 0L
      ps.foreach { p =>
        if (p.start != covered)
          ctx.fail(s"batch ${p.batchId} starts after event ${p.start}, previous batch ended at $covered")
        val ub = if (p.filtered) gen.updateBefore.get(p.start.toInt + 1, p.end.toInt + 1).cardinality else 0
        if (p.rows != p.end - p.start - ub)
          ctx.fail(s"batch ${p.batchId} read ${p.rows} rows for events (${p.start}, ${p.end}]")
        covered = p.end
      }
      if (covered != head) ctx.fail(s"batches cover events up to $covered of $head")
      val state = CdcSink.readState(spark, stateDir)
      val got = state.select(col("id"), xxhash64(CdcGen.Columns.map(c => col(c._1)): _*))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      // expected: each key's row after the last operation logged on it
      val last = new java.util.HashMap[Int, Long]()
      (0 until used).foreach(i => last.put(opId(i), opHash(i)))
      val exp = last.asScala.filter(_._2 != 0L).toMap
      val wrong = (exp.keySet ++ got.keySet).count(k => exp.get(k) != got.get(k))
      if (wrong > 0) ctx.fail(s"sink state differs from the expected latest state on $wrong keys " +
        s"(${got.size} rows, expected ${exp.size})")

      // lag: due time to the writer's return for the batch covering it
      val writeEnd = writes.asScala.map(w => w._1 -> w._3).toMap
      val lags = ArrayBuffer.empty[Double]
      var seq = p1Start + 1
      ps.foreach { p =>
        val t = writeEnd.get(p.batchId)
        while (seq <= p.end && seq <= p1End) {
          t.foreach(tt => lags += (tt - dueNs(seq.toInt)) / 1e6)
          seq += 1
        }
      }
      if (lags.length != p1End - p1Start) ctx.fail(s"lag measured for ${lags.length} of ${p1End - p1Start} events")
      val lagP99 = Stats.pct(lags.toSeq, 99)
      if (!(lagP99 <= LagLimitMs))
        ctx.fail(f"phase-1 p99 lag $lagP99%.1f ms exceeds the $LagLimitMs%.0f ms limit")
      val lateP99 = Stats.pct(late.toSeq, 99)
      if (!(lateP99 <= LateLimitMs))
        ctx.fail(f"the phase-1 schedule ran $lateP99%.1f ms late (p99), over the $LateLimitMs%.0f ms limit")

      val m = ctx.m
      if (!ctx.traceRun) {
        m.put("tail_lag_p50_ms", Stats.pct(lags.toSeq, 50), "ms")
        m.put("tail_lag_p99_ms", lagP99, "ms")
        m.put("tail_capacity_rows_per_s", capacityPlain, "rows/s")
        m.put("latency_p50_ms", Stats.pct(lags.toSeq, 50), "ms")
        m.put("latency_high_ms", lagP99, "ms")
        m.put("rate_per_s", capacityPlain, "1/s")
      } else {
        val measured = ps.filter(_.end > warmEnd)
        def dur(k: String) = Stats.median(measured.map(_.durations.getOrElse(k, 0L).toDouble))
        m.put("cdc.stream.batches", measured.length.toDouble, "count")
        m.put("cdc.stream.rows_per_batch", Stats.mean(measured.map(_.rows.toDouble)), "count")
        m.put("cdc.stream.latest_offset_ms", dur("latestOffset"), "ms")
        m.put("cdc.stream.query_planning_ms", dur("queryPlanning"), "ms")
        m.put("cdc.stream.get_batch_ms", dur("getBatch"), "ms")
        m.put("cdc.stream.wal_commit_ms", dur("walCommit"), "ms")
        m.put("cdc.stream.commit_offsets_ms", dur("commitOffsets"), "ms")
        m.put("cdc.stream.trigger_ms", dur("triggerExecution"), "ms")
        val backlog = measured.map(p => (p.head - p.end).toDouble)
        m.put("cdc.stream.backlog_events_max", backlog.max, "count")
        m.put("cdc.stream.backlog_events_mean", Stats.mean(backlog), "count")
        val sinkMs = writes.asScala.filter(_._1 >= measured.head.batchId).map(w => (w._3 - w._2) / 1e6).toSeq
        m.put("sink.write_ms", Stats.median(sinkMs), "ms")
        val files = listFiles(java.nio.file.Paths.get(stateDir))
        m.put("sink.state_bytes", files.map(Files.size).sum.toDouble, "bytes")
        m.put("sink.state_files", files.count(_.toString.endsWith(".parquet")).toDouble, "count")
        m.put("sink.keys", got.size.toDouble, "count")
        m.put("gen.late_ms_p99", lateP99, "ms")
        m.put("cdc.emitter.blocked_ms", emitter.blockedNs.get / 1e6, "ms")
        m.put("cdc.emitter.idle_ms", emitter.idleNs.get / 1e6, "ms")
        m.put("cdc.connections", emitter.connections.get.toDouble, "count")
        m.put("cdc.wire_rows_per_committed_row", emitter.rowsSent.get.toDouble / ps.map(_.rows).sum, "ratio")
        m.put("cdc.wire_bytes_per_row", emitter.bytesSent.get.toDouble / emitter.rowsSent.get, "bytes")
        addStreamSpans(ctx, ps)
        ctx.overhead((capacityPlain + capacityAfter) / 2 / capacityTraced - 1.0)
      }
    } finally {
      if (query.isActive) query.stop()
      spark.streams.removeListener(listener)
      emitter.close()
    }
  }

  private def listFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  /** One `cdc.stream` span per traced micro-batch, from its progress
    * event, with that batch's sink span re-parented under it and its
    * other phases as child spans. Progress reports phase durations only,
    * so the phases are laid out in the order the engine runs them:
    * before the sink call, and the offset commit after it. */
  private def addStreamSpans(ctx: Ctx, ps: Seq[Progress]): Unit = {
    val tr = ctx.tracer
    val sinks = tr.all.filter(_.layer == "sink").map(s => s.trace -> s).toMap
    tr.on = true
    ps.foreach { p =>
      sinks.get(s"batch#${p.batchId}").foreach { s =>
        val id = tr.newId()
        val start = p.startMs * 1000000L + tr.epochOffsetNs
        def ms(k: String) = p.durations.getOrElse(k, 0L) * 1000000L
        tr.add(Span(id, 0L, s.trace, s"batch ${p.batchId}", "cdc.stream", start,
          start + ms("triggerExecution")))
        tr.reparent(s.id, id)
        var t = start
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning").foreach { k =>
          tr.add(Span(tr.newId(), id, s.trace, k, s"cdc.stream.$k", t, t + ms(k)))
          t += ms(k)
        }
        tr.add(Span(tr.newId(), id, s.trace, "commitOffsets", "cdc.stream.commitOffsets",
          s.end, s.end + ms("commitOffsets")))
      }
    }
    tr.on = false
  }
}
