package perfbench

import org.apache.spark.perfbench.BusAccess
import org.apache.spark.sql.functions._

import graft.sources.cdc.{CdcClient, CdcRowMsg, CdcSchemaMsg, GtidRangeCuts, SqlTypes}

import scala.collection.mutable.ArrayBuffer

/** `cdc_backfill`: closed loop over a planted, seeded backlog.
  *
  * The backlog is deep enough that `GtidRangeCuts.adaptiveN` fans a
  * bounded read out to one replay connection per core. Timed rounds
  * drain it with (a), then (b) drains it once:
  *  (a) `spark.read.format("maxscale-cdc")` with `endGtid` = the last
  *      event and `replayPartitions` = cores, into a latest-state-per-key
  *      aggregate that also counts and checksums every delivered row;
  *  (b) one `CdcConnection.read()` loop, the reference client's own API,
  *      checksumming the raw strings it returns.
  * Both must deliver exactly the events the emitter logged.
  */
object CdcBackfill {
  /** Untimed drains of step (a) in set-up: its wall still falls over the
    * first three drains of a run (about 2.6, 2.0, then 1.7 s on a 4-core
    * machine), while step (b) shows no such trend. */
  val WarmDrains = 3
  /** Timed rounds of step (a) at least; its metrics are taken over them. */
  val MinRounds = 3

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val n = math.max(ctx.cpus, 2).toLong * GtidRangeCuts.DefaultSpanPerConnection + 8192
    val gen = new CdcGen(ctx.seed, keys = 50000)
    val emitter = new Emitter(CdcGen.SchemaLine, CdcGen.User, CdcGen.Password, (n + 2).toInt)
    try {
      while (gen.lastSequence < n) emitter.append(gen.next())
      emitter.publish()
      val last = gen.lastSequence
      val expectedLatest = gen.expectedLatest
      def reader(upTo: Long) = spark.read.format("maxscale-cdc")
        .option("host", "127.0.0.1").option("port", emitter.port.toString)
        .option("table", CdcGen.Table)
        .option("user", CdcGen.User).option("password", CdcGen.Password)
        .option("endGtid", s"0-1-$upTo")
        .option("replayPartitions", ctx.cpus.toString)
      val cols = CdcGen.Columns.map(c => col(c._1))
      val h = xxhash64(cols: _*)

      /** Step (a) up to event `upTo`; returns its wall in seconds. Only a
        * drain of the whole backlog is checked. */
      def stepA(round: Int, upTo: Long = last): Double = {
        val check = upTo == last
        if (check) ctx.attempted += 1
        val t0 = System.nanoTime()
        val rows = ctx.tracer.span(sc, "cdc.backfill", "backfill (a)", s"a#$round") {
          reader(upTo).load()
            .groupBy("id")
            .agg(count(lit(1)).as("n"),
              max("sequence").as("last_seq"),
              max_by(struct(cols: _*), col("sequence")).as("latest"),
              sum(h.bitwiseAND(lit(0xffffffffL))).as("lo"),
              sum(shiftrightunsigned(h, 32)).as("hi"))
            .collect()
        }
        val wall = (System.nanoTime() - t0) / 1e9
        if (!check) return wall
        val got = new CdcGen.Checksum
        var bad = 0
        rows.foreach { r =>
          got.count += r.getLong(1); got.lo += r.getLong(4); got.hi += r.getLong(5)
          val exp = expectedLatest.get(r.getInt(0))
          val latest = r.getStruct(3)
          if (exp == null || exp._1 != r.getInt(2).toLong ||
              exp._2 != latest.getString(latest.fieldIndex("event_type"))) bad += 1
        }
        if (!got.same(gen.sent)) ctx.fail(s"backfill (a) delivered $got, emitter sent ${gen.sent}")
        else if (bad > 0 || rows.length != expectedLatest.size)
          ctx.fail(s"backfill (a) latest state wrong for $bad of ${rows.length} keys " +
            s"(expected ${expectedLatest.size} keys)")
        wall
      }

      /** Step (b) up to event `upTo`; returns its wall in seconds. */
      def stepB(round: Int, upTo: Long = last): Double = {
        val check = upTo == last
        if (check) ctx.attempted += 1
        val got = new CdcGen.Checksum
        val t0 = System.nanoTime()
        ctx.tracer.span(sc, "cdc.client", "backfill (b)", s"b#$round") {
          val c = new graft.api.CdcConnection("127.0.0.1", emitter.port,
            CdcGen.User, CdcGen.Password, timeoutSeconds = 10)
          try {
            if (!c.connect(CdcGen.Table)) ctx.fail(s"backfill (b) connect: ${c.error}")
            else {
              var seq = 0L
              while (seq < upTo) {
                val r = c.read()
                if (r.isEmpty) {
                  ctx.fail(s"backfill (b) stopped after ${got.count} rows: ${c.error}")
                  seq = upTo
                } else {
                  val row = r.get
                  var hh = 42L
                  var i = 0
                  while (i < row.length) { hh = CdcGen.hashStr(row.value(i), hh); i += 1 }
                  got.add(hh)
                  seq = row.value(2).toLong
                }
              }
            }
          } finally c.close()
        }
        val wall = (System.nanoTime() - t0) / 1e9
        if (check && !got.same(gen.sentRaw))
          ctx.fail(s"backfill (b) delivered $got, emitter sent ${gen.sentRaw}")
        wall
      }

      // warm-up, inside set-up; a short range warms step (b)
      (1 to WarmDrains).foreach(_ => stepA(0))
      stepB(0, upTo = 20000)
      ctx.setupDone()
      val aPlain, aTraced, bPlain, bTraced = ArrayBuffer.empty[Double]
      val sent0 = emitter.rowsSent.get
      val bytes0 = emitter.bytesSent.get
      val blocked0 = emitter.blockedNs.get
      val idle0 = emitter.idleNs.get
      val conns0 = emitter.connections.get
      val t0 = System.nanoTime()
      var round = 0
      if (ctx.traceRun) {
        ctx.exec.reset()
        ctx.exec.active = true
      }
      def plainRound(): Unit = aPlain += stepA(round)
      def tracedRound(): Unit = {
        ctx.tracer.on = true
        aTraced += stepA(round)
        ctx.tracer.on = false
      }
      while (round < MinRounds || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
        round += 1
        // a traced run alternates which goes first, so warm-up does not
        // bias the overhead
        if (ctx.traceRun && round % 2 == 0) { tracedRound(); plainRound() }
        else {
          plainRound()
          if (ctx.traceRun) tracedRound()
        }
      }
      // step (b) gives no gated metric (see Main.EndToEnd), so one timed
      // drain after the rounds serves it; a traced run adds a traced one
      bPlain += stepB(round + 1)
      if (ctx.traceRun) {
        ctx.tracer.on = true
        bTraced += stepB(round + 2)
        ctx.tracer.on = false
      }
      val delivered = (aPlain.length + aTraced.length + bPlain.length + bTraced.length) * last
      if (!ctx.traceRun) {
        ctx.m.put("backfill_rows_per_s", last / Stats.median(aPlain.toSeq), "rows/s")
        ctx.m.put("client_rows_per_s", last / Stats.median(bPlain.toSeq), "rows/s")
        ctx.m.put("latency_p50_ms", Stats.median(aPlain.toSeq) * 1000, "ms")
        ctx.m.put("latency_high_ms", aPlain.max * 1000, "ms")
        ctx.m.put("rate_per_s", last / Stats.median(aPlain.toSeq), "1/s")
      } else {
        BusAccess.drain(sc)
        ctx.exec.active = false
        val m = ctx.m
        val tasks = ctx.exec.leafTaskMs.toArray.map(_.asInstanceOf[java.lang.Long].toDouble).toSeq
        val parts = ctx.exec.leafStageTasks.toArray.map(_.asInstanceOf[Integer].toDouble).toSeq
        m.put("cdc.replay.partitions", Stats.median(parts), "count")
        m.put("cdc.replay.task_ms_max", tasks.max, "ms")
        m.put("cdc.replay.task_ms_median", Stats.median(tasks), "ms")
        m.put("cdc.replay.skew", tasks.max / math.max(Stats.median(tasks), 1e-9), "ratio")
        m.put("cdc.emitter.blocked_ms", (emitter.blockedNs.get - blocked0) / 1e6, "ms")
        m.put("cdc.emitter.idle_ms", (emitter.idleNs.get - idle0) / 1e6, "ms")
        m.put("cdc.connections", (emitter.connections.get - conns0).toDouble, "count")
        m.put("cdc.wire_rows_per_committed_row",
          (emitter.rowsSent.get - sent0).toDouble / delivered, "ratio")
        m.put("cdc.wire_bytes_per_row",
          (emitter.bytesSent.get - bytes0).toDouble / (emitter.rowsSent.get - sent0), "bytes")
        m.put("cdc.client.read_ns_per_row", Stats.median((bPlain ++ bTraced).toSeq) * 1e9 / last, "ns")
        m.put("cdc.client.connect_ms", connectMs(ctx, emitter.port, last), "ms")
        m.put("cdc.types.cast_ns_per_row", castNsPerRow(ctx, emitter.port), "ns")
        val plain = Stats.median(aPlain.toSeq) + Stats.median(bPlain.toSeq)
        val traced = Stats.median(aTraced.toSeq) + Stats.median(bTraced.toSeq)
        ctx.overhead(traced / plain - 1.0)
      }
    } finally emitter.close()
  }

  /** Median time to connect, authenticate, register and request data up
    * to the arrival of the schema, over five fresh connections. */
  def connectMs(ctx: Ctx, port: Int, last: Long): Double = {
    val walls = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      val c = new CdcClient("127.0.0.1", port, CdcGen.User, CdcGen.Password, 10000)
      try {
        c.connect()
        c.requestData(CdcGen.Table, Some(s"0-1-$last"))
        var schema = false
        while (!schema) c.readMessage() match {
          case _: CdcSchemaMsg => schema = true
          case other => if (!other.isInstanceOf[CdcRowMsg]) schema = true
        }
      } finally c.close()
      (System.nanoTime() - t0) / 1e6
    }
    Stats.median(walls)
  }

  /** `SqlTypes.cast` applied from outside to decoded rows: the typed
    * conversion cost per row, with the wire read taken out. */
  def castNsPerRow(ctx: Ctx, port: Int): Double = {
    val sample = 100000
    val c = new CdcClient("127.0.0.1", port, CdcGen.User, CdcGen.Password, 10000)
    val rows = ArrayBuffer.empty[CdcRowMsg]
    var types: Array[org.apache.spark.sql.types.DataType] = null
    try {
      c.connect()
      c.requestData(CdcGen.Table, None)
      while (rows.length < sample) c.readMessage() match {
        case s: CdcSchemaMsg => types = s.fields.map(f => SqlTypes.toSpark(f.sqlType)).toArray
        case r: CdcRowMsg => rows += r
        case other => throw new IllegalStateException(s"cast sample read ended: $other")
      }
    } finally c.close()
    val sc = ctx.spark.sparkContext
    val per = (1 to 3).map { i =>
      ctx.tracer.on = true
      val t0 = System.nanoTime()
      ctx.tracer.span(sc, "cdc.types", "SqlTypes.cast", s"cast#$i") {
        var sink = 0
        rows.foreach { r =>
          var k = 0
          while (k < types.length) {
            if (SqlTypes.cast(r.values(k), r.nulls(k), types(k)) != null) sink += 1
            k += 1
          }
        }
        if (sink < 0) println(sink)
      }
      ctx.tracer.on = false
      (System.nanoTime() - t0).toDouble / rows.length
    }
    Stats.median(per)
  }
}
