package graft.sources.cdc

import scala.collection.mutable.ArrayBuffer

/** One buffered change event with its stream position. */
final case class CdcEvent(gtid: Gtid, values: Array[String], nulls: Array[Boolean])

/** Test instrumentation: counts how often [[CdcTailer.splitRanges]] took
  * the sequence-arithmetic fallback (range not covered by buffered
  * positions), so specs can pin WHICH planning path produced their
  * partitions — from descriptors alone the two are indistinguishable.
  * Never read by production code. */
private[sources] object CdcSplitProbe {
  @volatile var arithmeticFallbacks: Long = 0L
}

/** Driver-side stream tailer for the micro-batch source.
  *
  * The CDC protocol is a single push socket per table (SURVEY.md §3.4):
  * there is no "query latest offset" RPC, so — like Spark's own socket
  * source — the driver owns a connection and watches the stream to learn
  * offsets. The DATA PLANE does not pass through here: when the schema
  * carries the GTID metadata columns, the tailer retains only the GTID
  * positions (24 bytes/event, bounded by admission control + commit-time
  * trimming) and each batch's rows are re-read executor-side by
  * [[CdcReplayReader]] replaying `REQUEST-DATA table gtid` for its range —
  * the reference's own resume semantics (cdc_connector.cpp:199-213) make
  * that replay loss-free. In that mode the tailer reads positions only:
  * each row is scanned in the client's buffer and only its GTID trio is
  * read, as primitive longs ([[CdcRowDecoder.positions]]); a row the
  * scan declines is decoded in full by the tree path and positioned from
  * its strings, with the same checks and errors. Only schemas WITHOUT
  * domain/server_id/sequence (no server-side resume token) fall back to
  * buffering fully decoded rows here.
  *
  * The server replays from the requested GTID *inclusive*; events at or
  * before `resumeAfter` are skipped here, which is what makes micro-batch
  * replay exactly-once downstream (SURVEY.md §7 hard-part 2).
  */
final class CdcTailer(
    host: String,
    port: Int,
    user: String,
    password: String,
    table: String,
    expectedFields: Seq[CdcField],
    resumeAfter: Option[Gtid],
    timeoutMs: Int,
    maxBuffered: Int = 1 << 20,
    // schemaMode=normalized: payload rows are schema-free, so a mid-stream
    // DDL re-schema is ABSORBED (GTID trio re-located by name, tailing
    // continues) instead of failing the query — the reference re-schemas
    // within one connection too (cdc_connector.cpp:339-344)
    tolerateReSchema: Boolean = false,
    // domainMode=vector: track one watermark per replication domain
    // (gtid_slave_pos semantics) and accept ANY domain interleave; the
    // single-triple order/dedupe machinery is bypassed. Requires the
    // GTID columns (there is no synthetic-offset vector mode).
    domainVector: Boolean = false,
    // vector-mode resume floor: per-domain watermarks in LOG-ARRIVAL
    // order of their events, earliest first ([[DomainVectorOffset]])
    resumeVector: Seq[Gtid] = Nil) extends Thread(s"graft-cdc-tailer-$table") {

  setDaemon(true)

  private val lock = new Object
  /** GTID positions seen, in stream order — the offset-discovery state. */
  private val positions = ArrayBuffer.empty[Gtid]
  /** Vector mode: per-domain watermarks in LAST-ARRIVAL order (a
    * LinkedHashMap re-inserted on every accepted event), so the head is
    * always the domain whose watermark event sits EARLIEST in the log —
    * the loss-free single-GTID replay request point (see
    * [[DomainVectorOffset]]'s entry-order contract). */
  private val perDomain = new java.util.LinkedHashMap[Long, Gtid]()
  if (domainVector) {
    require(gtidIdxOf(expectedFields).isDefined,
      "domainMode=vector requires the domain/server_id/sequence columns " +
        "(per-domain watermarks have no synthetic-offset fallback)")
    resumeVector.foreach(g => perDomain.put(g.domain, g))
  }
  /** Full decoded rows — retained ONLY in synthetic-offset mode (no GTID
    * columns), where executor-side replay is impossible. */
  private val rows = ArrayBuffer.empty[CdcEvent]
  @volatile private var fatal: Throwable = _
  @volatile private var running = true
  @volatile private var lastGtid: Option[Gtid] = resumeAfter

  private def gtidIdxOf(fields: Seq[CdcField]): Option[(Int, Int, Int)] = {
    val names = fields.map(_.name)
    val d = names.indexOf("domain")
    val s = names.indexOf("server_id")
    val q = names.indexOf("sequence")
    if (d >= 0 && s >= 0 && q >= 0) Some((d, s, q)) else None
  }

  /** Wire schema currently governing decode — re-pointed on a tolerated
    * mid-stream re-schema (normalized mode only; uniform mode never gets
    * past the drift check). */
  @volatile private var curFields: Seq[CdcField] = expectedFields
  @volatile private var gtidIdx: Option[(Int, Int, Int)] = gtidIdxOf(expectedFields)

  /** True when the stream carries a server-side resume token, i.e. batches
    * can be replayed executor-side and the driver keeps positions only.
    * Pinned to the PLANNED schema: replay capability is a planning-time
    * decision (a tolerated re-schema keeps the trio — validated). */
  val hasGtidColumns: Boolean = gtidIdxOf(expectedFields).isDefined

  /** Without GTID metadata columns the stream still works, but offsets are
    * synthetic positions valid only within this run (documented: resume
    * requires the server's domain/server_id/sequence fields). */
  private var syntheticSeq: Long = resumeAfter.map(_.sequence).getOrElse(0L)

  /** Consecutive dropped-connection reconnect budget. A drop mid-stream is
    * routine for a long-lived CDC session (MaxScale restart, network blip);
    * the GTID makes resume loss-free, so the tailer reconnects from the
    * last delivered position instead of failing the query. Protocol errors
    * (auth, ERR replies, schema drift) stay fatal. */
  private val MaxReconnects = 3

  /** The live connection, read for the scan counters, and the totals of
    * the connections already closed. */
  @volatile private var live: CdcClient = _
  @volatile private var closedScanned, closedBytes, closedDeclined = 0L

  /** Rows the byte-level scan positioned, their bytes, and the rows it
    * declined to the tree path, over the tailer's connections. */
  def scannedRows: Long = closedScanned + { val c = live; if (c == null) 0L else c.scannedRows }
  def scannedBytes: Long = closedBytes + { val c = live; if (c == null) 0L else c.scannedBytes }
  def declinedRows: Long = closedDeclined + { val c = live; if (c == null) 0L else c.declinedRows }

  override def run(): Unit = {
    var reconnects = 0
    var sawSchema = false
    while (running) {
      val client = new CdcClient(host, port, user, password, timeoutMs)
      live = client
      // replay mode: the positions-only decoder of the connection's
      // current schema version
      var dec: CdcRowDecoder = null
      try {
        // resume from the furthest delivered position (dedupe below makes
        // the server's inclusive replay idempotent); vector mode resumes
        // from the EARLIEST per-domain watermark in log-arrival order —
        // the one request point whose log-position replay covers every
        // domain's pending suffix (per-domain dedupe drops the overlap)
        val from = if (domainVector) vectorHead else lastGtid
        // REPLAY-SEMANTICS SELF-CHECK (vector mode): the loss-free
        // resume DEPENDS on the server replaying by the LOG POSITION of
        // the requested GTID — delivering later events of other (even
        // lower-numbered) domains. The reference only shows the request
        // format, not server semantics, so this assumption must be
        // VERIFIED at runtime against whatever server is on the wire: by
        // the vector's arrival-order invariant, every other domain's
        // watermark event sits at-or-after the head's log position, so a
        // log-position replay MUST re-deliver each of them (the dedupe
        // observes and drops them). A server that filters replay by
        // (domain, sequence) comparison instead would skip domains
        // behind the request point — silent event loss. Fail loudly the
        // moment the expected overlap provably cannot appear: (a) a
        // pending domain's first post-resume event is already PAST its
        // watermark (same-domain log order ⇒ the at-or-below suffix was
        // skipped), or (b) the stream goes quiet with overlap still
        // pending (the overlap sits BEFORE the live tail in the log, so
        // quiet means it is never coming).
        val overlapPending: java.util.HashSet[Long] = new java.util.HashSet()
        if (domainVector && from.isDefined) lock.synchronized {
          perDomain.keySet.forEach { d =>
            if (d != from.get.domain) { overlapPending.add(d); () }
          }
        }
        def failSkippedReplay(detail: String): Nothing =
          throw new CdcProtocolException(
            "domainMode=vector resume self-check failed: the server did " +
              "not re-deliver the at-or-below-watermark events of " +
              s"domain(s) [$detail] after requesting replay from " +
              s"${from.get} — it is NOT replaying by log position, so " +
              "events of domains behind the request point may have been " +
              "silently lost; this server cannot support a loss-free " +
              "vector resume")
        client.connect()
        client.requestData(table, from.map(_.toString))
        var connectionLive = true
        while (running && connectionLive) {
          // backpressure: stop pulling off the socket when the uncommitted
          // backlog exceeds the cap — TCP flow control then holds the
          // server, bounding driver memory (commit-time trims drain this)
          while (running && lock.synchronized(positions.length) >= maxBuffered)
            Thread.sleep(10)
          if (!running) throw new InterruptedException
          client.readMessage(dec) match {
            case null => // a row the positions decoder took
              val p = dec.gtid
              onEvent(checkOrder(Gtid(p(0), p(1), p(2))), null, from, overlapPending,
                failSkippedReplay)
              reconnects = 0
            case CdcSchemaMsg(fields, _) =>
              if (tolerateReSchema) {
                // normalized mode: any schema version works as long as the
                // server metadata columns survive with their declared types
                // (the payload is schema-free; only the trio is structural).
                // Covers both connection-start drift (a DDL happened while
                // the query was down) and in-band mid-stream re-schema.
                sawSchema = true
                if (fields != curFields) {
                  NormalizedCdc.validateEvolved(table, expectedFields, fields)
                  curFields = fields
                  gtidIdx = gtidIdxOf(fields)
                }
              } else if (!sawSchema || reconnects > 0) {
                sawSchema = true
                if (fields != expectedFields)
                  throw new CdcProtocolException(
                    s"schema drift between planning and stream start: expected " +
                      s"$expectedFields, server sent $fields — restart the query")
              } else if (fields != expectedFields)
                // Mid-stream DDL re-schema: uniform-mode Spark plans have a
                // fixed schema, so the controlled answer is fail-and-restart
                // (SURVEY.md §1.3; graft.streaming.CdcAutoRestart automates
                // the restart). schemaMode=normalized absorbs the DDL
                // instead — see the tolerateReSchema branch above.
                throw new CdcProtocolException(
                  "mid-stream schema change detected; restart the query to adopt " +
                    s"the new schema (was $expectedFields, now $fields)")
              if (hasGtidColumns)
                dec = gtidIdxOf(fields).map(CdcRowDecoder.positions(fields, _)).orNull
            case m: CdcRowMsg =>
              val values = m.values
              // a row missing one of its GTID columns cannot be
              // positioned — raise the delivery error immediately.
              // (missingKey names only the FIRST absent key in schema
              // order; the explicit absence record distinguishes a
              // missing slot from a genuine JSON-null value.)
              if (m.missingKey != null && gtidIdx.exists { case (d, s, q) =>
                  m.slotMissing(d) || m.slotMissing(s) || m.slotMissing(q) })
                m.requireComplete()
              onEvent(eventGtid(values), m, from, overlapPending, failSkippedReplay)
              reconnects = 0 // healthy stream resets the budget
            case CdcTimeout =>
              // self-check trigger (b): the expected overlap sits BEFORE
              // the live tail in the log — a quiet stream with overlap
              // still pending means it is never coming
              if (!overlapPending.isEmpty)
                failSkippedReplay(scala.jdk.CollectionConverters
                  .SetHasAsScala(overlapPending).asScala.toSeq.sorted
                  .mkString(",") + " (stream went quiet first)")
              quietOnce = true // no pending data right now
            case CdcClosed =>
              if (running) {
                if (gtidIdx.isEmpty)
                  // without the GTID metadata columns there is no loss-free
                  // resume position — fail instead of silently duplicating
                  throw new CdcProtocolException(
                    "server closed the stream and the schema has no " +
                      "domain/server_id/sequence columns to resume from")
                reconnects += 1
                if (reconnects > MaxReconnects)
                  throw new CdcProtocolException(
                    s"server closed the stream $reconnects times in a row")
                connectionLive = false // drop to the outer loop → reconnect
              }
          }
        }
      } catch {
        case t: Throwable if running => fatal = t; running = false
        case _: Throwable => running = false // shutdown race
      } finally {
        client.close()
        closedScanned += client.scannedRows
        closedBytes += client.scannedBytes
        closedDeclined += client.declinedRows
        live = null
      }
    }
  }

  /** Record one positioned event `g`; `m` is its decoded row, or null
    * when only its position was read (replay mode). `from` is the
    * connection's replay request point, `overlapPending` and `failSkipped`
    * the vector-mode resume self-check's state. */
  private def onEvent(g: Gtid, m: CdcRowMsg, from: Option[Gtid],
      overlapPending: java.util.HashSet[Long], failSkipped: String => Nothing): Unit =
    if (domainVector) lock.synchronized {
      // per-domain inclusive-replay dedupe: a (re)connect
      // replays from the vector head's LOG position, which
      // re-delivers events at-or-below the OTHER domains'
      // watermarks — each domain's floor drops its own
      val floor = perDomain.get(g.domain)
      if (overlapPending.contains(g.domain)) {
        // self-check trigger (a): within one domain the log is
        // sequence-ordered, so the first post-resume event at
        // or below the watermark proves the replay covered
        // this domain's suffix; one PAST it proves a skip
        if (floor != null && g > floor)
          failSkipped(s"${g.domain} (first event $g is " +
            s"already past watermark $floor)")
        overlapPending.remove(g.domain)
      }
      if (floor == null || g > floor) {
        positions += g
        perDomain.remove(g.domain)
        perDomain.put(g.domain, g) // to tail: latest arrival
        lastGtid = Some(g)
      }
    }
    // inclusive-replay dedupe on resume/reconnect
    else if (from.orElse(resumeAfter).forall(g > _)) lock.synchronized {
      // replay mode keeps POSITIONS only (the executor re-reads
      // and enforces completeness at emit); synthetic mode
      // buffers the row itself = delivery → reference A10 error
      if (!hasGtidColumns) { m.requireComplete(); rows += CdcEvent(g, m.values, m.nulls) }
      positions += g
      lastGtid = Some(g)
    }

  /** Domain pinned by the resume position or the first event. GTID order
    * is `(domain, sequence, serverId)` (see [[Gtid]]), so a domain SWITCH
    * is tolerable exactly when it keeps the log order monotone under that
    * total order — a failover onto a HIGHER domain id reads as a clean
    * position advance (dedupe, range cuts and resume all stay exact,
    * [[GtidRangeCuts]] then falls back to serial cuts across the switch).
    * A switch that breaks monotonicity (lower domain id, or interleaved
    * domains) has no total order to replay against — fail fast rather
    * than mis-order (`domainMode=vector` opts into per-domain
    * watermarks instead; this guard is bypassed there). */
  @volatile private var streamDomain: Option[Long] = resumeAfter.map(_.domain)

  private def eventGtid(values: Array[String]): Gtid = gtidIdx match {
    case Some((d, s, q)) =>
      // a JSON-null GTID value decodes as "" — distinct from an ABSENT
      // slot (missingIdx), but equally unpositionable: name the real
      // problem instead of tripping a misleading A10 missing-key error
      // (or a bare NumberFormatException) downstream
      if (values(d).isEmpty || values(s).isEmpty || values(q).isEmpty)
        throw new CdcProtocolException(
          s"event carries a null/empty GTID column (domain='${values(d)}', " +
            s"server_id='${values(s)}', sequence='${values(q)}') — the row " +
            "cannot be positioned for replay/resume")
      checkOrder(Gtid(values(d).toLong, values(s).toLong, values(q).toLong))
    case None =>
      syntheticSeq += 1
      Gtid(0, 0, syntheticSeq)
  }

  /** The single-triple order guard (see [[streamDomain]]): `g`, or a
    * failure when it switches domain against the GTID order. */
  private def checkOrder(g: Gtid): Gtid = {
    // vector mode tracks one watermark per domain — interleaves are
    // the point, so the single-triple order guard does not apply
    if (domainVector) return g
    streamDomain match {
      case Some(dom) if dom != g.domain =>
        if (lastGtid.exists(g < _))
          throw new CdcProtocolException(
            s"multi-domain stream: event ${g} arrived after ${lastGtid.get} " +
              s"(domain switch $dom → ${g.domain} breaks GTID order) — " +
              "interleaved replication domains have no total order under " +
              "one GTID; use domainMode=vector (per-domain watermarks) " +
              "or one query per domain")
        streamDomain = Some(g.domain)
      case None => streamDomain = Some(g.domain)
      case _ => ()
    }
    g
  }

  def checkFatal(): Unit = if (fatal != null) throw fatal

  /** Current uncommitted backlog depth (buffered positions). */
  def bufferedCount: Int = lock.synchronized(positions.length)

  /** Set on the first read timeout: the server had no pending data at
    * that moment — the changelog's notion of "caught up to now".
    * Trigger.AvailableNow anchors its fixed target on this. */
  @volatile private var quietOnce = false

  /** Block until the stream has gone quiet once, or `waitMs` elapsed (a
    * server busier than the poll timeout never goes quiet — then the
    * caller anchors at whatever has been buffered, which is still a
    * valid 'now' for a monotone changelog). */
  def awaitQuiet(waitMs: Long): Unit = {
    val deadline = System.nanoTime() + waitMs * 1000000L
    while (!quietOnce && System.nanoTime() < deadline) {
      checkFatal()
      Thread.sleep(20)
    }
    checkFatal()
  }

  /** Highest delivered position, or the resume point if nothing new. */
  def latest: Option[Gtid] = lastGtid

  /** Whether the stream has gone quiet at least once (non-blocking twin
    * of [[awaitQuiet]] — the batch planner's drain loop polls this
    * between position drains instead of blocking). */
  def wentQuiet: Boolean = quietOnce

  /** Return and clear the buffered positions, in stream order — the
    * batch planner's bounded-memory drain. GTID-mode tailers buffer only
    * positions, and clearing them releases the maxBuffered backpressure
    * without touching `lastGtid` or the inclusive-replay dedupe, so a
    * batch probe can walk an arbitrarily large backlog with O(drain
    * interval) driver memory. Dedicated-probe use only: a streaming
    * tailer's positions feed cappedEnd/splitRanges and must not be
    * drained out from under it. */
  def drainPositions(): Array[Gtid] = lock.synchronized {
    val out = positions.toArray
    positions.clear()
    out
  }

  /** Block until the stream has delivered at least up to `target` — the
    * synthetic-mode recovery contract: a restart re-plans the last
    * uncommitted batch with its logged (start, end] range, and the batch
    * must not run until the server's replay has repopulated that range.
    * (In replay mode the executor re-reads from the server instead, so
    * planning never waits on the tailer.) */
  def awaitDelivered(target: Gtid, waitMs: Long): Unit = {
    val deadline = System.nanoTime() + waitMs * 1000000L
    while (lastGtid.forall(_ < target)) {
      checkFatal()
      if (System.nanoTime() > deadline)
        throw new CdcProtocolException(
          s"tailer did not catch up to $target within ${waitMs}ms " +
            s"(at ${lastGtid.getOrElse("start")}); cannot serve the " +
            "re-planned batch without losing data")
      Thread.sleep(25)
    }
  }

  /** Position of at most `max` events after `after` — admission control. */
  def cappedEnd(after: Option[Gtid], max: Int): Option[Gtid] = lock.synchronized {
    val pending = positions.iterator.filter(g => after.forall(g > _)).take(max).toSeq
    pending.lastOption
  }

  // ------------------------------------------------- domainMode=vector

  /** Earliest per-domain watermark in log-arrival order — the loss-free
    * replay request point (vector mode only). */
  def vectorHead: Option[Gtid] = lock.synchronized {
    val it = perDomain.values().iterator()
    if (it.hasNext) Some(it.next()) else None
  }

  /** Current per-domain watermarks, earliest-arrival first — the
    * [[DomainVectorOffset]] entry order. */
  def vectorSnapshot: Seq[Gtid] = lock.synchronized {
    val b = Seq.newBuilder[Gtid]
    perDomain.values().forEach(g => b += g)
    b.result()
  }

  /** Admission-controlled end VECTOR: walk the buffered positions in
    * arrival order, take up to `max` events pending past `after`'s
    * per-domain floors, and return the advanced vector. Entry order
    * keeps the [[DomainVectorOffset]] contract: domains untouched by
    * this batch retain `after`'s relative order at the FRONT (their
    * watermark events arrived before anything taken here), and each
    * advanced domain moves to the back in last-taken-arrival order.
    *
    * `clamp` (Trigger.AvailableNow): when non-empty, only events
    * at-or-below their domain's clamp entry are taken, and domains
    * ABSENT from the clamp (first seen after the anchor) are excluded
    * entirely — the batch never plans past the anchored target, and the
    * entry-order invariant still falls out of the arrival-order scan. */
  def cappedEndVector(after: Seq[Gtid], max: Int,
      clamp: Seq[Gtid] = Nil): Seq[Gtid] =
    lock.synchronized {
      val floor = after.map(g => g.domain -> g).toMap
      val cap = clamp.map(g => g.domain -> g).toMap
      val order = new java.util.LinkedHashMap[Long, Gtid]()
      after.foreach(g => order.put(g.domain, g))
      var taken = 0
      val it = positions.iterator
      while (it.hasNext && taken < max) {
        val g = it.next()
        if (floor.get(g.domain).forall(g > _) &&
            (clamp.isEmpty || cap.get(g.domain).exists(g <= _))) {
          order.remove(g.domain)
          order.put(g.domain, g)
          taken += 1
        }
      }
      val b = Seq.newBuilder[Gtid]
      order.values().forEach(g => b += g)
      b.result()
    }

  /** Drop per-domain state at or below the committed vector. */
  def trimToVector(committed: Seq[Gtid]): Unit = lock.synchronized {
    val floor = committed.map(g => g.domain -> g).toMap
    val keep = positions.filter(g => floor.get(g.domain).forall(g > _))
    positions.clear()
    positions ++= keep
  }

  /** Split the events of (start, end] into up to `n` contiguous GTID
    * subranges for parallel executor-side replay. Live batches cut at
    * OBSERVED positions (exact balance). When the positions buffer does
    * not cover the range — a recovery re-plan after restart, or a deep
    * catch-up where the tailer lags the logged offset — fall back to the
    * bounded batch planner's sequence-arithmetic cuts instead of one
    * serial chunk: the end of a streaming range is always an event the
    * driver OBSERVED before logging the offset, so every fabricated
    * subrange terminates (the reader completes on the first event past
    * its bound, and the observed end is past every interior cut).
    *
    * The fallback's connection count is BACKLOG-AWARE, not flat: a
    * fabricated split pays per-connection setup with no balance
    * guarantee, so `n` is scaled down to one connection per
    * `spanPerConnection` sequence numbers ([[GtidRangeCuts.adaptiveN]])
    * — a shallow catch-up drains serially (measured faster below ~131k
    * events), a deep one fans out to the full requested parallelism.
    *
    * `domain` restricts the split to one domain's `(start_d, end_d]`
    * slice of a vector batch: only that domain's observed positions
    * count, and sequences are per-domain, so the arithmetic fallback is
    * always meaningful within the slice. */
  def splitRanges(start: Option[Gtid], end: Gtid, n: Int,
      spanPerConnection: Long = GtidRangeCuts.DefaultSpanPerConnection,
      domain: Option[Long] = None): Seq[(Option[Gtid], Gtid)] =
    lock.synchronized {
      val inRange = positions.iterator
        .filter(g => domain.forall(_ == g.domain) &&
          start.forall(g > _) && g <= end).toArray
      if (n <= 1) Seq((start, end))
      else if (inRange.lastOption.forall(_ != end)) {
        CdcSplitProbe.arithmeticFallbacks += 1
        GtidRangeCuts.sequenceCuts(start, end,
          GtidRangeCuts.adaptiveN(start, end, n, spanPerConnection))
      } else if (inRange.length < 2 * n) Seq((start, end))
      else {
        val per = math.ceil(inRange.length.toDouble / n).toInt
        val bounds = inRange.grouped(per).map(_.last).toSeq
        var lo = start
        bounds.map { hi => val r = (lo, hi); lo = Some(hi); r }
      }
    }

  /** Events in (start, end] — synthetic-offset mode only (the data plane;
    * in replay mode rows are never buffered here). */
  def slice(start: Option[Gtid], end: Gtid): Array[CdcEvent] = lock.synchronized {
    rows.iterator
      .filter(e => start.forall(e.gtid > _) && e.gtid <= end)
      .toArray
  }

  /** Drop state at or below the committed position. */
  def trimTo(committed: Gtid): Unit = lock.synchronized {
    val keepPos = positions.filter(_ > committed)
    positions.clear()
    positions ++= keepPos
    if (!hasGtidColumns) {
      val keep = rows.filter(_.gtid > committed)
      rows.clear()
      rows ++= keep
    }
  }

  def shutdown(): Unit = {
    running = false
    interrupt()
  }
}
