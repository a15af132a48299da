package graft.sources.cdc

import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** `domainMode=vector` micro-batch stream: per-domain watermark offsets
  * ([[DomainVectorOffset]], MariaDB `gtid_slave_pos` semantics) over one
  * table — the INTERLEAVED multi-domain changelog a multi-master
  * deployment produces, which the single-triple stream must fail fast on
  * (no single GTID totally orders two live domains).
  *
  * The reference's resume token is one triple (`gtid()`,
  * cdc_connector.h:199-208), so this is an extension, not a parity
  * feature. It stays loss-free over the single-GTID wire protocol
  * because the driver OBSERVES log-arrival order: the offset's entries
  * are kept sorted by the arrival of each domain's watermark event, and
  * a (re)start requests `entries.head` — every pending event of every
  * domain sits at-or-after that log position, and per-domain dedupe
  * drops the re-delivered overlap (see [[DomainVectorOffset]]).
  *
  * Data plane: one [[CdcReplayPartition]] per domain slice (plus
  * within-domain adaptive splits — sequences are per-domain, so the
  * backlog-aware arithmetic cuts of [[GtidRangeCuts]] stay meaningful),
  * each executor replaying its domain's `(start_d, end_d]` and skipping
  * foreign-domain events in the interleave. At 1000 executors the
  * parallelism is #domains × within-domain splits, and no row touches
  * the driver.
  *
  * Exactly-once: per-domain floors make each batch a vector range —
  * recovery re-plans replay the logged `(startVec, endVec]` against the
  * server with no tailer state needed (end entries are observed events,
  * so every slice terminates).
  */
class DomainVectorMicroBatchStream(schema: StructType, opts: CdcOptions,
    checkpointLocation: String, required: StructType = null,
    pushed: Array[Filter] = Array.empty)
    extends CdcTableStream(schema, opts, required, pushed) {

  require(opts.allTables.size == 1,
    "maxscale-cdc: DomainVectorMicroBatchStream is the single-table " +
      "delegate; 'tables=' and schemaMode=normalized compose via " +
      "CompositeCdcMicroBatchStream")

  /** `startingGtid` in vector mode: absent (stream start) or the
    * explicit `v:d-s-q,...` form — a bare triple is ambiguous about the
    * other domains' positions, the dangerous direction. */
  private val startVector: DomainVectorOffset = opts.startingGtid match {
    case None => DomainVectorOffset.Start
    case Some(s) =>
      require(s.startsWith("v:"),
        s"maxscale-cdc: domainMode=vector needs a 'v:d-s-q,...' " +
          s"startingGtid (a bare GTID says nothing about the other " +
          s"domains), got '$s'")
      DomainVectorOffset.fromJson(s)
  }

  /** Last committed vector (checkpoint-persisted) — the tailer's resume
    * floor. Never behind `startVector` on any domain. */
  @volatile private var resumeHint: DomainVectorOffset = {
    val committed = CommittedGtidFile.readVector(checkpointLocation)
    if (committed.covers(startVector)) committed
    else if (startVector.covers(committed)) startVector
    else DomainVectorOffset( // disjoint domains: union, committed first
      committed.entries ++ startVector.entries
        .filterNot(g => committed.of(g.domain).isDefined))
  }

  override protected def newTailer(): CdcTailer =
    new CdcTailer(opts.host, opts.port, opts.user, opts.password,
      opts.table, fields, resumeAfter = None, opts.timeoutMs, tailerBuffer,
      // normalized delegates absorb mid-stream DDL (schema-free payload
      // rows) exactly like the single-triple delegate does
      tolerateReSchema = opts.normalized,
      domainVector = true, resumeVector = resumeHint.entries)

  override def initialOffset(): Offset = startVector

  /** Trigger.AvailableNow: 'now' anchors at the stream's first quiet
    * moment as the full per-domain VECTOR — every batch is then clamped
    * per domain, and domains first seen after the anchor are excluded,
    * so the query drains exactly the pre-existing interleaved backlog
    * and stops. */
  @volatile private var availableNowTarget: Seq[Gtid] = Nil
  @volatile private var availableNowPrepared = false
  override def prepareForTriggerAvailableNow(): Unit = {
    val t = ensureTailer()
    t.awaitQuiet(math.max(60000L, 4L * opts.timeoutMs))
    availableNowTarget = t.vectorSnapshot
    availableNowPrepared = true
  }

  override def deserializeOffset(json: String): Offset =
    DomainVectorOffset.fromJson(json)

  /** End of the last batch this stream planned (offsets advance ahead of
    * commits, exactly like the single-triple stream). */
  @volatile private var lastPlannedEnd: DomainVectorOffset = null

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startVec = start.asInstanceOf[DomainVectorOffset]
    val t = ensureTailer()
    t.checkFatal()
    // floor at the furthest of Spark's own start and our planned end —
    // after a crash between Spark's commit log and our watermark file
    // the local state can lag Spark's durable position
    val after =
      if (lastPlannedEnd != null && lastPlannedEnd.covers(startVec))
        lastPlannedEnd
      else startVec
    // AvailableNow: never plan past the anchored target vector; an
    // initially-empty changelog (empty target) plans nothing and the
    // query terminates with zero batches
    val clamp = if (availableNowPrepared) {
      if (availableNowTarget.isEmpty) return after
      availableNowTarget
    } else Nil
    val end = DomainVectorOffset(
      t.cappedEndVector(after.entries, rowBudget(limit), clamp))
    lastPlannedEnd = end
    end
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[DomainVectorOffset]
    val e = end.asInstanceOf[DomainVectorOffset]
    val t = ensureTailer()
    t.checkFatal()
    // one slice set per domain that advanced, sharing replayPartitions
    // in proportion to each domain's span (GtidRangeCuts.domainShares).
    // Within a domain: observed-position splits when the tailer covers
    // the range, backlog-aware sequence cuts on recovery.
    GtidRangeCuts.domainShares(s, e, opts.replayPartitions).flatMap {
      case (startD, endD, n) =>
        t.splitRanges(startD, endD, n, opts.catchupSpanPerConnection,
            domain = Some(endD.domain)).map { case (lo, hi) =>
          CdcReplayPartition(opts.host, opts.port, opts.user, opts.password,
            opts.table, fields, lo.map(_.toString), hi.toString,
            opts.timeoutMs, domainFilter = Some(endD.domain)): InputPartition
        }
    }.toArray
  }

  /** Monotone vector commit: no domain's watermark ever regresses (the
    * file write enforces the same partial order). */
  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[DomainVectorOffset]
    if (e.entries.nonEmpty) {
      CommittedGtidFile.advanceVector(checkpointLocation, e)
      if (e.covers(resumeHint)) resumeHint = e
      if (tailer != null) tailer.trimToVector(e.entries)
    }
  }

  override def metrics(latestConsumedOffset: java.util.Optional[Offset]): java.util.Map[String, String] = {
    val m = baseMetrics()
    m.put("committedGtidVector", resumeHint.json())
    m.put("domains", resumeHint.entries.size.toString)
    m
  }
}

/** Composite offset for `domainMode=vector` × `tables=`: one domain
  * VECTOR per subscribed table, serialized on one line (Spark's
  * OffsetSeqLog is line-oriented) as `db.a=v:0-1-5,1-1-3;db.b=v:-` —
  * ';' between tables because ',' separates a vector's domain entries.
  * Entry order follows the `tables` option so equal positions always
  * serialize identically (Spark compares offsets by JSON); each
  * per-table vector keeps ITS OWN load-bearing arrival order (see
  * [[DomainVectorOffset]] — tables tail independent changelogs, so
  * there is no cross-table log order to preserve). */
final case class MultiVectorOffset(entries: Seq[(String, DomainVectorOffset)])
    extends Offset {
  override def json(): String =
    entries.map { case (t, v) => s"$t=${v.json()}" }.mkString(";")
  def of(table: String): DomainVectorOffset =
    entries.collectFirst { case (t, v) if t == table => v }
      .getOrElse(DomainVectorOffset.Start)
}

object MultiVectorOffset {
  def fromJson(s: String): MultiVectorOffset =
    MultiVectorOffset(s.split(';').toSeq.map(_.trim).filter(_.nonEmpty).map {
      part =>
        val i = part.indexOf('=')
        require(i > 0, s"malformed multi-table vector offset entry '$part'")
        part.substring(0, i).trim ->
          DomainVectorOffset.fromJson(part.substring(i + 1).trim)
    })

  /** Per-table start vector from a `startingGtid` option: absent, one
    * uniform `v:...` for every table, or the composite
    * `db.a=v:...;db.b=v:-` form (entries naming unsubscribed tables are
    * rejected — a typo'd entry would silently fall back to stream
    * start, the dangerous direction; an absent entry is an EXPLICIT
    * stream start). Used by [[CompositeCdcMicroBatchStream]] in vector
    * mode. */
  private[cdc] def startFor(startingGtid: Option[String],
      tables: Seq[String], t: String): Option[String] = startingGtid match {
    case None => None
    case Some(s) if s.startsWith("v:") => Some(s)
    case Some(s) =>
      val mv = fromJson(s)
      val unknown = mv.entries.map(_._1).filterNot(tables.contains)
      require(unknown.isEmpty,
        s"maxscale-cdc: composite vector startingGtid names unsubscribed " +
          s"tables [${unknown.mkString(",")}] (subscribed: ${tables.mkString(",")})")
      mv.entries.collectFirst { case (`t`, v) => v.json() }
  }
}
