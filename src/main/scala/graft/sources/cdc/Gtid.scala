package graft.sources.cdc

import org.apache.spark.sql.connector.read.streaming.Offset

/** GTID `domain-server_id-sequence` (reference `Row::gtid()`,
  * cdc_connector.h:197-208) — the replication position that
  * `REQUEST-DATA db.table [gtid]` resumes from (cdc_connector.cpp:199-206).
  *
  * Ordering is `(domain, sequence, serverId)`: within a MariaDB
  * replication domain the sequence number is monotone across failovers
  * (the new primary continues the domain's seqno with its own server_id),
  * so sequence — not server_id — carries temporal order. Comparing all
  * three fields keeps `compare == 0` consistent with case-class equality
  * (the `Ordered` contract). Interleaved multi-domain streams have no
  * total order under one triple; [[CdcTailer]] accepts a domain switch
  * exactly when it keeps the log order monotone (a failover onto a
  * higher domain id) and fails fast on an order-breaking interleave —
  * unless the query opted into `domainMode=vector`, where
  * [[DomainVectorOffset]] tracks one watermark per domain.
  */
final case class Gtid(domain: Long, serverId: Long, sequence: Long)
    extends Ordered[Gtid] {
  override def compare(that: Gtid): Int =
    Gtid.compare(domain, serverId, sequence, that.domain, that.serverId, that.sequence)
  override def toString: String = s"$domain-$serverId-$sequence"
}

object Gtid {
  /** `0-0-0` — the universal floor position: domains are non-negative
    * and event sequences start at 1, so every real event compares
    * strictly greater. As a batch `endGtid` it denotes a pinned-EMPTY
    * slice (the scan returns without touching the wire); as a stream
    * `startingGtid` it is equivalent to stream start. The multi-table
    * bootstrap uses it for tables whose changelog was empty at anchor
    * time. */
  val Floor: Gtid = Gtid(0, 0, 0)

  /** [[Gtid]] order over unboxed triples (the replay hot path). */
  def compare(d1: Long, sv1: Long, sq1: Long, d2: Long, sv2: Long, sq2: Long): Int = {
    val d = java.lang.Long.compare(d1, d2)
    if (d != 0) return d
    val s = java.lang.Long.compare(sq1, sq2)
    if (s != 0) s else java.lang.Long.compare(sv1, sv2)
  }

  def parse(s: String): Gtid = s.split("-") match {
    case Array(d, sv, sq) => Gtid(d.toLong, sv.toLong, sq.toLong)
    case _ => throw new IllegalArgumentException(
      s"malformed GTID '$s' (expected domain-server_id-sequence)")
  }
}

/** Sequence-arithmetic parallel cuts for a named `(start, end]` GTID
  * range — shared by the bounded batch planner ([[CdcBatch]], one per
  * table under [[CompositeCdcBatch]]) and the streaming tailer's
  * catch-up fallback ([[CdcTailer.splitRanges]]).
  *
  * Cuts are FABRICATED boundary positions at equal sequence spacing:
  * GTID order is `(domain, sequence, serverId)` ([[Gtid]]), so any
  * fabricated boundary still yields disjoint-and-covering subranges.
  * Safe because the server's inclusive replay + the reader's dedupe
  * tolerate a boundary that is not an event of this table
  * (cdc_connector.cpp:199-213); balance depends on how densely the
  * domain's sequence numbers land in the table. Zero wire I/O.
  */
object GtidRangeCuts {
  /** Default minimum sequence span per replay connection. Each parallel
    * replay pays a fixed protocol setup cost (TCP connect, auth,
    * REGISTER, inclusive-replay overshoot), so below a span threshold a
    * flat N-way split LOSES to one serial drain — measured: the r9 local
    * capture drained a 100k-event backlog at 623k rows/s with a flat
    * 8-way split vs 1,054k rows/s serially. 2^17 puts the crossover
    * safely above that regime while a genuinely deep backlog (≥ ~1M)
    * still fans out to the full requested parallelism. */
  val DefaultSpanPerConnection: Long = 131072L

  /** Backlog-aware connection count for a fabricated-cut catch-up: one
    * connection per `spanPerConnection` sequence numbers, capped at the
    * caller's `maxN`, never below 1. The sequence span over-estimates
    * the event count when the domain's sequences are shared with other
    * tables — an over-estimate only ever fans out EARLIER, which is the
    * cheap direction (idle connections, not a serialized backlog). A
    * cross-domain range has no meaningful span arithmetic and stays
    * serial (matching [[sequenceCuts]]'s domain guard). */
  def adaptiveN(start: Option[Gtid], end: Gtid, maxN: Int,
      spanPerConnection: Long = DefaultSpanPerConnection): Int = {
    if (start.exists(_.domain != end.domain)) return 1
    val span = end.sequence - start.map(_.sequence).getOrElse(0L)
    val bySpan = span / math.max(1L, spanPerConnection)
    math.max(1, math.min(maxN.toLong, bySpan).toInt)
  }

  /** The domains of `end` that advance past `start`, each with its
    * share of an `n`-connection replay budget: in proportion to the
    * domain's sequence span, at least one per domain (a flat split hands
    * a 99%-one-domain backlog half its connections for the near-empty
    * domain). Shared by the vector stream and the vector-bounded batch. */
  def domainShares(start: DomainVectorOffset, end: DomainVectorOffset,
      n: Int): Seq[(Option[Gtid], Gtid, Int)] = {
    val advanced = end.entries.filter(e => start.of(e.domain).forall(_ < e))
    val spans = advanced.map(e =>
      math.max(1L, e.sequence - start.of(e.domain).map(_.sequence).getOrElse(0L)))
    val total = spans.sum.toDouble
    advanced.zip(spans).map { case (e, span) =>
      (start.of(e.domain), e, math.max(1, math.round(n * (span / total)).toInt))
    }
  }

  /** Up to `n` contiguous subranges of `(start, end]`. Degenerate spans
    * (n <= 1, or fewer sequence numbers than ranges) collapse to the
    * whole range as one chunk. per-range width first: `step * i` never
    * exceeds the span, so the cut arithmetic cannot overflow whatever
    * the sequence magnitudes.
    *
    * DOMAIN GUARD: fabricated cuts stamp `end.domain` and interpolate
    * sequences between `start.sequence` and `end.sequence` — arithmetic
    * that is only meaningful when both bounds sit in the SAME replication
    * domain (sequences are per-domain; a changelog spanning a failover's
    * domain switch restarts them). A start/end domain mismatch therefore
    * collapses to one serial chunk: the range is still exact under the
    * `(domain, sequence, serverId)` total order — the reader replays
    * through the switch and completes past `end` — it just cannot be cut
    * without knowing where the switch lands. Callers with observed
    * positions (the streaming tailer's live path) cut exactly instead. */
  def sequenceCuts(start: Option[Gtid], end: Gtid,
      n: Int): Seq[(Option[Gtid], Gtid)] = {
    if (start.exists(_.domain != end.domain)) return Seq((start, end))
    val lowSeq = start.map(_.sequence).getOrElse(0L)
    val step = (end.sequence - lowSeq) / math.max(1, n)
    val cuts =
      if (n <= 1 || step == 0) Seq.empty
      else (1 until n)
        .map(i => lowSeq + step * i)
        .filter(s => s > lowSeq && s < end.sequence)
        .map(s => Gtid(end.domain, end.serverId, s))
    var lo = start
    (cuts :+ end).map { hi => val r = (lo, hi); lo = Some(hi); r }
  }
}

/** Structured Streaming offset = GTID string, exactly the resume token the
  * reference's `connect(table, gtid)` takes (SURVEY.md §3.4). `None` means
  * "from stream start" (the reference's default gtid="", cdc_connector.h:69).
  */
final case class GtidOffset(gtid: Option[Gtid]) extends Offset {
  /** Spark's OffsetSeqLog stores each source offset as one line; an empty
    * line would deserialize as "0 sources", so stream-start serializes to
    * an explicit sentinel instead of "". */
  override def json(): String = gtid.map(_.toString).getOrElse(GtidOffset.StartJson)
}

object GtidOffset {
  val StartJson = "-"
  val Start: GtidOffset = GtidOffset(None)
  def fromJson(s: String): GtidOffset =
    if (s == null || s.isEmpty || s == StartJson) Start
    else GtidOffset(Some(Gtid.parse(s)))
}

/** Per-domain watermark VECTOR offset (`domainMode=vector`) — MariaDB
  * `gtid_slave_pos` semantics: one triple per replication domain, so an
  * INTERLEAVED multi-domain changelog (multi-master, or a failover that
  * keeps writing both domains) has an exact replay position even though
  * no single triple totally orders it. The reference's `gtid()` is one
  * triple (cdc_connector.h:199-208); this is the extension a real
  * multi-master MariaDB deployment needs.
  *
  * ENTRY ORDER IS LOAD-BEARING: entries are sorted by the LOG-ARRIVAL
  * position of each domain's watermark event, earliest first. The wire
  * protocol's resume token is a single GTID (`REQUEST-DATA db.table
  * gtid`, replayed from that event's log position), so a restarted
  * tailer requests `entries.head` — the earliest watermark in the log —
  * and every event pending past ANY domain's watermark necessarily sits
  * at-or-after that log position (per-domain dedupe drops the rest).
  * The driver is the only writer and observes arrival order directly,
  * so the serialized order carries exactly the log-order fact a vector
  * of triples cannot otherwise express. */
final case class DomainVectorOffset(entries: Seq[Gtid]) extends Offset {
  require(entries.map(_.domain).distinct.size == entries.size,
    s"duplicate domain in vector offset: $entries")
  def of(domain: Long): Option[Gtid] = entries.find(_.domain == domain)
  /** The loss-free single-GTID replay request point (see class doc). */
  def requestPoint: Option[Gtid] = entries.headOption
  /** Every domain of `other` at-or-past its position — the monotone
    * commit partial order (a vector never regresses any domain). */
  def covers(other: DomainVectorOffset): Boolean =
    other.entries.forall(g => of(g.domain).exists(_ >= g))
  override def json(): String =
    if (entries.isEmpty) DomainVectorOffset.StartJson
    else "v:" + entries.map(_.toString).mkString(",")
}

object DomainVectorOffset {
  val StartJson = "v:-"
  val Start: DomainVectorOffset = DomainVectorOffset(Nil)
  def fromJson(s: String): DomainVectorOffset =
    if (s == null || s.isEmpty || s == StartJson) Start
    else {
      require(s.startsWith("v:"),
        s"malformed domain-vector offset '$s' (expected 'v:d-s-q,...')")
      DomainVectorOffset(s.drop(2).split(',').toSeq
        .map(_.trim).filter(_.nonEmpty).map(Gtid.parse))
    }
}
