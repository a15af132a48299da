package graft.sources.cdc

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

/** Executor-side replay descriptor: a batch (or batch slice) is identified
  * by its `(startExclusive, endInclusive]` GTID range plus the connection
  * coordinates — NO row data travels driver→executor. The reader re-reads
  * its range straight from the server; `REQUEST-DATA table gtid` replays
  * from any position (reference resume semantics, cdc_connector.cpp:199-213),
  * which makes the re-read loss-free and the task binary O(1) instead of
  * O(batch rows). At 100 TB this is the difference between ingest bounded
  * by driver serialization bandwidth and ingest bounded by the aggregate
  * executor network.
  */
final case class CdcReplayPartition(
    host: String,
    port: Int,
    user: String,
    password: String,
    table: String,
    expected: Seq[CdcField],
    startExclusive: Option[String],
    endInclusive: String,
    timeoutMs: Int,
    // USER-NAMED bound (batch endGtid): the end is a domain position,
    // not necessarily an event of this table — complete when the stream
    // goes quiet below it (a bound, not a rendezvous). Streaming ranges
    // and anchored batch ranges end at OBSERVED events, where quiet
    // mid-range is a server fault and stays a loud deadline failure.
    completeOnQuiet: Boolean = false,
    // domainMode=vector: this partition replays ONE domain's slice of an
    // interleaved multi-domain log — events of other domains are skipped
    // entirely (no position bookkeeping), and the range bounds compare
    // within the named domain only
    domainFilter: Option[Long] = None) extends InputPartition {

  /** Task descriptors get rendered into logs and the Spark UI; the default
    * case-class toString would leak the password there. */
  override def toString: String =
    s"CdcReplayPartition($host,$port,$user,${CdcRedact.Mask},$table,$expected," +
      s"$startExclusive,$endInclusive,$timeoutMs)"
}

/** Shared wire-string → Catalyst row conversion (raw vs typed modes,
  * SURVEY.md §1.2). */
private[cdc] object CdcRowCodec {
  /** Select `idx` positions from a wire row; identity when idx is null
    * (the unpruned fast path — no per-row allocation). */
  def project[T](a: Array[T], idx: Array[Int])(
      implicit ct: scala.reflect.ClassTag[T]): Array[T] =
    if (idx == null) a
    else {
      val out = new Array[T](idx.length)
      var i = 0
      while (i < idx.length) { out(i) = a(idx(i)); i += 1 }
      out
    }

  /** `mask(j)` false ⇒ the plan provably never reads output column j
    * (per the streaming pushdown rule), so skip its cast/allocation and
    * emit null there; null mask ⇒ decode everything. */
  def toInternalRow(
      values: Array[String],
      nulls: Array[Boolean],
      dts: Array[DataType],
      typed: Boolean,
      mask: Array[Boolean] = null): InternalRow = {
    val out = new Array[Any](values.length)
    var j = 0
    while (j < values.length) {
      out(j) =
        if (mask != null && !mask(j)) null
        else if (typed) SqlTypes.cast(values(j), nulls(j), dts(j))
        // raw mode: null→"" exactly like the reference's
        // json_to_string (cdc_connector.cpp:106-107)
        else UTF8String.fromString(values(j))
      j += 1
    }
    new GenericInternalRow(out)
  }
}

/** Replays one GTID range from the server on the executor. Protocol
  * behavior mirrors the driver tailer: inclusive-replay dedupe below the
  * range start, schema-message validation against the planned schema, and
  * bounded reconnects from the last emitted position on dropped
  * connections. Reads stop as soon as the range end is emitted.
  *
  * Positional rows (no `normalizer`) decode straight from the client's
  * buffer: each wire schema version compiles a [[CdcRowDecoder]] over
  * the client's byte-level scan ([[CdcLineScanner]]). A scanned row is
  * positioned from its GTID trio (primitive longs), then the pushed
  * predicate reads the columns it references, and only a row that is
  * emitted is built, its projected and unmasked columns going from the
  * row's bytes to Catalyst values. A row the scan or the decoder
  * declines (see their docs) takes the fallback: the tree path's string
  * decode, then [[CdcRowCodec]] ([[SqlTypes.cast]] per field, the
  * semantics of record). The `cdcSlowPathRows` task metric counts the
  * emitted rows that were materialised from wire strings, in whole or in
  * part, and `cdcWireBytes` the bytes the task framed off the wire.
  */
final class CdcReplayReader(
    p: CdcReplayPartition,
    dts: Array[DataType],
    typed: Boolean,
    // wire-row indices of the (possibly pruned) output columns; null =
    // emit the full wire row. GTID extraction below always reads the
    // full row, so pruning `sequence` away never breaks range replay.
    projection: Array[Int] = null,
    // pushed-filter predicate over the FULL wire row (null = none);
    // evaluated AFTER the GTID range/dedupe bookkeeping, so replay
    // positions advance identically whether or not a row is emitted.
    pred: WirePred = null,
    // decode-skip mask over the OUTPUT columns (null = decode all)
    mask: Array[Boolean] = null,
    // normalized-changelog emission (schemaMode=normalized): when set,
    // rows materialize through the table's [[WireNormalizer]] instead
    // of the positional codec; dts/projection/mask are then unused
    normalizer: WireNormalizer = null) extends PartitionReader[InternalRow] {

  private val start: Option[Gtid] = p.startExclusive.map(Gtid.parse)
  private val end: Gtid = Gtid.parse(p.endInclusive)

  private val gtidIdx: (Int, Int, Int) = {
    val names = p.expected.map(_.name)
    (names.indexOf("domain"), names.indexOf("server_id"), names.indexOf("sequence"))
  }
  require(gtidIdx._1 >= 0 && gtidIdx._2 >= 0 && gtidIdx._3 >= 0,
    "executor-side replay requires the domain/server_id/sequence columns")

  /** The range's events are known to exist (the driver observed `end`
    * before planning), so a stall is a server/network fault, not an empty
    * stream — bounded patience, then fail the task (Spark retries it). */
  private val deadlineNanos =
    System.nanoTime() + math.max(60000L, 8L * p.timeoutMs) * 1000000L

  private var client: CdcClient = _
  /** Last emitted position (the dedupe floor and the resume point),
    * unboxed: `hasLast` false means none yet. */
  private var hasLast = start.isDefined
  private var lastD = start.fold(0L)(_.domain)
  private var lastSv = start.fold(0L)(_.serverId)
  private var lastSq = start.fold(0L)(_.sequence)
  private def lastEmitted: Option[Gtid] =
    if (hasLast) Some(Gtid(lastD, lastSv, lastSq)) else None
  private var nFiltered = 0L
  private var nEmitted = 0L
  private var nSlow = 0L
  /** Bytes framed by the connections already replaced. */
  private var closedBytes = 0L
  private var current: InternalRow = _
  private var done = false
  /** The server always sends its schema before any data; quiet-completion
    * (user-named bounds) requires it ON THE CURRENT connection (reset per
    * connect) — a server too slow to even produce the schema is a fault,
    * not an empty range. */
  private var sawSchema = false
  /** A quiet window was already observed and the connection was rebuilt
    * to verify it; cleared by any forward progress. */
  private var quietVerified = false
  private var reconnects = 0
  private val MaxReconnects = 3

  /** Column permutation from the server's CURRENT in-band schema to the
    * planned schema, or null when they coincide. A real GTID replay
    * interleaves historical schema versions with the events they governed
    * (the avro log records DDL in-band, reference cdc_connector.cpp:339-344),
    * so an intermediate version that still CONTAINS every planned column —
    * reordered, renamed-type, or with extra columns — stays readable by
    * name; only a version missing a planned column is unrecoverable here
    * and demands a query restart (graft.streaming.CdcAutoRestart). In
    * positional mode the version's [[CdcRowDecoder]] maps columns by name
    * itself, so the remap serves only fallback rows.
    *
    * NORMALIZED mode (`normalizer != null`) goes further: payload rows are
    * schema-free, so EVERY schema version that keeps the metadata columns
    * is readable — the normalizer is rebuilt per version and rows
    * materialize in their governing version's own shape (a pre-DDL row
    * lacks the added key, a post-DDL row carries it — no restart). The
    * remap then only serves GTID extraction and wire-predicate
    * evaluation, which reference metadata columns exclusively; a planned
    * USER column absent from the current version maps to -1 and reads as
    * absent. */
  private var remap: Array[Int] = _
  /** Typed decoder of the current connection's schema version
    * (positional mode; null until the connection's schema arrives). */
  private var decoder: CdcRowDecoder = _
  /** Wire schema currently governing decode (normalized mode). */
  private var curFields: Seq[CdcField] = p.expected
  /** Normalizer for the CURRENT schema version (normalized mode only;
    * starts as the planning-schema normalizer, rebuilt on in-band
    * re-schema). */
  private var curNormalizer: WireNormalizer = normalizer

  private def connectFrom(g: Option[Gtid]): Unit = {
    if (client != null) closedBytes += client.framedBytes
    client = new CdcClient(p.host, p.port, p.user, p.password, p.timeoutMs)
    client.connect()
    client.requestData(p.table, g.map(_.toString))
    sawSchema = false // each connection must re-prove liveness
    decoder = null
  }

  override def next(): Boolean = {
    if (done) return false
    if (client == null) connectFrom(start)
    while (true) {
      var msg: CdcMessage = null
      val read =
        try { msg = client.readMessage(decoder); true }
        catch {
          case e: CdcProtocolException => throw e
          case e: java.io.IOException => // mid-read drop → reconnect path
            reconnectOrFail(e.toString)
            false // not a quiet stream: a reconnect is no CdcTimeout
        }
      if (!read) ()
      else if (msg == null) { // a row the decoder took
        if (takeDecoded()) return true
        if (done) return false
      } else msg match {
        case CdcSchemaMsg(fields, _) => adoptSchema(fields)
        case m: CdcRowMsg =>
          if (takeRow(m)) return true
          if (done) return false
        case CdcTimeout =>
          if (p.completeOnQuiet && sawSchema) {
            // user-named bound, quiet stream: the range holds no more
            // events AS OF NOW — but one quiet window could also be a
            // transient server stall mid-replay, and completing then
            // would silently truncate. VERIFY before completing: tear
            // the connection down and replay again from lastEmitted — a
            // recovered server delivers the missing rows on the fresh
            // connection; only a second quiet window on a connection
            // that proved itself live (schema seen) completes. Dead
            // servers fail loudly via the reconnect budget.
            if (quietVerified) { done = true; return false }
            quietVerified = true
            reconnectOrFail("verifying the quiet end of a user-named range")
          } else if (System.nanoTime() > deadlineNanos)
            throw new CdcProtocolException(
              s"replay of range (${start.getOrElse("start")}, $end] stalled at " +
                s"${lastEmitted.getOrElse("start")} — server stopped replaying " +
                "events the driver already observed")
        case CdcClosed => reconnectOrFail("server closed the connection")
      }
    }
    false // unreachable
  }

  private def adoptSchema(fields: Seq[CdcField]): Unit = {
    sawSchema = true
    if (normalizer != null) {
      // normalized mode: adopt ANY version that keeps the metadata
      // columns — the payload reshapes itself; no restart.
      if (fields != curFields) {
        NormalizedCdc.validateEvolved(p.table, p.expected, fields)
        curFields = fields
        curNormalizer = WireNormalizer(p.table, fields,
          normalizer.typed, normalizer.required)
        remap =
          if (fields == p.expected) null
          else {
            val names = fields.map(_.name)
            // -1 for planned USER columns this version dropped:
            // only metadata positions are ever read through the
            // remap here (validateEvolved guarantees those exist)
            p.expected.map(f => names.indexOf(f.name)).toArray
          }
      }
    } else {
      if (fields == p.expected) remap = null
      else {
        val names = fields.map(_.name)
        val idx = p.expected.map(f => names.indexOf(f.name))
        if (idx.exists(_ < 0))
          throw new CdcProtocolException(
            s"schema drift during replay: expected ${p.expected}, " +
              s"server sent $fields — restart the query")
        remap = idx.toArray
      }
      decoder = CdcRowDecoder.compile(fields, p.expected, dts, typed,
        projection, mask, pred, gtidIdx)
    }
  }

  private final val Skip = 0
  private final val Past = 1
  private final val Take = 2

  /** Where a replayed event falls: [[Skip]] (a foreign domain in vector
    * mode, or the server's inclusive replay of the range start and any
    * re-delivery at or below the last emitted position after a
    * reconnect), [[Past]] (beyond the range end; defensive, ends the
    * read) or [[Take]]. */
  private def place(d: Long, sv: Long, sq: Long): Int =
    if (p.domainFilter.isDefined && p.domainFilter.get != d) Skip
    else if (hasLast && Gtid.compare(d, sv, sq, lastD, lastSv, lastSq) <= 0) Skip
    else if (Gtid.compare(d, sv, sq, end.domain, end.serverId, end.sequence) > 0) {
      done = true
      Past
    } else Take

  /** Advance past a taken event: the position moves even for rows the
    * predicate then filters. */
  private def advance(d: Long, sv: Long, sq: Long): Unit = {
    hasLast = true; lastD = d; lastSv = sv; lastSq = sq
    reconnects = 0 // forward progress resets the budget (like the tailer)
    quietVerified = false // data flowed: any earlier quiet was transient
    // last row of the range, pass or not
    if (d == end.domain && sv == end.serverId && sq == end.sequence) done = true
  }

  /** The row the decoder took; true when it is emitted. It is built
    * only then. */
  private def takeDecoded(): Boolean = {
    val dec = decoder
    val g = dec.gtid
    if (place(g(0), g(1), g(2)) != Take) return false
    advance(g(0), g(1), g(2))
    if (pred == null || dec.predicate(pred)) {
      current = dec.row
      nEmitted += 1
      if (dec.slow) nSlow += 1
      true
    } else { nFiltered += 1; false }
  }

  /** A row off the string path; true when it is emitted. */
  private def takeRow(m: CdcRowMsg): Boolean = {
    val values0 = m.values
    val nulls0 = m.nulls
    // a row missing one of its GTID columns cannot even be
    // positioned for dedupe — the delivery error is immediate.
    // (missingKey names only the FIRST absent key in schema order;
    // the explicit absence record distinguishes a missing slot
    // from a genuine JSON-null value.)
    if (m.missingKey != null && {
        def bad(i: Int) = {
          val w = if (remap == null) i else remap(i)
          m.slotMissing(w)
        }
        bad(gtidIdx._1) || bad(gtidIdx._2) || bad(gtidIdx._3)
      }) m.requireComplete()
    var values = values0
    var nulls = nulls0
    if (remap != null) {
      values = new Array[String](remap.length)
      nulls = new Array[Boolean](remap.length)
      var i = 0
      while (i < remap.length) {
        val w = remap(i)
        if (w < 0) { values(i) = ""; nulls(i) = true }
        else { values(i) = values0(w); nulls(i) = nulls0(w) }
        i += 1
      }
    }
    // JSON-null GTID values decode as "" (distinct from ABSENT slots,
    // probed above) — unpositionable either way; fail with the real
    // problem, not a NumberFormatException
    if (values(gtidIdx._1).isEmpty || values(gtidIdx._2).isEmpty ||
        values(gtidIdx._3).isEmpty)
      throw new CdcProtocolException(
        s"replayed event carries a null/empty GTID column " +
          s"(domain='${values(gtidIdx._1)}', " +
          s"server_id='${values(gtidIdx._2)}', " +
          s"sequence='${values(gtidIdx._3)}') — the row cannot be " +
          "positioned within the replay range")
    val d = values(gtidIdx._1).toLong
    val sv = values(gtidIdx._2).toLong
    val sq = values(gtidIdx._3).toLong
    if (place(d, sv, sq) != Take) return false
    // the row WILL be delivered (or predicated) — reference A10:
    // a missing schema key is an error at delivery. Rows at or
    // below the dedupe floor never reach here, so the inclusive
    // replay of a pre-DDL boundary event stays survivable.
    m.requireComplete()
    advance(d, sv, sq)
    if (pred == null || pred.eval(values, nulls)) {
      current =
        // normalized mode materializes through the CURRENT
        // version's normalizer over the RAW wire row — a row
        // carries exactly the keys its governing schema version
        // declares (pred/GTID read the remapped planned view;
        // both only touch metadata columns, stable across
        // versions)
        if (normalizer != null) curNormalizer.toRow(values0, nulls0)
        else CdcRowCodec.toInternalRow(
          CdcRowCodec.project(values, projection),
          CdcRowCodec.project(nulls, projection), dts, typed, mask)
      nEmitted += 1
      nSlow += 1
      true
    } else { nFiltered += 1; false }
  }

  private def reconnectOrFail(why: String): Unit = {
    reconnects += 1
    if (reconnects > MaxReconnects)
      throw new CdcProtocolException(
        s"replay of range (${start.getOrElse("start")}, $end] failed " +
          s"$reconnects times: $why")
    try if (client != null) client.close() catch { case _: Exception => () }
    connectFrom(lastEmitted)
  }

  override def get(): InternalRow = current

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(CdcTaskMetric(CdcMetrics.FilteredRows, nFiltered),
      CdcTaskMetric(CdcMetrics.DecodedRows, nEmitted),
      CdcTaskMetric(CdcMetrics.SlowPathRows, nSlow),
      CdcTaskMetric(CdcMetrics.WireBytes,
        closedBytes + (if (client == null) 0L else client.framedBytes)))

  override def close(): Unit = if (client != null) client.close()
}
