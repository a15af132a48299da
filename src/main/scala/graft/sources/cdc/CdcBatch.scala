package graft.sources.cdc

import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import scala.collection.mutable.ArrayBuffer

/** `spark.read.format("maxscale-cdc")` — one-shot bounded changelog pull
  * as a DataFrame.
  *
  * The reference client has no batch mode, but its consumers build one
  * constantly: "replay the table's changelog from GTID X to GTID Y (or to
  * now) and hand the rows to a batch job" is the loop in the reference's
  * own usage example (cdc_connector.h:40-50 — connect, read until
  * timeout, process). This scan is that loop as a first-class Spark
  * batch source, reusing the streaming source's executor-side GTID-range
  * replay so the data plane never passes through the driver.
  *
  * Bound semantics:
  *   - `endGtid` given → the scan is `(startingGtid, endGtid]` as of the
  *     scan's quiet point: a BOUND, not a rendezvous. GTID positions are
  *     domain-global, so a named bound need not be an event of this
  *     table (another shard's position, a round number past the tail) —
  *     executors replay until they pass the bound or the stream goes
  *     quiet below it, exactly how a SQL range scan returns the rows
  *     that exist at scan time. Dead or faulting servers still fail
  *     loudly (reconnect budget / stall deadline).
  *   - no `endGtid` → the scan anchors at the stream's first quiet moment
  *     (one read timeout with nothing pending), the same "now" that
  *     `Trigger.AvailableNow` uses. Each ACTION on the DataFrame re-plans
  *     and therefore re-anchors — two actions can see different data, as
  *     with any live external table; `.cache()` pins one anchor.
  *
  * An explicitly-bounded scan plans with ZERO driver wire I/O
  * ([[planBounded]]: sequence-arithmetic cuts) — at a 10⁹-event backlog
  * the alternative is hours of driver tailing before the first task.
  * Anchor-at-quiet planning walks the backlog once on the driver, but
  * keeps only a bounded sample of positions ([[PosMarks]]) for exact
  * partition splitting — O(1) driver memory in the backlog size.
  * Executors then replay their `(start, end]` subranges straight from
  * the server, in parallel when `replayPartitions` > 1.
  *
  * Spark's batch planner natively drives the
  * DSv2 pushdown interfaces (unlike its streaming planner — see the
  * HONESTY NOTE in [[MaxScaleCdcTable]]), so column pruning and wire
  * filters arrive here through the standard contract with no session
  * rule involved: `explain` shows the pruned ReadSchema and
  * PushedFilters, and pushed conjuncts drop rows before decode on the
  * executors ([[CdcWireFilters]]).
  *
  * One table per batch: `tables=` and `schemaMode=normalized` reads go
  * through [[CompositeCdcBatch]], which plans one of these per table.
  */
final class CdcBatch(
    schema: StructType,
    required: StructType,
    opts: CdcOptions,
    pushed: Array[Filter],
    // runtime filters delivered to the Scan AFTER construction
    // (SupportsRuntimeFiltering: e.g. a DPP subquery's In() over the join
    // keys) — re-read at each planInputPartitions/createReaderFactory
    // call, which Spark re-invokes after filter() fires
    runtime: () => Array[Filter] = () => Array.empty) extends Batch {

  private val table = opts.table

  /** Wire fields are always the full table schema (the server sends
    * whole rows; replay needs the GTID trio regardless of projection). */
  private val fields: Seq[CdcField] = CdcField.fromSchema(schema)
  private lazy val startGtid: Option[Gtid] = opts.startFor(table)

  /** Static pushed-filter predicate — baked into the reader factory,
    * which Spark materializes at PLANNING time (supportsColumnar). */
  private val rowPred: WirePred =
    CdcWireFilters.compileAll(pushed.toSeq, schema, opts.typed)

  /** Probe buffer cap: in GTID mode the drain loop keeps it near-empty;
    * in synthetic (GTID-less) mode it is a hard batch-size bound because
    * decoded rows cannot be released before planning completes. */
  private val ProbeBuffer = 1 << 20

  override def planInputPartitions(): Array[InputPartition] = {
    val parts = opts.endGtid match {
      // vector-bounded pull over an interleaved multi-domain log: one
      // domain-filtered slice set per vector entry, zero driver wire I/O
      case Some(v) if v.startsWith("v:") =>
        planBoundedVector(DomainVectorOffset.fromJson(v))
      case _ => planTable(opts.endFor(table))
    }
    // runtime filters arrive AFTER the factory exists, so their predicate
    // rides the partitions instead ([[RuntimeFilteredCdcPartition]]):
    // BatchScanExec re-plans partitions after `filter()` fires but not
    // the factory, and partitions serialize per task with current state
    val rt = CdcWireFilters.compileAll(runtime().toSeq, schema, opts.typed)
    if (rt == null) parts else parts.map(RuntimeFilteredCdcPartition(_, rt))
  }

  /** Whether the wire schema carries the GTID trio (server-side resume
    * token exists ⇒ executor replay is possible). */
  private val hasGtidColumns: Boolean =
    Seq("domain", "server_id", "sequence").forall(n => fields.exists(_.name == n))

  private def planTable(endBound: Option[Gtid]): Array[InputPartition] =
    endBound match {
      case Some(e) if hasGtidColumns =>
        // explicitly bounded range: ZERO driver wire I/O — the range is
        // named, the executors replay it (completing at a verified quiet
        // point below the bound, or strictly when endGtidObserved)
        planBounded(e)
      case _ =>
        val tailer = new CdcTailer(opts.host, opts.port, opts.user,
          opts.password, table, fields, startGtid, opts.timeoutMs,
          maxBuffered = ProbeBuffer, tolerateReSchema = opts.normalized)
        tailer.start()
        try {
          if (tailer.hasGtidColumns) planReplay(tailer)
          else planSynthetic(endBound, tailer)
        } finally tailer.shutdown()
    }

  /** Partitions for a named `(start, end]` range without touching the
    * wire at plan time. Parallel cuts are SEQUENCE-ARITHMETIC: GTID
    * order is `(domain, sequence, serverId)` ([[Gtid]]), so any
    * fabricated boundary position still yields disjoint-and-covering
    * subranges — balance depends on how densely the domain's sequence
    * numbers land in this table (the probe path's observed-position
    * marks are exact; this path trades balance for zero driver I/O,
    * the right trade when the caller already knows the bound, e.g. the
    * bootstrap's snapshot or an operator re-pulling a recorded range).
    * Ranges run with `completeOnQuiet`: a bound past the table's tail
    * completes at the stream's quiet point with the events that exist
    * (the bound-not-rendezvous semantics above) instead of stalling a
    * task against a position the table never carries. Fabricated
    * interior boundaries lean on the reference's inclusive-replay
    * contract (the server replays from at-or-before the requested
    * position and the reader dedupes below it,
    * cdc_connector.cpp:199-213); `replayPartitions = 1` issues only
    * caller-supplied positions. */
  private def planBounded(e: Gtid): Array[InputPartition] = {
    val start = startGtid
    // A start in a HIGHER domain than the end is an empty range under the
    // (domain, sequence, serverId) total order — the start >= e check
    // covers it. A start in a LOWER domain (the range spans a failover's
    // domain switch) is valid and replays serially: sequenceCuts detects
    // the mismatch and collapses to one chunk, because interpolated
    // sequence cuts are only meaningful within one domain.
    if (start.exists(_ >= e) || e == Gtid.Floor) return Array.empty
    // fabricated cuts pay per-connection setup: scale the fan-out with
    // the span (serial when shallow) instead of a flat replayPartitions
    GtidRangeCuts.sequenceCuts(start, e, GtidRangeCuts.adaptiveN(
      start, e, opts.replayPartitions, opts.catchupSpanPerConnection)).map {
      case (lo, hi) =>
        // endGtidObserved: the caller saw the bound produced, so the whole
        // range exists — strict stall semantics for every subrange
        CdcReplayPartition(opts.host, opts.port, opts.user,
          opts.password, table, fields, lo.map(_.toString), hi.toString,
          opts.timeoutMs,
          completeOnQuiet = !opts.endGtidObserved): InputPartition
    }.toArray
  }

  /** Vector-bounded pull (`endGtid = "v:0-1-10,1-2-5"`): each domain's
    * `(start_d, end_d]` slice plans independently with the same
    * backlog-aware arithmetic cuts (sequences are per-domain, so the
    * interpolation is always meaningful within a slice), and each
    * partition filters to its domain while replaying the interleaved
    * log. `startingGtid` must be absent or the matching `v:` form. */
  private def planBoundedVector(e: DomainVectorOffset): Array[InputPartition] = {
    val sv = opts.startingGtid match {
      case None => DomainVectorOffset.Start
      case Some(s) if s.startsWith("v:") => DomainVectorOffset.fromJson(s)
      case Some(s) => throw new IllegalArgumentException(
        s"maxscale-cdc: a vector endGtid needs a vector (or absent) " +
          s"startingGtid — a bare GTID '$s' says nothing about the other " +
          "domains")
    }
    // the streaming planner's share rule: connections in proportion to
    // each domain's span, at least one per domain
    GtidRangeCuts.domainShares(sv, e, opts.replayPartitions).flatMap {
      case (startD, endD, n) =>
        GtidRangeCuts.sequenceCuts(startD, endD, GtidRangeCuts.adaptiveN(
            startD, endD, n, opts.catchupSpanPerConnection)).map {
          case (lo, hi) =>
            CdcReplayPartition(opts.host, opts.port, opts.user,
              opts.password, table, fields, lo.map(_.toString), hi.toString,
              opts.timeoutMs, completeOnQuiet = !opts.endGtidObserved,
              domainFilter = Some(endD.domain)): InputPartition
        }
    }.toArray
  }

  /** Bounded-memory position sample: every `sampleEvery`-th position,
    * with resolution halved whenever the sample exceeds 64k marks —
    * ≤ ~64k (count, gtid) pairs however large the backlog. */
  private final class PosMarks {
    var count = 0L
    private var sampleEvery = 64L
    val marks = ArrayBuffer.empty[(Long, Gtid)]
    var last: Option[Gtid] = None
    def add(g: Gtid): Unit = {
      count += 1
      if (count % sampleEvery == 0) {
        marks += ((count, g))
        if (marks.length > 65536) {
          val kept = marks.zipWithIndex
            .collect { case (m, i) if i % 2 == 1 => m }
          marks.clear(); marks ++= kept
          sampleEvery *= 2
        }
      }
      last = Some(g)
    }
  }

  /** Anchor-at-quiet planning (no `endGtid`): walk the backlog once on
    * the driver, anchoring at the first quiet moment; the position
    * marks make the parallel cuts EXACT (equal observed-event counts
    * per range, unlike [[planBounded]]'s arithmetic cuts). */
  private def planReplay(tailer: CdcTailer): Array[InputPartition] = {
    val waitMs = math.max(60000L, 4L * opts.timeoutMs)
    val deadline = System.nanoTime() + waitMs * 1000000L
    val pm = new PosMarks
    while (!tailer.wentQuiet && System.nanoTime() < deadline) {
      tailer.checkFatal()
      tailer.drainPositions().foreach(pm.add)
      Thread.sleep(10)
    }
    tailer.drainPositions().foreach(pm.add)
    tailer.checkFatal()
    pm.last match {
      case None => Array.empty
      case Some(e) =>
        val n = opts.replayPartitions
        val cuts =
          if (n <= 1 || pm.marks.isEmpty) Seq.empty
          else (1 until n).flatMap { i =>
            val target = i.toLong * pm.count / n
            pm.marks.find(_._1 >= target).map(_._2)
          }.distinct.filter(g => startGtid.forall(g > _) && g < e).sorted
        var lo = startGtid
        (cuts :+ e).map { hi =>
          val p = CdcReplayPartition(opts.host, opts.port, opts.user,
            opts.password, table, fields, lo.map(_.toString), hi.toString,
            opts.timeoutMs): InputPartition
          lo = Some(hi)
          p
        }.toArray
    }
  }

  /** GTID-less schemas have no server-side resume token, so executor
    * replay is impossible and rows must flow through the driver (the
    * streaming source's documented degraded mode) — bounded by the probe
    * buffer, failing loudly when the buffer overflows. An `endGtid`
    * here follows the same bound-not-rendezvous semantics as
    * [[planBounded]]: quiet below the bound completes with what
    * exists. */
  private def planSynthetic(endBound: Option[Gtid],
      tailer: CdcTailer): Array[InputPartition] = {
    val waitMs = math.max(60000L, 4L * opts.timeoutMs)
    val deadline = System.nanoTime() + waitMs * 1000000L
    def reachedEnd: Boolean = endBound.exists(e => tailer.latest.exists(_ >= e))
    while (!reachedEnd && !tailer.wentQuiet && System.nanoTime() < deadline) {
      tailer.checkFatal()
      if (tailer.bufferedCount >= ProbeBuffer) throw new CdcProtocolException(
        s"batch read of GTID-less stream $table exceeded the $ProbeBuffer-row " +
          "driver buffer; bound the read with endGtid or add the " +
          "domain/server_id/sequence columns for executor-side replay")
      Thread.sleep(10)
    }
    tailer.checkFatal()
    endBound.orElse(tailer.latest) match {
      case None => Array.empty
      case Some(e) =>
        val events = tailer.slice(None, e)
        if (events.isEmpty) Array.empty
        else Array(CdcInputPartition(
          events.map(_.values), events.map(_.nulls)))
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val projection: Array[Int] =
      if (required == schema) null
      else required.fields.map(f => schema.fieldIndex(f.name))
    new CdcPartitionReaderFactory(required, opts.typed, projection, rowPred)
  }
}
