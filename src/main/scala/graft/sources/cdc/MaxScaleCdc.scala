package graft.sources.cdc

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, ReportsSourceMetrics, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** Source options — names mirror the reference's `Connection` ctor and
  * `connect` arguments (cdc_connector.h:54-69). */
final case class CdcOptions(
    host: String,
    port: Int,
    user: String,
    password: String,
    table: String,
    startingGtid: Option[String],
    timeoutSeconds: Int,
    typed: Boolean,
    maxEventsPerBatch: Int,
    replayPartitions: Int,
    tables: Seq[String] = Seq.empty,
    endGtid: Option[String] = None,
    // the caller OBSERVED endGtid as a produced event (e.g. the
    // bootstrap's anchor): quiet-below-bound is then a server fault
    // (strict stall deadline), not completion — the range is known to
    // exist in full
    endGtidObserved: Boolean = false,
    // schemaMode=normalized: heterogeneous tables fan in to one
    // normalized changelog (GTID/event metadata + `payload` JSON +
    // `_table`) instead of requiring one shared schema — the
    // [[NormalizedPlane]] of the composite stream and batch; see
    // [[NormalizedCdc]]
    normalized: Boolean = false,
    // minimum GTID sequence span per fabricated-cut catch-up connection:
    // shallow backlogs drain serially (per-connection setup dominates),
    // deep ones fan out to replayPartitions — see GtidRangeCuts.adaptiveN
    catchupSpanPerConnection: Long = GtidRangeCuts.DefaultSpanPerConnection,
    // domainMode=vector: per-domain watermark offsets (gtid_slave_pos
    // semantics) — the INTERLEAVED multi-domain changelog shape; see
    // [[DomainVectorOffset]] / [[DomainVectorMicroBatchStream]], and
    // [[MultiVectorOffset]] when [[CompositeCdcMicroBatchStream]]
    // composes several tables
    domainVector: Boolean = false) {
  def timeoutMs: Int = timeoutSeconds * 1000

  /** All subscribed tables: the `tables` option when present (multi-table
    * mode, one [[CompositeCdcMicroBatchStream]] + composite offset), else
    * the single `table`. */
  def allTables: Seq[String] = if (tables.nonEmpty) tables else Seq(table)

  /** Start position for one table. `startingGtid` is a plain GTID (same
    * position for every table — the single-table case and the uniform
    * multi-table case) or, in multi-table mode, the composite
    * `db.a=0-1-5,db.b=-` form for PER-TABLE starts (a multi-table
    * bootstrap needs them: each shard anchors at its own position). */
  def startFor(t: String): Option[Gtid] = startingGtid match {
    case None => None
    case Some(s) if s.startsWith("v:") =>
      // domain-vector form: no single triple represents it — callers on
      // the vector path read the vector directly; probes (schema-only)
      // request from stream start. The vector's head is still a valid
      // at-or-before position, so use it where one is wanted.
      DomainVectorOffset.fromJson(s).requestPoint
    case Some(s) if s.contains("=v:") || (domainVector && s.contains('=')) =>
      // composite per-table VECTOR form (`db.a=v:...;db.b=v:-`) — the
      // vector × tables= start; same head-of-vector looseness as above
      require(allTables.size > 1,
        s"maxscale-cdc: composite startingGtid '$s' needs multi-table mode")
      MultiVectorOffset.fromJson(s).of(t).requestPoint
    case Some(s) if s.contains('=') =>
      require(allTables.size > 1,
        s"maxscale-cdc: composite startingGtid '$s' needs multi-table mode")
      compositeOf(s).of(t)
    case Some(s) => Some(Gtid.parse(s))
  }

  /** Batch upper bound (inclusive) for one table: the plain `endGtid` of
    * a single-table read, or table `t`'s entry of the composite
    * `db.a=0-1-5,db.b=-` form, where a missing or `-` entry anchors at
    * that table's quiet point. (The single-table batch reads a `v:`
    * vector bound directly.) */
  def endFor(t: String): Option[Gtid] = endGtid match {
    case None => None
    case Some(s) if allTables.size == 1 => Some(Gtid.parse(s))
    case Some(s) =>
      require(s.contains('='),
        s"maxscale-cdc: multi-table endGtid must use the composite " +
          s"'db.a=0-1-5,db.b=-' form, got '$s'")
      compositeOf(s).of(t)
  }

  /** Parse a composite per-table GTID line, rejecting entries that name
    * tables this source is not subscribed to — a typo'd entry would
    * otherwise silently fall back to that table's default (stream start
    * / anchor-at-quiet), the dangerous direction. */
  private[cdc] def compositeOf(s: String): MultiGtidOffset = {
    val off = MultiGtidOffset.fromJson(s)
    val unknown = off.gtids.map(_._1).filterNot(allTables.contains)
    require(unknown.isEmpty,
      s"maxscale-cdc: composite GTID entries name unsubscribed tables " +
        s"[${unknown.mkString(",")}] (subscribed: ${allTables.mkString(",")})")
    off
  }

  /** Case-class toString would print the password into any log line that
    * renders the options (stream progress, plan dumps) — mask it. */
  override def toString: String =
    s"CdcOptions($host,$port,$user,${CdcRedact.Mask},${allTables.mkString("+")}," +
      s"$startingGtid,$timeoutSeconds,$typed,$maxEventsPerBatch," +
      s"$replayPartitions,$endGtid)"
}

private[cdc] object CdcRedact { val Mask = "*****" }

/** Test instrumentation: records the accepted filters of the most recent
  * pushFilters call so specs can assert Spark's STREAMING planner really
  * drives DSv2 pushdown into this source — from results alone that is
  * invisible, because every pushed filter stays residual and Spark
  * re-applies it. Never read by production code. */
private[sources] object CdcPushdownProbe {
  @volatile var lastSeen: Seq[String] = Nil
  @volatile var lastPushed: Seq[String] = Nil
  /** Set by pushRuntime: filters/referenced-columns the optimizer rule
    * delivered to a live stream (the operative streaming path). */
  @volatile var lastRuntimeFilters: Seq[String] = Nil
  @volatile var lastRuntimeReferenced: Option[Set[String]] = None
  /** Set by the batch Scan's SupportsRuntimeFiltering.filter — the
    * DPP-style runtime filters Spark delivered after planning. */
  @volatile var lastBatchRuntimeFilters: Seq[String] = Nil
}

object CdcOptions {
  def apply(m: CaseInsensitiveStringMap): CdcOptions = {
    def req(k: String): String = {
      val v = m.get(k)
      require(v != null && v.nonEmpty, s"maxscale-cdc: option '$k' is required")
      v
    }
    // `tables=db.a,db.b`: several same-schema tables (e.g. shards) in ONE
    // stream with a composite per-table GTID offset. The reference client
    // is one-table-per-connection (cdc_connector.h:52-58); this keeps that
    // on the wire (one connection per table) but one query per CONSUMER.
    val multi: Seq[String] = Option(m.get("tables")).filter(_.nonEmpty)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    require(multi.size == multi.distinct.size,
      s"maxscale-cdc: duplicate table in 'tables': ${multi.mkString(",")}")
    CdcOptions(
      host = req("host"),
      port = m.getInt("port", 4001),
      user = m.getOrDefault("user", ""),
      password = m.getOrDefault("password", ""),
      table = multi.headOption.getOrElse(req("table")),
      startingGtid = Option(m.get("startingGtid")).filter(_.nonEmpty),
      // reference default timeout: 10 s (cdc_connector.h:52-58)
      timeoutSeconds = m.getInt("timeoutSeconds", 10),
      // raw = reference-faithful all-strings with null→"" (SURVEY.md §1.2);
      // typed = declared-SQL-type casting, the documented improvement.
      typed = m.getOrDefault("mode", "typed") match {
        case "typed" => true
        case "raw"   => false
        case other => throw new IllegalArgumentException(
          s"maxscale-cdc: mode must be 'raw' or 'typed', got '$other'")
      },
      maxEventsPerBatch = m.getInt("maxEventsPerBatch", 100000),
      // parallel executor-side replay connections per batch. Default 1
      // preserves the changelog's total order within the batch partition;
      // raise it when downstream reshuffles anyway (agg/join on key) and
      // ingest should scale with executors, not one socket.
      replayPartitions = m.getInt("replayPartitions", 1),
      tables = if (multi.size > 1) multi else Seq.empty,
      // batch-read upper bound (inclusive). Single-table: a plain GTID;
      // multi-table: the composite `db.a=0-1-5,db.b=-` form (missing or
      // `-` entries anchor at that table's quiet point).
      endGtid = Option(m.get("endGtid")).filter(_.nonEmpty),
      endGtidObserved = m.getBoolean("endGtidObserved", false),
      normalized = m.getOrDefault("schemaMode", "uniform") match {
        case "uniform"    => false
        case "normalized" => true
        case other => throw new IllegalArgumentException(
          s"maxscale-cdc: schemaMode must be 'uniform' or 'normalized', " +
            s"got '$other'")
      },
      catchupSpanPerConnection = m.getLong("catchupSpanPerConnection",
        GtidRangeCuts.DefaultSpanPerConnection),
      domainVector = m.getOrDefault("domainMode", "single") match {
        case "single" => false
        case "vector" => true
        case other => throw new IllegalArgumentException(
          s"maxscale-cdc: domainMode must be 'single' or 'vector', " +
            s"got '$other'")
      })
  }
}

/** `spark.readStream.format("maxscale-cdc")` — DataSource V2 provider.
  *
  * Schema discovery opens a probe connection and reads the server's
  * in-band schema message (the reference's connect-time pre-read,
  * cdc_connector.cpp:214-218, which likewise forces the schema to arrive
  * before the first row).
  */
/** Connect-time schema pre-read, shared by the provider's inferSchema
  * and the bootstrap's anchor probe (the reference's own connect-time
  * pre-read, cdc_connector.cpp:214-218, which likewise forces the schema
  * to arrive before the first row). Tolerates one empty timeout window
  * before failing — slow servers pass handshake but lag the schema. */
private[cdc] object CdcProbe {
  def schemaFields(o: CdcOptions, table: String): Seq[CdcField] = {
    val client = new CdcClient(o.host, o.port, o.user, o.password, o.timeoutMs)
    try {
      client.connect()
      client.requestData(table, o.startFor(table).map(_.toString))
      var fields: Seq[CdcField] = null
      var tries = 0
      while (fields == null) {
        client.readMessage() match {
          case CdcSchemaMsg(f, _) => fields = f
          case CdcTimeout =>
            tries += 1
            if (tries >= 2) throw new CdcProtocolException(
              s"no schema message from ${o.host}:${o.port} for $table " +
                s"within ${2 * o.timeoutSeconds}s")
          case CdcClosed => throw new CdcProtocolException(
            "server closed the connection before sending a schema")
          case _: CdcRowMsg => // impossible: rows precede no schema
            throw new CdcProtocolException("data row received before schema")
        }
      }
      fields
    } finally client.close()
  }

  /** The wire fields of each of `tables`, probed concurrently. */
  def fieldsByTable(o: CdcOptions,
      tables: Seq[String]): Seq[(String, Seq[CdcField])] =
    CdcConcurrent.map(tables)(t => t -> schemaFields(o, t))

  /** The source's output schema from per-table probes: the normalized
    * changelog shape, one table's own schema, or the shared schema of
    * several same-schema tables plus `_table` — checked here, at plan
    * time, not at row decode. */
  def outputSchema(o: CdcOptions,
      fieldsByTable: Seq[(String, Seq[CdcField])]): StructType =
    if (o.normalized) NormalizedCdc.schemaFor(fieldsByTable, o.typed)
    else if (o.allTables.size == 1)
      SqlTypes.toStructType(fieldsByTable.head._2, o.typed)
    else {
      MultiCdc.requireSameSchema(fieldsByTable)
      SqlTypes.toStructType(fieldsByTable.head._2, o.typed)
        .add(MultiCdc.TableColumn, StringType, nullable = false)
    }
}

class MaxScaleCdcTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "maxscale-cdc"

  /** A caller who already knows the table's schema (a prior probe, a
    * schema registry, the bootstrap's anchor pre-read) can pass it via
    * `spark.read.schema(...)` and skip the inference connection
    * entirely. The schema must come from a prior inference — its fields
    * carry the declared SQL type in `cdc.sqlType` metadata, which the
    * wire-schema validation compares against the server's in-band
    * schema (a hand-written DDL schema lacks it and is rejected loudly
    * at stream/replay start, as is any genuinely wrong schema). */
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val o = CdcOptions(options)
    CdcProbe.outputSchema(o, CdcProbe.fieldsByTable(o, o.allTables))
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // self-register the streaming pushdown rule: Spark's micro-batch
    // planner never drives the DSv2 pushdown interfaces, so the source
    // hooks the session's optimizer on first use instead
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(org.apache.spark.sql.graft.CdcStreamingPushdown.register)
    new MaxScaleCdcTable(schema,
      CdcOptions(new CaseInsensitiveStringMap(properties)))
  }
}

class MaxScaleCdcTable(schema: StructType, opts: CdcOptions)
    extends Table with SupportsRead {
  override def name(): String = s"maxscale-cdc:${opts.allTables.mkString(",")}"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ).asJava

  /** DSv2 pushdown contract (`SupportsPushDownRequiredColumns` +
    * `SupportsPushDownFilters`): a changelog consumer rarely reads every
    * column or event type, and at 100 TB decoding unused fields — or
    * whole filtered-out rows — is pure waste. The WIRE schema stays full
    * (the server sends whole rows; the tailer/replay readers need the
    * GTID trio for offsets and range filtering), but emitted rows carry
    * only the requested columns, and translatable conjuncts (see
    * [[CdcWireFilters]]) drop rows BEFORE the typed cast + InternalRow
    * allocation. Every filter is also returned as residual: Spark
    * re-applies it post-scan, so the wire predicate only has to be exact
    * in the drop direction.
    *
    * HONESTY NOTE on activation: Spark 4.1's micro-batch planner builds
    * streaming scans with a bare `newScanBuilder(options).build()` and
    * never calls these interfaces (verified against the shipped
    * bytecode) — they are implemented here because they are the standard
    * contract (a future Spark that drives them gets the fast path for
    * free, and the specs pin the semantics). The OPERATIVE streaming
    * path is the session-side optimizer rule
    * `org.apache.spark.sql.graft.CdcStreamingPushdown`, which the
    * provider self-registers: it delivers the same filters + the
    * referenced-column set to the live stream each micro-batch
    * ([[CdcPushdownSupport]]), where they become the identical wire
    * predicate plus a decode-skip mask. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns
        with SupportsPushDownFilters {
      private var required: StructType = schema
      private var pushed: Array[Filter] = Array.empty

      /** `tables=` and `schemaMode=normalized` (any table count) read
        * through the composite stream and batch. */
      private val composite = opts.normalized || opts.allTables.size > 1
      private val pushSchema = CompositePlane.pushSchema(schema, opts)

      /** A conjunct is pushable when it compiles against the push schema
        * (see [[CompositePlane.pushSchema]]) — or, in a composite read,
        * when it references ONLY `_table` and compiles against the
        * one-column tag schema (those prune whole tables at plan time).
        * Anything else, e.g. a mixed `_table`+column conjunct or one over
        * `payload`, stays with Spark. */
      private def pushable(f: Filter): Boolean =
        (composite && MultiCdc.tableOnly(f) &&
          CdcWireFilters.compile(f, MultiCdc.TagSchema, typed = true).isDefined) ||
          CdcWireFilters.compile(f, pushSchema, opts.typed).isDefined

      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        pushed = filters.filter(pushable)
        CdcPushdownProbe.lastSeen = filters.map(_.toString).toSeq
        CdcPushdownProbe.lastPushed = pushed.map(_.toString).toSeq
        filters // ALL residual — Spark re-applies, under-filtering is safe
      }
      override def pushedFilters(): Array[Filter] = pushed

      override def pruneColumns(requiredSchema: StructType): Unit =
        // Spark passes the needed subset in table-schema order; an empty
        // prune (count-only queries) still needs ONE column to frame rows
        required =
          if (requiredSchema.fields.isEmpty) StructType(schema.fields.take(1))
          else requiredSchema
      override def build(): Scan = new Scan
          with org.apache.spark.sql.connector.read.SupportsReportStatistics
          with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {
        override def readSchema(): StructType = required

        /** Runtime filtering (DPP-style): a dynamic-pruning subquery over
          * the join keys delivers In()/EqualTo() AFTER planning; they
          * fold into the same wire predicate as static pushdown, so a
          * joined slice skips decoding rows whose keys the other side
          * already eliminated, and a `_table` filter prunes whole tables
          * at re-plan time (no probe, no connection). Only columns a
          * runtime filter can act on are advertised — `_table` and the
          * push schema's: advertising others (notably `payload`) would
          * invite Spark to build DPP subquery broadcasts that buy
          * nothing. Under-filtering is always safe: Spark re-applies. */
        @volatile private var runtimeFilters: Array[Filter] = Array.empty
        override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
          required.fields
            .filter(f => f.name == MultiCdc.TableColumn ||
              pushSchema.fieldNames.contains(f.name))
            .map(f =>
              org.apache.spark.sql.connector.expressions.Expressions.column(f.name))
        override def filter(filters: Array[Filter]): Unit = {
          runtimeFilters = filters
          CdcPushdownProbe.lastBatchRuntimeFilters = filters.map(_.toString).toSeq
        }
        override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
          CdcMetrics.supported

        /** Explicitly-bounded uniform slices report a row-count UPPER
          * bound from the GTID sequence span (a domain's sequence is
          * dense across tables, so a table's slice holds at most
          * span events) — without it Spark assumes defaultSizeInBytes
          * (≈∞) and a small pulled slice can never be broadcast in the
          * pull-and-join pattern. Unbounded/anchor scans stay unknown:
          * a changelog has no cheap cardinality oracle before the
          * anchor probe runs. Normalized scans stay unknown too: a
          * payload row's width is not in the schema.
          *
          * Looseness: a table with no explicit start position counts
          * from sequence 0, which is still a correct upper bound (the
          * pull really does read from the beginning) but can be very
          * loose — a domain's sequence is shared across its tables, so
          * a table whose events are a sliver of the domain reports the
          * whole span. The bound errs only toward "too big to
          * broadcast", never the reverse, so a missed broadcast is the
          * worst case; callers who care pass explicit per-table starts
          * (the composite form), which tighten each span to its slice. */
        override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
          new org.apache.spark.sql.connector.read.Statistics {
            // saturating arithmetic throughout: a typo'd huge sequence
            // must surface as "huge" (never broadcast), not wrap
            // negative (which would ALWAYS broadcast)
            private def satAdd(a: Long, b: Long): Long =
              try Math.addExact(a, b)
              catch { case _: ArithmeticException => Long.MaxValue }
            private def satMul(a: Long, b: Long): Long =
              try Math.multiplyExact(a, b)
              catch { case _: ArithmeticException => Long.MaxValue }
            private val span: Option[Long] = opts.endGtid match {
              case _ if opts.normalized => None
              case Some(s) if s.startsWith("v:") =>
                // vector-bounded pull: sum of per-domain sequence spans
                // (same upper-bound looseness as the plain form)
                val sv = opts.startingGtid.filter(_.startsWith("v:"))
                  .map(DomainVectorOffset.fromJson)
                  .getOrElse(DomainVectorOffset.Start)
                Some(DomainVectorOffset.fromJson(s).entries
                  .map(e => math.max(0L, e.sequence -
                    sv.of(e.domain).map(_.sequence).getOrElse(0L)))
                  .foldLeft(0L)(satAdd))
              case Some(_) =>
                val spans = opts.allTables.map(t => opts.endFor(t).map(e =>
                  math.max(0L,
                    e.sequence - opts.startFor(t).map(_.sequence).getOrElse(0L))))
                // every table must be explicitly bounded for the total to
                // be an upper bound (an anchor-at-quiet entry is unknown)
                if (spans.forall(_.isDefined))
                  Some(spans.flatten.foldLeft(0L)(satAdd))
                else None
              case None => None
            }
            override def numRows(): java.util.OptionalLong =
              span.map(java.util.OptionalLong.of)
                .getOrElse(java.util.OptionalLong.empty())
            override def sizeInBytes(): java.util.OptionalLong =
              span.map(s => java.util.OptionalLong.of(
                satMul(s, required.defaultSize.toLong + 16L)))
                .getOrElse(java.util.OptionalLong.empty())
          }
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
          require(opts.endGtid.isEmpty,
            "maxscale-cdc: endGtid is a batch-read option; bound a stream " +
              "with Trigger.AvailableNow instead")
          if (composite)
            new CompositeCdcMicroBatchStream(schema, required, opts,
              checkpointLocation, pushed)
          else if (opts.domainVector)
            new DomainVectorMicroBatchStream(schema, opts,
              checkpointLocation, required, pushed)
          else
            new CdcMicroBatchStream(schema, opts, checkpointLocation,
              required, pushed)
        }
        // one-shot bounded pull, `spark.read.format("maxscale-cdc")` —
        // the batch planner drives pruneColumns/pushFilters natively
        // here, so `required`/`pushed` arrive via the standard contract
        override def toBatch(): org.apache.spark.sql.connector.read.Batch =
          if (composite)
            new CompositeCdcBatch(schema, required, opts, pushed, () => runtimeFilters)
          else new CdcBatch(schema, required, opts, pushed, () => runtimeFilters)
      }
    }
}

/** What every CDC micro-batch stream shares, composite or single-table:
  * the DSv2 streaming mix-ins, admission control over
  * `maxEventsPerBatch`, and the no-arg `latestOffset` Spark never calls
  * on a [[SupportsAdmissionControl]] source. */
private[cdc] abstract class CdcStreamBase(opts: CdcOptions) extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow
    with ReportsSourceMetrics with CdcPushdownSupport {

  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.maxRows(opts.maxEventsPerBatch)

  /** The row budget `limit` grants one batch. */
  protected def rowBudget(limit: ReadLimit): Int = limit match {
    case r: ReadMaxRows => math.min(r.maxRows(), Int.MaxValue).toInt
    case _ => opts.maxEventsPerBatch
  }

  override def latestOffset(): Offset = throw new IllegalStateException(
    "latestOffset(Offset, ReadLimit) should be called instead of this method")
}

/** Scaffolding of the two single-table streams ([[CdcMicroBatchStream]]
  * over one GTID, [[DomainVectorMicroBatchStream]] over a domain
  * vector): wire fields, column pruning, the pushed-filter predicate,
  * runtime pushdown, the driver-side tailer's lifecycle and the reader
  * factory. Offsets, tailer calls and partition planning stay in each
  * leaf. */
private[cdc] abstract class CdcTableStream(schema: StructType, opts: CdcOptions,
    required: StructType, pushed: Array[Filter])
    extends CdcStreamBase(opts) {

  /** Wire fields are ALWAYS the full table schema: the server sends whole
    * rows, and the tailer/replay readers extract GTIDs by position in
    * this list regardless of what the query projects. */
  protected val fields: Seq[CdcField] = CdcField.fromSchema(schema)

  /** Output schema after column pruning (null `required` = no pruning). */
  private val outSchema: StructType =
    if (required == null) schema else required
  /** Indices of the pruned columns in the wire row, or null when the
    * query reads everything (the fast path allocates nothing extra). */
  private val projection: Array[Int] =
    if (outSchema == schema) null
    else outSchema.fields.map(f => schema.fieldIndex(f.name))

  /** Pushed filters compiled (on the driver) to a serializable wire-row
    * predicate; null = no pushed filters (readers' fast path). Admission
    * control deliberately still counts WIRE events — a batch is a GTID
    * range, whatever fraction of it the predicate emits. */
  private val wirePred: WirePred =
    CdcWireFilters.compileAll(pushed.toSeq, schema, opts.typed)

  /** Runtime pushdown state, set per micro-batch by the session-side
    * optimizer rule (CdcStreamingPushdown) — Spark's streaming planner
    * never calls the DSv2 pushdown interfaces, so this is the operative
    * path. Read by createReaderFactory (invoked per batch AFTER the
    * optimizer ran), and advisory by contract: a raced first batch just
    * runs unfiltered. */
  @volatile private var runtimePred: WirePred = null
  @volatile private var runtimeMask: Array[Boolean] = null
  override def pushRuntime(
      filters: Seq[Filter], referenced: Option[Set[String]]): Unit = {
    CdcPushdownProbe.lastRuntimeFilters = filters.map(_.toString)
    CdcPushdownProbe.lastRuntimeReferenced = referenced
    runtimePred = CdcWireFilters.compileAll(filters, schema, opts.typed)
    runtimeMask = referenced match {
      case Some(refs) if !outSchema.fields.forall(f => refs.contains(f.name)) =>
        outSchema.fields.map(f => refs.contains(f.name))
      case _ => null
    }
  }

  @volatile protected var tailer: CdcTailer = _
  /** A new (not yet started) tailer resuming at the leaf's committed
    * position. */
  protected def newTailer(): CdcTailer
  /** Driver-side buffer cap of the tailer. */
  protected def tailerBuffer: Int = math.max(2 * opts.maxEventsPerBatch, 10000)

  protected def ensureTailer(): CdcTailer = synchronized {
    if (tailer == null) {
      tailer = newTailer()
      tailer.start()
    }
    tailer
  }

  /** Shut the tailer down (idempotent, recreatable): the composite
    * stream idles a delegate when `_table` pruning excludes it, so an
    * excluded table holds NO connection from the next batch on; a later
    * filter change simply recreates the tailer at the resume point. */
  private[cdc] def idle(): Unit = synchronized {
    if (tailer != null) { tailer.shutdown(); tailer = null }
  }

  override def stop(): Unit = synchronized {
    if (tailer != null) tailer.shutdown()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // static (ScanBuilder) and runtime (optimizer rule) predicates are
    // both conservative over-approximations of the same query filters —
    // AND is correct and de-duplicates nothing worse than a re-check
    new CdcPartitionReaderFactory(outSchema, opts.typed, projection,
      WirePred.and(wirePred, runtimePred), runtimeMask)

  /** The metrics every leaf reports; each adds its position keys. */
  protected def baseMetrics(): java.util.HashMap[String, String] = {
    val m = new java.util.HashMap[String, String]()
    val t = tailer
    m.put("bufferedEvents", if (t == null) "0" else t.bufferedCount.toString)
    m.put("pushdownFilterActive", (runtimePred != null || wirePred != null).toString)
    m.put("decodeSkipActive", (runtimeMask != null).toString)
    if (t != null) {
      m.put("tailerScannedRows", t.scannedRows.toString)
      m.put("tailerScannedBytes", t.scannedBytes.toString)
      m.put("tailerDeclinedRows", t.declinedRows.toString)
    }
    m
  }
}

/** Micro-batch planner over the driver-side [[CdcTailer]].
  *
  * Offsets are GTIDs (SURVEY.md §3.4): `initialOffset` is the
  * `startingGtid` option (reference `connect(table, gtid)` semantics).
  *
  * Recovery contract: after a restart Spark may re-plan the last
  * UNcommitted batch with its logged (start, end] range, so the tailer
  * must resume from the last *committed* position — never later. That
  * position is persisted under the checkpoint dir on every `commit()`
  * (written after Spark's own commit log, so a crash between the two only
  * ever replays extra events, which batch GTID ranges then exclude —
  * the safe direction). The server replays from the requested GTID and
  * the tailer's inclusive-skip dedupes, giving each batch exactly its
  * range (SURVEY.md §7 hard-part 2).
  */
class CdcMicroBatchStream(schema: StructType, opts: CdcOptions,
    checkpointLocation: String, required: StructType = null,
    pushed: Array[Filter] = Array.empty)
    extends CdcTableStream(schema, opts, required, pushed) {

  private val startGtid: Option[Gtid] = opts.startFor(opts.table)
  /** Last committed position (checkpoint-persisted) — the tailer's resume
    * point. Always >= startingGtid, never past an uncommitted batch. */
  @volatile private var resumeHint: Option[Gtid] = {
    val committed = CommittedGtidFile.read(checkpointLocation)
    (startGtid.toSeq ++ committed.toSeq)
      .reduceOption((a: Gtid, b: Gtid) => if (a >= b) a else b)
  }

  override protected def newTailer(): CdcTailer =
    new CdcTailer(opts.host, opts.port, opts.user, opts.password,
      opts.table, fields, resumeHint, opts.timeoutMs, tailerBuffer,
      // normalized delegates absorb mid-stream DDL (schema-free payload
      // rows); uniform mode keeps the documented fail-and-restart
      tolerateReSchema = opts.normalized)

  override def initialOffset(): Offset = GtidOffset(startGtid)

  /** Trigger.AvailableNow: 'now' for a changelog is the position at the
    * first moment the server goes quiet (one read timeout with nothing
    * pending). prepare blocks until that happens (bounded — a server
    * busier than the poll timeout anchors at the deadline's buffered
    * position instead), then every batch is clamped to the anchored
    * target, so the query drains exactly the pre-existing backlog in
    * admission-capped batches and stops. */
  @volatile private var availableNowTarget: Option[Gtid] = None
  /** Distinguishes "no clamp" (normal trigger) from "clamp to nothing"
    * (AvailableNow prepared against a changelog that was EMPTY at the
    * quiet point — `latest` is None, yet events arriving after query
    * start must still be excluded or termination would depend on the
    * stream going quiet a second time). */
  @volatile private var availableNowPrepared = false
  override def prepareForTriggerAvailableNow(): Unit = {
    val t = ensureTailer()
    t.awaitQuiet(math.max(60000L, 4L * opts.timeoutMs))
    availableNowTarget = t.latest
    availableNowPrepared = true
  }

  override def deserializeOffset(json: String): Offset = GtidOffset.fromJson(json)

  /** End of the last batch this stream PLANNED (offsets advance ahead of
    * commits — capping against the committed position would stall the
    * stream at one batch per commit round-trip). */
  @volatile private var lastPlannedEnd: Option[Gtid] = None

  /** Admission-controlled offset advance. The planned end is floored at
    * Spark's OWN start offset for the next batch: after a crash between
    * Spark's commit-log write and our committed-GTID file write, the local
    * `resumeHint`/`lastPlannedEnd` can lag Spark's durable position, and an
    * end planned behind the start would produce a backwards batch whose
    * commit regresses the watermark file (duplicates on the next restart).
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startG = start.asInstanceOf[GtidOffset].gtid
    val t = ensureTailer()
    t.checkFatal()
    val after = (resumeHint.toSeq ++ lastPlannedEnd.toSeq ++ startG.toSeq)
      .reduceOption((a: Gtid, b: Gtid) => if (a >= b) a else b)
    val capped = t.cappedEnd(after, rowBudget(limit)).orElse(after)
    // AvailableNow: never plan past the anchored target; an
    // initially-empty changelog (target None after prepare) plans
    // NOTHING — the offset stays at the resume point and the query
    // terminates with zero batches
    val end =
      if (!availableNowPrepared) capped
      else availableNowTarget match {
        case Some(tg) => capped.map(c => if (c > tg) tg else c)
        case None => after
      }
    lastPlannedEnd = end
    GtidOffset(end)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GtidOffset].gtid
    val e = end.asInstanceOf[GtidOffset].gtid
    val t = ensureTailer()
    t.checkFatal()
    e match {
      case None => Array.empty
      case Some(endG) if s.exists(_ >= endG) => Array.empty
      case Some(endG) if t.hasGtidColumns =>
        // Data plane stays off the driver: emit O(1) replay descriptors;
        // each executor re-reads its GTID subrange from the server
        // (reference resume semantics, cdc_connector.cpp:199-213). Works
        // identically for live batches and recovery re-plans — the range
        // is served by the server, not the tailer's buffer.
        t.splitRanges(s, endG, opts.replayPartitions,
            opts.catchupSpanPerConnection).map { case (rs, re) =>
          CdcReplayPartition(opts.host, opts.port, opts.user, opts.password,
            opts.table, fields, rs.map(_.toString), re.toString,
            opts.timeoutMs): InputPartition
        }.toArray
      case Some(endG) =>
        // Synthetic offsets (no GTID columns): no server-side resume token
        // exists, so rows must flow through the driver. Recovery: block
        // until the reconnected tailer has replayed the range — failing
        // loudly beats serving an empty batch whose commit would discard
        // the range forever.
        t.awaitDelivered(endG, waitMs = math.max(60000, 4L * opts.timeoutMs))
        val events = t.slice(s, endG)
        if (events.isEmpty) Array.empty
        else Array(CdcInputPartition(
          events.map(_.values), events.map(_.nulls)))
    }
  }

  /** Monotone commit: both the in-memory resume hint and the durable
    * watermark file only ever advance. A stale end offset (re-delivered
    * after restart, or a backwards batch from a planner race) must not
    * regress the committed position — regression means re-replay and
    * duplicate delivery downstream. */
  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[GtidOffset].gtid
    e.foreach { g =>
      CommittedGtidFile.advance(checkpointLocation, g)
      if (resumeHint.forall(g > _)) resumeHint = Some(g)
      if (tailer != null) tailer.trimTo(g)
    }
  }

  /** Driver-side source metrics, surfaced per micro-batch in
    * StreamingQueryProgress.sources[i].metrics — the operational signals
    * a changelog consumer actually watches: backlog depth, the committed
    * resume position, and whether runtime pushdown is engaged. */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset]): java.util.Map[String, String] = {
    val m = baseMetrics()
    m.put("committedGtid", resumeHint.map(_.toString).getOrElse("-"))
    availableNowTarget.foreach(g => m.put("availableNowTarget", g.toString))
    m
  }
}

/** A partition plus a RUNTIME wire predicate (SupportsRuntimeFiltering):
  * runtime filters arrive after Spark has already materialized the
  * reader factory (planning-time supportsColumnar), but partitions are
  * re-planned after `filter()` fires and serialize per task — so the
  * runtime predicate rides here and the factory ANDs it in. */
private[sources] final case class RuntimeFilteredCdcPartition(
    inner: InputPartition, pred: WirePred) extends InputPartition

/** Driver-decoded slice — the SYNTHETIC-OFFSET fallback only (schemas
  * without domain/server_id/sequence have no server-side resume token, so
  * executor replay is impossible). Streams with real GTIDs plan
  * [[CdcReplayPartition]]s instead and never serialize rows through here.
  */
final case class CdcInputPartition(
    values: Array[Array[String]],
    nulls: Array[Array[Boolean]]) extends InputPartition

/** `schema` is the OUTPUT (possibly pruned) schema; `projection` maps its
  * columns to wire-row indices, null when output = wire; `pred` is the
  * compiled pushed-filter predicate over the FULL wire row (null = none);
  * `mask` marks output columns the plan never reads (decode-skip). */
class CdcPartitionReaderFactory(schema: StructType, typed: Boolean,
    projection: Array[Int] = null, pred: WirePred = null,
    mask: Array[Boolean] = null)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val dts = schema.fields.map(_.dataType)
    partition match {
      case RuntimeFilteredCdcPartition(inner, rt) =>
        // runtime filters ride the partition (see the case class doc);
        // AND them into this factory's static predicate for the reader
        new CdcPartitionReaderFactory(schema, typed, projection,
          WirePred.and(pred, rt), mask).createReader(inner)
      case rp: CdcReplayPartition =>
        new CdcReplayReader(rp, dts, typed, projection, pred, mask)
      case p: CdcInputPartition => new PartitionReader[InternalRow] {
        private var i = -1
        private var nFiltered = 0L
        private var nEmitted = 0L
        override def next(): Boolean = {
          i += 1
          // pushed-filter skip: rows that can't pass never decode
          while (i < p.values.length &&
              pred != null && !pred.eval(p.values(i), p.nulls(i))) {
            i += 1; nFiltered += 1
          }
          val more = i < p.values.length
          if (more) nEmitted += 1
          more
        }
        override def get(): InternalRow =
          CdcRowCodec.toInternalRow(
            CdcRowCodec.project(p.values(i), projection),
            CdcRowCodec.project(p.nulls(i), projection), dts, typed, mask)
        override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
          // every row here is cast from driver-decoded wire strings
          Array(CdcTaskMetric(CdcMetrics.FilteredRows, nFiltered),
            CdcTaskMetric(CdcMetrics.DecodedRows, nEmitted),
            CdcTaskMetric(CdcMetrics.SlowPathRows, nEmitted),
            // the tailer framed these rows; the task reads none off the wire
            CdcTaskMetric(CdcMetrics.WireBytes, 0L))
        override def close(): Unit = ()
      }
      case other => throw new IllegalArgumentException(
        s"unexpected partition type ${other.getClass}")
    }
  }
}
