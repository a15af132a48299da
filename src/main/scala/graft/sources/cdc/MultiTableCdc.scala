package graft.sources.cdc

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Multi-table mode (`tables=db.a,db.b`): several same-schema tables —
  * the sharded-upstream shape — in ONE streaming query.
  *
  * The reference client binds one db.table per connection
  * (cdc_connector.h:52-58, REQUEST-DATA takes a single table), so the
  * wire protocol stays one-connection-per-table here too; what this
  * removes is the per-table QUERY overhead on the consumer side: one
  * checkpoint, one composite offset, one DataFrame with a `_table`
  * provenance column instead of N queries to operate and monitor.
  */
object MultiCdc {
  /** Name of the appended provenance column in multi-table mode. */
  val TableColumn = "_table"

  /** The one-column schema `_table`-only conjuncts compile against. */
  private[cdc] val TagSchema: StructType =
    StructType(Seq(StructField(TableColumn, StringType, nullable = false)))

  /** A conjunct over `_table` alone: it prunes whole tables at plan
    * time instead of filtering rows. */
  private[cdc] def tableOnly(f: Filter): Boolean =
    f.references.forall(_ == TableColumn)

  /** The `_table`-only conjuncts of `fs`, compiled (null = none). */
  private[cdc] def tablePred(fs: Seq[Filter]): WirePred =
    CdcWireFilters.compileAll(fs.filter(tableOnly), TagSchema, typed = true)

  /** Whether a compiled `_table` predicate (null = none) admits `t`. */
  private[cdc] def admits(pred: WirePred, t: String): Boolean =
    pred == null || pred.eval(Array(t), Array(false))

  /** Multi-table mode exists for same-schema shards — fail loudly at
    * plan time (not row-decode time) when a table's wire schema
    * differs. Shared by schema inference and the bootstrap's probes. */
  private[cdc] def requireSameSchema(
      fieldsByTable: Seq[(String, Seq[CdcField])]): Unit = {
    val (t0, base) = fieldsByTable.head
    fieldsByTable.tail.foreach { case (t, f) =>
      if (f != base) throw new CdcProtocolException(
        s"maxscale-cdc: tables must share one schema; '$t' differs from " +
          s"'$t0': $f vs $base")
    }
  }
}

/** Driver-side fan-out over independent per-table probes (schema
  * inference, anchors, batch planning): each probe opens its own
  * connection and blocks up to its quiet deadline, so sequential
  * probing would cost N tables × quiet-wait. First failure aborts the
  * rest (shutdownNow interrupts queued and running probes). */
private[cdc] object CdcConcurrent {
  def map[A, B](items: Seq[A], maxThreads: Int = 8)(f: A => B): Seq[B] = {
    if (items.size <= 1) return items.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(items.size, maxThreads))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(
          items.map(a => scala.concurrent.Future(f(a)))),
        scala.concurrent.duration.Duration.Inf) // f's deadlines bound this
    catch { case t: Throwable => pool.shutdownNow(); throw t }
    finally pool.shutdown()
  }
}

/** Composite offset: one GTID position per subscribed table, serialized
  * on ONE line (Spark's OffsetSeqLog is line-oriented) as
  * `db.a=0-1-5,db.b=-` with [[GtidOffset.StartJson]] for stream-start.
  * Entry order follows the `tables` option, so equal positions always
  * serialize identically (Spark compares offsets by their JSON). */
final case class MultiGtidOffset(gtids: Seq[(String, Option[Gtid])]) extends Offset {
  override def json(): String =
    gtids.map { case (t, g) =>
      s"$t=${g.map(_.toString).getOrElse(GtidOffset.StartJson)}"
    }.mkString(",")

  def of(table: String): Option[Gtid] =
    gtids.collectFirst { case (t, g) if t == table => g }.flatten
}

object MultiGtidOffset {
  def fromJson(s: String): MultiGtidOffset =
    // trim each entry: checkpoint round-trips never carry spaces, but
    // the composite form doubles as the user-facing startingGtid/endGtid
    // syntax, where "db.a=0-1-5, db.b=-" is the natural spelling
    MultiGtidOffset(s.split(',').toSeq.map(_.trim).filter(_.nonEmpty).map { part =>
      val i = part.lastIndexOf('=')
      require(i > 0, s"malformed multi-table offset entry '$part'")
      part.substring(0, i).trim -> GtidOffset.fromJson(part.substring(i + 1).trim).gtid
    })
}

/** The one composite micro-batch stream: every multi-table mode —
  * `tables=`, `schemaMode=normalized`, and either of them ×
  * `domainMode=vector` — is one single-table stream per table behind a
  * per-table offset, because the reference client binds one table per
  * connection (cdc_connector.h:52-58).
  *
  * Each delegate keeps its own tailer, committed-position watermark
  * (under `checkpoint/table-<urlencoded>`) and admission control; the
  * row budget of each batch is split evenly across the included tables.
  * Partitions are tagged with their table ([[TaggedCdcPartition]]).
  *
  * Two things vary, both selected by existing options:
  *   - the offset shape (`domainMode`): [[MultiGtidOffset]] over
  *     [[CdcMicroBatchStream]] delegates, or [[MultiVectorOffset]] over
  *     [[DomainVectorMicroBatchStream]] delegates;
  *   - the data plane (`schemaMode`): [[UniformPlane]] or
  *     [[NormalizedPlane]].
  *
  * Pushed `_table` conjuncts become PLAN-TIME table pruning: an
  * excluded table gets no tailer, no connection, no partitions, and a
  * frozen offset entry (the safe direction: dropping the filter later
  * replays from the freeze point, duplicating rather than losing).
  * Exactly-once composes per table: each delegate's batch is a range
  * under its own committed floor.
  */
class CompositeCdcMicroBatchStream(
    schema: StructType, required: StructType, opts: CdcOptions,
    checkpointLocation: String, pushed: Array[Filter] = Array.empty)
    extends CdcStreamBase(opts) {

  private val tables = opts.allTables
  private val vector = opts.domainVector
  private val plane = CompositePlane(schema, required, opts)

  private val tablePred: WirePred = MultiCdc.tablePred(pushed.toSeq)
  private val staticRowFilters = plane.rowFilters(pushed.toSeq)

  /** Runtime pushdown (the operative path — see CdcStreamingPushdown),
    * split exactly like the static conjuncts. All advisory: a raced
    * batch runs unpruned, never incorrectly. */
  @volatile private var runtimeTablePred: WirePred = null
  @volatile private var runtimeRowFilters: Seq[Filter] = Nil
  @volatile private var runtimeReferenced: Option[Set[String]] = None
  override def pushRuntime(
      filters: Seq[Filter], referenced: Option[Set[String]]): Unit = {
    CdcPushdownProbe.lastRuntimeFilters = filters.map(_.toString)
    CdcPushdownProbe.lastRuntimeReferenced = referenced
    runtimeTablePred = MultiCdc.tablePred(filters)
    runtimeRowFilters = plane.rowFilters(filters)
    runtimeReferenced = referenced
  }

  private def included(t: String): Boolean =
    MultiCdc.admits(tablePred, t) && MultiCdc.admits(runtimeTablePred, t)

  /** Per-table checkpoint scope for the committed-position watermark —
    * URL-encoded so `db.table` never introduces path separators. */
  private def subCheckpoint(t: String): String =
    checkpointLocation + "/table-" + java.net.URLEncoder.encode(t, "UTF-8")

  // a stream serves every table from its first batch on: probe them all
  // now (normalized), so schema drift fails the query at start
  plane.prepare(tables)

  private val streams: Seq[(String, CdcTableStream)] = tables.map { t =>
    val (wire, req) = plane.delegateSchema(t)
    // resolve a composite startingGtid to THIS table's entry before the
    // copy narrows the options to single-table mode; `normalized` rides
    // along, so a normalized delegate's tailer absorbs mid-stream DDL
    val one = opts.copy(table = t, tables = Seq.empty)
    t -> (if (vector)
      new DomainVectorMicroBatchStream(wire, one.copy(startingGtid =
        MultiVectorOffset.startFor(opts.startingGtid, tables, t)),
        subCheckpoint(t), req)
    else
      new CdcMicroBatchStream(wire, one.copy(startingGtid =
        opts.startFor(t).map(_.toString)), subCheckpoint(t), req))
  }

  /** This table's slice of a composite offset, in the delegate's own
    * offset shape (GtidOffset or DomainVectorOffset). */
  private def posOf(o: Offset, t: String): Offset = o match {
    case m: MultiGtidOffset   => GtidOffset(m.of(t))
    case m: MultiVectorOffset => m.of(t)
    case other => throw new IllegalArgumentException(
      s"unexpected offset type ${other.getClass}")
  }

  private def composite(entries: Seq[(String, Offset)]): Offset =
    if (vector)
      MultiVectorOffset(entries.map { case (t, o) =>
        t -> o.asInstanceOf[DomainVectorOffset] })
    else
      MultiGtidOffset(entries.map { case (t, o) =>
        t -> o.asInstanceOf[GtidOffset].gtid })

  override def initialOffset(): Offset =
    composite(streams.map { case (t, s) => t -> s.initialOffset() })

  /** Trigger.AvailableNow: every delegate anchors its own 'now' (first
    * quiet moment of its table's stream); the composite then drains to
    * the per-table targets and stops. */
  override def prepareForTriggerAvailableNow(): Unit =
    streams.foreach(_._2.prepareForTriggerAvailableNow())

  override def deserializeOffset(json: String): Offset =
    if (vector) MultiVectorOffset.fromJson(json)
    else MultiGtidOffset.fromJson(json)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val perTable =
      math.max(1, rowBudget(limit) / math.max(1, tables.count(included)))
    composite(streams.map { case (t, s) =>
      // excluded tables freeze at their current position and idle their
      // tailer: no connection, no buffered backlog. (Runtime `_table`
      // pruning arrives with the first batch's optimization, so batch 0
      // may tail every table once — unoptimized, never incorrect.)
      t -> (if (!included(t)) { s.idle(); posOf(start, t) }
            else s.latestOffset(posOf(start, t), ReadLimit.maxRows(perTable)))
    })
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    streams.flatMap { case (t, s) =>
      if (!included(t)) Array.empty[InputPartition]
      else s.planInputPartitions(posOf(start, t), posOf(end, t))
        .map(p => TaggedCdcPartition(p, t): InputPartition)
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    plane.readerFactory(staticRowFilters, runtimeRowFilters, runtimeReferenced)

  override def commit(end: Offset): Unit =
    streams.foreach { case (t, s) => s.commit(posOf(end, t)) }

  override def stop(): Unit = streams.foreach(_._2.stop())

  /** Per-table driver-side metrics (delegate maps, table-prefixed keys)
    * plus the composite pruning state. */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset]): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    streams.foreach { case (t, s) =>
      m.put(s"$t.included", included(t).toString)
      s.metrics(java.util.Optional.empty[Offset]()).forEach((k, v) =>
        m.put(s"$t.$k", v))
    }
    m
  }
}

/** `spark.read` over the composite modes — `tables=` and
  * `schemaMode=normalized`, any table count — the batch twin of
  * [[CompositeCdcMicroBatchStream]] over the same [[CompositePlane]].
  *
  * Each table that survives `_table` pruning plans through its own
  * single-table [[CdcBatch]] with its own anchor, so every batch-planning
  * behavior is inherited: anchor-at-quiet or bounded ranges,
  * zero-driver-I/O sequence cuts for explicit bounds, parallel
  * executor-side replay. Partitions come back tagged with their table
  * ([[TaggedCdcPartition]]) for the plane's reader factory, which adds
  * `_table` (uniform) or builds the normalized row. Pushed `_table`-only
  * conjuncts, static or runtime, prune whole tables at plan time — an
  * excluded table gets no probe and no connection. `endGtid` takes the
  * composite `db.a=0-1-5,db.b=-` form when several tables are subscribed
  * (entries optional; `-` or absence means anchor-at-quiet for that
  * table). The whole-database bootstrap this serves: snapshot every
  * table's history as one DataFrame, then follow with the stream from
  * the same per-table anchors ([[CdcBootstrap]]).
  */
final class CompositeCdcBatch(
    schema: StructType, required: StructType, opts: CdcOptions,
    pushed: Array[Filter], runtime: () => Array[Filter]) extends Batch {

  private val plane = CompositePlane(schema, required, opts)
  private val tablePred: WirePred = MultiCdc.tablePred(pushed.toSeq)
  private val staticRowFilters = plane.rowFilters(pushed.toSeq)

  /** Tables that survive static and runtime `_table` pruning — re-read
    * per call: BatchScanExec re-plans partitions after `filter()` fires. */
  private def liveTables: Seq[String] = {
    val rt = MultiCdc.tablePred(runtime().toSeq)
    opts.allTables.filter(t =>
      MultiCdc.admits(tablePred, t) && MultiCdc.admits(rt, t))
  }

  /** Per-table upper bounds, resolved once. */
  private lazy val ends: Map[String, Option[Gtid]] =
    opts.allTables.map(t => t -> opts.endFor(t)).toMap

  /** Table `t`'s planner: plain per-table bounds, and the runtime row
    * conjuncts compiled against ITS wire schema (they ride the
    * partitions, [[RuntimeFilteredCdcPartition]]). */
  private def delegate(t: String): CdcBatch = {
    val (wire, req) = plane.delegateSchema(t)
    new CdcBatch(wire, req,
      opts.copy(table = t, tables = Seq.empty,
        startingGtid = opts.startFor(t).map(_.toString),
        endGtid = ends(t).map(_.toString)),
      pushed = Array.empty,
      runtime = () => plane.rowFilters(runtime().toSeq).toArray)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val live = liveTables
    plane.prepare(live)
    val delegates = live.map(t => t -> delegate(t))
    CdcConcurrent.map(delegates) { case (t, d) =>
      d.planInputPartitions().map(p => TaggedCdcPartition(p, t): InputPartition)
    }.flatten.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    plane.prepare(liveTables)
    plane.readerFactory(staticRowFilters, Nil, None)
  }
}

/** What `schemaMode` changes in a composite read, stream or batch: the
  * columns a non-`_table` conjunct may reference to reach the wire, the
  * schema each table's delegate decodes, and the reader factory that
  * turns tagged partitions into output rows. */
private[cdc] sealed abstract class CompositePlane(schema: StructType,
    opts: CdcOptions) {
  /** What a non-`_table` conjunct compiles against to reach the wire. */
  val pushSchema: StructType = CompositePlane.pushSchema(schema, opts)
  private val pushColumns = pushSchema.fieldNames.toSet

  /** Get ready to serve `tables`; called before their delegates exist. */
  def prepare(tables: Seq[String]): Unit = ()
  /** (wire schema, pruned schema) of table `t`'s delegate. */
  def delegateSchema(t: String): (StructType, StructType)
  /** The conjuncts of `fs` this plane compiles into the wire predicate
    * (the rest stay with Spark — every filter is residual). */
  def rowFilters(fs: Seq[Filter]): Seq[Filter] =
    fs.filter(f => !MultiCdc.tableOnly(f) && f.references.forall(pushColumns))
  def readerFactory(static: Seq[Filter], runtime: Seq[Filter],
      referenced: Option[Set[String]]): PartitionReaderFactory
}

private[cdc] object CompositePlane {
  def apply(schema: StructType, required: StructType,
      opts: CdcOptions): CompositePlane =
    if (opts.normalized) new NormalizedPlane(schema, required, opts)
    else new UniformPlane(schema, required, opts)

  /** The schema a non-`_table` conjunct must compile against to be
    * pushed: the whole schema for a single table, the shared base schema
    * for uniform `tables=`, the six metadata columns for normalized. */
  def pushSchema(schema: StructType, opts: CdcOptions): StructType =
    if (opts.normalized)
      StructType(schema.fields.filter(f => NormalizedCdc.Meta.contains(f.name)))
    else if (opts.allTables.size > 1) StructType(schema.fields.dropRight(1))
    else schema
}

/** `schemaMode=uniform`: every table shares one base schema (checked at
  * inference), so one base-column wire predicate and one decode-skip
  * mask serve all tables, and [[TaggedCdcReaderFactory]] appends
  * `_table`. Opens no connection of its own. */
private[cdc] final class UniformPlane(schema: StructType, required: StructType,
    opts: CdcOptions) extends CompositePlane(schema, opts) {
  require(schema.fields.lastOption.exists(_.name == MultiCdc.TableColumn),
    s"multi-table schema must end in the ${MultiCdc.TableColumn} column")
  private val baseRequired = TaggedCdcReaderFactory.baseRequired(schema, required)

  def delegateSchema(t: String): (StructType, StructType) =
    (pushSchema, baseRequired)
  def readerFactory(static: Seq[Filter], runtime: Seq[Filter],
      referenced: Option[Set[String]]): PartitionReaderFactory = {
    val mask = referenced match {
      case Some(refs) if !baseRequired.fields.forall(f => refs.contains(f.name)) =>
        baseRequired.fields.map(f => refs.contains(f.name))
      case _ => null
    }
    new TaggedCdcReaderFactory(schema, required, opts.typed,
      CdcWireFilters.compileAll(static ++ runtime, pushSchema, opts.typed), mask)
  }
}

/** `schemaMode=normalized` ([[NormalizedCdc]]): heterogeneous tables,
  * so each delegate decodes its table's own wire schema and metadata
  * conjuncts compile per table. The output schema cannot carry N wire
  * schemas, so the plane probes each table it is asked to serve (one
  * connection per table, concurrent, once — the same cost as
  * planning-time inference; a table `_table` pruning excluded is never
  * probed) and fails loudly on drift against the planning schema, the
  * single-table restart contract. */
private[cdc] final class NormalizedPlane(schema: StructType,
    required: StructType, opts: CdcOptions) extends CompositePlane(schema, opts) {
  /** Probed tables: wire fields and their struct. */
  @volatile private var probed = Map.empty[String, (Seq[CdcField], StructType)]

  override def prepare(tables: Seq[String]): Unit = synchronized {
    val fresh = tables.filterNot(probed.contains)
    if (fresh.nonEmpty) {
      val got = CdcProbe.fieldsByTable(opts, fresh)
      val now = NormalizedCdc.schemaFor(got, opts.typed)
      def shape(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
      if (shape(now) != shape(schema)) throw new CdcProtocolException(
        s"schema drift between planning and read start: normalized schema " +
          s"was ${shape(schema)}, probes now give ${shape(now)} — restart " +
          "the query")
      probed ++= got.map { case (t, fs) =>
        t -> (fs, SqlTypes.toStructType(fs, opts.typed))
      }
    }
  }

  def delegateSchema(t: String): (StructType, StructType) = {
    val wire = probed(t)._2
    (wire, wire)
  }
  def readerFactory(static: Seq[Filter], runtime: Seq[Filter],
      referenced: Option[Set[String]]): PartitionReaderFactory = {
    val tables = probed
    new NormalizedCdcReaderFactory(
      tables.map { case (t, (fs, _)) =>
        t -> WireNormalizer(t, fs, opts.typed, required)
      },
      tables.map { case (t, (_, wire)) =>
        t -> CdcWireFilters.compileAll(static ++ runtime, wire, opts.typed)
      }.filter(_._2 != null))
  }
}

/** A single-table partition plus the table it came from. */
final case class TaggedCdcPartition(inner: InputPartition, table: String)
    extends InputPartition

object TaggedCdcReaderFactory {
  /** The pruned base-row schema each table decodes; a `_table`-only
    * projection still decodes one base column for row framing (its
    * values are discarded). */
  private[cdc] def baseRequired(schema: StructType, required: StructType): StructType = {
    val base = StructType(
      required.fields.filterNot(_.name == MultiCdc.TableColumn))
    if (base.fields.isEmpty) StructType(schema.fields.take(1)) else base
  }
}

/** Uniform-mode reader factory over `schema` (base columns + `_table`)
  * pruned to `required`: delegates to the single-table reader over the
  * pruned base row and, when the projection kept `_table`, appends the
  * constant table value — a mutable JoinedRow over the inner row, the
  * standard append-a-column source pattern (rows are projected/copied
  * by the scan exec before buffering). A `_table`-only projection emits
  * the tag alone: the inner reader still frames rows and drives GTID
  * replay, but its one decoded framing column is discarded so the row
  * width matches `readSchema()`. */
class TaggedCdcReaderFactory(schema: StructType, required: StructType,
    typed: Boolean, rowPred: WirePred = null, mask: Array[Boolean] = null)
    extends PartitionReaderFactory {
  private val appendTable: Boolean =
    required.fieldNames.contains(MultiCdc.TableColumn)
  private val emitBase: Boolean =
    required.fields.exists(_.name != MultiCdc.TableColumn)
  private val inner = {
    val baseSchema = StructType(schema.fields.dropRight(1))
    val baseRequired = TaggedCdcReaderFactory.baseRequired(schema, required)
    val projection: Array[Int] =
      if (baseRequired == baseSchema) null
      else baseRequired.fields.map(f => baseSchema.fieldIndex(f.name))
    new CdcPartitionReaderFactory(baseRequired, typed, projection, rowPred, mask)
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case TaggedCdcPartition(p, t) =>
        val r = inner.createReader(p)
        if (!appendTable) r
        else {
          val tag = new GenericInternalRow(
            Array[Any](UTF8String.fromString(t)))
          if (!emitBase)
            new PartitionReader[InternalRow] {
              override def next(): Boolean = r.next()
              override def get(): InternalRow = tag
              override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
                r.currentMetricsValues()
              override def close(): Unit = r.close()
            }
          else
            new PartitionReader[InternalRow] {
              private val joined = new JoinedRow
              override def next(): Boolean = r.next()
              override def get(): InternalRow = joined(r.get(), tag)
              override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
                r.currentMetricsValues()
              override def close(): Unit = r.close()
            }
        }
      case other => throw new IllegalArgumentException(
        s"unexpected partition type ${other.getClass}")
    }
}
