package graft.sources.cdc

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `schemaMode=normalized`: N DIFFERENT-schema tables in one streaming
  * query, fanned in to a normalized changelog.
  *
  * Uniform multi-table mode (`tables=db.a,db.b`, [[MultiCdc]]) exists
  * for same-schema shards; the next consumer ask is "every table of
  * this database in one stream" — inherently heterogeneous. A union
  * schema cannot work (Spark plans carry one fixed row shape), so the
  * normalized row keeps what every MaxScale CDC stream shares and
  * packs the rest:
  *
  *   domain, server_id, sequence,          -- GTID (replay/offsets)
  *   event_number, timestamp, event_type,  -- event metadata
  *   payload STRING,                       -- table columns as a JSON object
  *   _table STRING                         -- provenance
  *
  * The six metadata columns are injected by the server into every
  * table's stream (reference cdc_connector.cpp:250-286 reads them from
  * the avro schema's leading fields), which is what makes this shape
  * universal. Consumers unpack `payload` per table with
  * `get_json_object`/`from_json` after routing on `_table` — the
  * standard normalized-changelog consumption pattern.
  *
  * The stream is the one [[CompositeCdcMicroBatchStream]] and the batch
  * read the one [[CompositeCdcBatch]], both with the [[NormalizedPlane]]
  * data plane, so everything operational is shared with uniform mode:
  * one checkpoint, one composite offset line, per-table committed-GTID
  * watermarks, per-table admission-control split, Trigger.AvailableNow
  * per-table anchors, composite `endGtid` bounds, `_table`-pushdown table
  * pruning, and executor-side GTID-range replay (the data plane never
  * touches the driver). Payload encoding happens executor-side in the
  * replay readers.
  */
object NormalizedCdc {
  /** Server-injected metadata columns every CDC stream carries, in
    * their wire order. */
  val Meta: Seq[String] =
    Seq("domain", "server_id", "sequence", "event_number", "timestamp",
      "event_type")

  val PayloadColumn = "payload"

  /** Validate per-table probes: each table must carry the six metadata
    * columns (the GTID trio drives replay; the rest are the normalized
    * row), declared with the SAME SQL types everywhere — plan-time
    * failure, not row-decode surprise. */
  private[sources] def validate(fieldsByTable: Seq[(String, Seq[CdcField])]): Unit = {
    fieldsByTable.foreach { case (t, fs) =>
      val names = fs.map(_.name)
      val missing = Meta.filterNot(names.contains)
      if (missing.nonEmpty) throw new CdcProtocolException(
        s"maxscale-cdc: schemaMode=normalized needs the server metadata " +
          s"columns; '$t' is missing [${missing.mkString(",")}]")
    }
    val metaOf: Seq[CdcField] => Seq[CdcField] =
      fs => Meta.map(n => fs.find(_.name == n).get)
    val (t0, f0) = fieldsByTable.head
    val base = metaOf(f0)
    fieldsByTable.tail.foreach { case (t, fs) =>
      val m = metaOf(fs)
      if (m != base) throw new CdcProtocolException(
        s"maxscale-cdc: metadata columns must share one declared type; " +
          s"'$t' differs from '$t0': $m vs $base")
    }
  }

  /** Validate a MID-STREAM evolved wire schema (DDL absorbed without a
    * query restart): the normalized row only depends structurally on the
    * six server metadata columns, so any evolution that keeps them —
    * column adds, drops, renames, reorders of USER columns — is
    * tolerable; the payload simply reflects the new shape from the next
    * row on. Losing a metadata column (or changing its declared type)
    * would break replay positioning and the fixed output schema — that
    * stays a loud restart-the-query failure. */
  private[sources] def validateEvolved(table: String,
      planned: Seq[CdcField], evolved: Seq[CdcField]): Unit = {
    val missing = Meta.filterNot(n => evolved.exists(_.name == n))
    if (missing.nonEmpty) throw new CdcProtocolException(
      s"maxscale-cdc: mid-stream schema change on '$table' dropped the " +
        s"server metadata columns [${missing.mkString(",")}] — the " +
        "normalized changelog cannot absorb this; restart the query")
    val metaOf: Seq[CdcField] => Seq[CdcField] =
      fs => Meta.map(n => fs.find(_.name == n).get)
    if (metaOf(evolved) != metaOf(planned)) throw new CdcProtocolException(
      s"maxscale-cdc: mid-stream schema change on '$table' re-declared a " +
        s"metadata column (${metaOf(planned)} vs ${metaOf(evolved)}) — " +
        "restart the query")
  }

  /** The normalized output schema for a set of per-table probes. */
  private[sources] def schemaFor(fieldsByTable: Seq[(String, Seq[CdcField])],
      typed: Boolean): StructType = {
    validate(fieldsByTable)
    val metaFields = Meta.map(n => fieldsByTable.head._2.find(_.name == n).get)
    SqlTypes.toStructType(metaFields, typed)
      .add(PayloadColumn, StringType, nullable = false)
      .add(MultiCdc.TableColumn, StringType, nullable = false)
  }

  /** Typed per-table view over a normalized changelog frame (stream or
    * batch — a pure DataFrame transform): routes on `_table` and projects
    * `payload` back onto the table's wire schema via `from_json` with the
    * §1.3 SQL-type mapping, so consumers stop hand-parsing payload JSON.
    * Output column order is WIRE order (metadata columns ride through
    * from the normalized frame; user columns unpack from the payload),
    * i.e. exactly the shape uniform mode would stream for this table.
    *
    * Raw/typed discipline matches uniform mode (reference
    * `json_to_string`, cdc_connector.cpp:80-115): typed mode maps each
    * declared SQL type (JSON null / absent key → SQL NULL — a pre-DDL
    * row under an added column reads as NULL, the null-extension
    * contract); raw mode keeps every user column a string with the
    * reference's null→"" conflation. Binary columns take the wire
    * text's UTF-8 bytes, exactly like the replay readers' cast path
    * ([[SqlTypes.cast]]); timestamps parse against UTC, the same fixed
    * zone the cast path uses.
    */
  def typedView(df: org.apache.spark.sql.DataFrame, table: String,
      wireFields: Seq[CdcField], typed: Boolean = true): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, encode, from_json, lit}
    validate(Seq(table -> wireFields))
    val user = wireFields.filterNot(f => Meta.contains(f.name))
    val parseSchema = StructType(user.map { f =>
      val dt = if (typed) SqlTypes.toSpark(f.sqlType) else StringType
      // binary parses as text first (JSON carries the wire string; the
      // typed value is its UTF-8 bytes, not base64 — SqlTypes.cast parity)
      val parseDt = dt match {
        case org.apache.spark.sql.types.BinaryType => StringType
        case other => other
      }
      org.apache.spark.sql.types.StructField(f.name, parseDt, nullable = true)
    })
    val parsed = from_json(col(PayloadColumn), parseSchema,
      java.util.Map.of("timeZone", "UTC"))
    val cols = wireFields.map { f =>
      val md = new org.apache.spark.sql.types.MetadataBuilder()
        .putString("cdc.sqlType", f.sqlType).build()
      if (Meta.contains(f.name)) col(f.name)
      else {
        val dt = if (typed) SqlTypes.toSpark(f.sqlType) else StringType
        val c = parsed.getField(f.name)
        val castC = dt match {
          case org.apache.spark.sql.types.BinaryType => encode(c, "UTF-8")
          case _ => c
        }
        (if (typed) castC else coalesce(castC, lit(""))).as(f.name, md)
      }
    }
    df.filter(col(MultiCdc.TableColumn) === table).select(cols: _*)
  }

  /** [[typedView]] with the wire schema PROBED from the server — the
    * consumer convenience: one call turns the normalized stream into
    * this table's typed changelog view. */
  def typedView(df: org.apache.spark.sql.DataFrame, opts: CdcOptions,
      table: String): org.apache.spark.sql.DataFrame =
    typedView(df, table, CdcProbe.schemaFields(opts, table), opts.typed)

  /** Minimal JSON string escape (quote, backslash, control chars) —
    * the wire values arrived as decoded JSON scalars, so this is the
    * only re-encoding needed. */
  private[sources] def jsonEscape(sb: java.lang.StringBuilder, s: String): Unit = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case ctrl if ctrl < ' ' => sb.append(f"\\u${ctrl.toInt}%04x")
        case other => sb.append(other)
      }
      i += 1
    }
  }
}

/** Executor-side wire-row → normalized-row conversion for one table.
  * Serialized into the reader factory; all lookups precomputed to
  * index arithmetic.
  */
final case class WireNormalizer(
    table: String,
    wireFields: Seq[CdcField],
    typed: Boolean,
    required: StructType) extends Serializable {

  /** Output-column plan: wire index for a metadata column, -1 for
    * `payload`, -2 for `_table`. */
  private val outWireIdx: Array[Int] = required.fields.map { f =>
    f.name match {
      case NormalizedCdc.PayloadColumn => -1
      case MultiCdc.TableColumn        => -2
      case n                           => wireFields.indexWhere(_.name == n)
    }
  }
  private val outDts: Array[DataType] = required.fields.map(_.dataType)

  /** Wire indices of the table-specific (non-metadata) columns, in wire
    * order — the payload keys. */
  private val payloadIdx: Array[Int] = wireFields.zipWithIndex
    .filterNot { case (f, _) => NormalizedCdc.Meta.contains(f.name) }
    .map(_._2).toArray
  /** Pre-rendered `"name":` fragments (names come from the server's
    * schema — escape anyway, never trust the wire). */
  private val payloadKey: Array[String] = payloadIdx.map { i =>
    val sb = new java.lang.StringBuilder
    sb.append('"')
    NormalizedCdc.jsonEscape(sb, wireFields(i).name)
    sb.append("\":")
    sb.toString
  }
  /** Whether column j's declared SQL type admits an UNQUOTED JSON
    * literal (numeric / boolean); the value text is still checked
    * against the literal grammar per row — a corrupt wire value must
    * degrade to a quoted string, not break the payload's JSON. */
  private val payloadNumeric: Array[Boolean] = payloadIdx.map { i =>
    SqlTypes.toSpark(wireFields(i).sqlType) match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType |
           _: org.apache.spark.sql.types.DecimalType => true
      case _ => false
    }
  }
  private val payloadBool: Array[Boolean] = payloadIdx.map { i =>
    SqlTypes.toSpark(wireFields(i).sqlType) == org.apache.spark.sql.types.BooleanType
  }

  private def isJsonNumber(s: String): Boolean = {
    // JSON number grammar: -?int(.frac)?(exp)? — hand-rolled to keep
    // the per-row hot path regex-free
    var i = 0
    val n = s.length
    if (n == 0) return false
    if (s.charAt(i) == '-') i += 1
    val dStart = i
    while (i < n && s.charAt(i).isDigit) i += 1
    if (i == dStart) return false
    if (i < n && s.charAt(i) == '.') {
      i += 1
      val fStart = i
      while (i < n && s.charAt(i).isDigit) i += 1
      if (i == fStart) return false
    }
    if (i < n && (s.charAt(i) == 'e' || s.charAt(i) == 'E')) {
      i += 1
      if (i < n && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
      val eStart = i
      while (i < n && s.charAt(i).isDigit) i += 1
      if (i == eStart) return false
    }
    i == n
  }

  private def payloadJson(values: Array[String], nulls: Array[Boolean]): UTF8String = {
    val sb = new java.lang.StringBuilder(64)
    sb.append('{')
    var k = 0
    while (k < payloadIdx.length) {
      if (k > 0) sb.append(',')
      sb.append(payloadKey(k))
      val i = payloadIdx(k)
      if (nulls(i) || values(i) == null) sb.append("null")
      else {
        val v = values(i)
        if (payloadNumeric(k) && isJsonNumber(v)) sb.append(v)
        else if (payloadBool(k) && (v == "1" || v.equalsIgnoreCase("true")))
          sb.append("true")
        else if (payloadBool(k) && (v == "0" || v.equalsIgnoreCase("false")))
          sb.append("false")
        else {
          sb.append('"')
          NormalizedCdc.jsonEscape(sb, v)
          sb.append('"')
        }
      }
      k += 1
    }
    sb.append('}')
    UTF8String.fromString(sb.toString)
  }

  private val tag: UTF8String = UTF8String.fromString(table)

  def toRow(values: Array[String], nulls: Array[Boolean]): InternalRow = {
    val out = new Array[Any](outWireIdx.length)
    var j = 0
    while (j < outWireIdx.length) {
      out(j) = outWireIdx(j) match {
        case -1 => payloadJson(values, nulls)
        case -2 => tag
        case i =>
          if (typed) SqlTypes.cast(values(i), nulls(i), outDts(j))
          else UTF8String.fromString(values(i))
      }
      j += 1
    }
    new GenericInternalRow(out)
  }
}

/** Creates replay readers that emit NORMALIZED rows: the inner
  * [[CdcReplayReader]] does the GTID-range replay/dedupe/reconnect work
  * and hands each wire row to the table's [[WireNormalizer]]. Per-table
  * wire predicates (metadata-column conjuncts compiled against each
  * table's own schema) drop rows before any payload is built. Runtime
  * filters (batch DPP) arrive riding the partition
  * ([[RuntimeFilteredCdcPartition]], compiled per table by the table's
  * [[CdcBatch]]) and AND into the static predicate. */
class NormalizedCdcReaderFactory(
    normalizers: Map[String, WireNormalizer],
    preds: Map[String, WirePred]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case TaggedCdcPartition(RuntimeFilteredCdcPartition(rp: CdcReplayPartition, rt), t) =>
        new CdcReplayReader(rp, Array.empty, typed = true,
          pred = WirePred.and(preds.getOrElse(t, null), rt),
          normalizer = normalizers(t))
      case TaggedCdcPartition(rp: CdcReplayPartition, t) =>
        new CdcReplayReader(rp, Array.empty, typed = true,
          pred = preds.getOrElse(t, null),
          normalizer = normalizers(t))
      case other => throw new IllegalArgumentException(
        s"unexpected partition type ${other.getClass}")
    }
}
