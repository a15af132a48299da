package graft.sources.cdc

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import com.fasterxml.jackson.core.JsonParser.NumberType
import com.fasterxml.jackson.core.io.SerializedString
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One typed pass from JSON tokens to Catalyst values: the replay
  * reader's positional decode ([[CdcReplayReader]]), compiled once per
  * wire schema version against the planned fields, the projection, the
  * decode-skip mask, the pushed predicate's columns and the mode.
  *
  * Each field goes from its token straight to the output value:
  * integers through `getLongValue` with a range check, reals through
  * `getDoubleValue`, decimals as an exact unscaled long, DATE and
  * DATETIME through [[SqlTypes]]' digit parser, strings as `UTF8String`.
  * Masked and unplanned columns are never materialised; the GTID trio
  * comes out as primitive longs ([[gtid]]).
  *
  * Exactness is by construction. The result is what
  * [[CdcClient.scalarToString]] followed by [[SqlTypes.cast]] (typed) or
  * `UTF8String.fromString` with null as "" (raw) gives for the same
  * token: a token/column pair without an exact native rule here (a JSON
  * string in an int column, a real in an int column, a decimal whose
  * real has more fraction digits than its scale, ...) is rendered to
  * that wire string and cast, and the row is marked [[slow]]. A row this
  * pass cannot take at all makes [[decode]] return false, and the caller
  * decodes the same line the string way: nested values, a missing
  * schema key, an integer beyond Long, a GTID column that is not a JSON
  * integer, malformed JSON. The columns the predicate reads get their
  * wire strings too ([[predValues]]), so it sees what it sees on the
  * string path.
  */
private[sources] final class CdcRowDecoder private (
    /** The wire schema version this decoder reads (the client's current
      * fields, by identity). */
    val wire: Seq[CdcField],
    typed: Boolean,
    names: Array[SerializedString],
    keyIndex: java.util.HashMap[String, Integer],
    /** Per wire column: its planned position, or -1. */
    plannedOf: Array[Int],
    /** Per wire column: its output position, or -1 (unprojected or
      * masked). */
    outOf: Array[Int],
    /** Per wire column: its output type's kind (`CdcRowDecoder.K*`). */
    kindOf: Array[Int],
    dtOf: Array[DataType],
    /** Per wire column: 0, 1, 2 for domain, server_id, sequence, or -1. */
    gtidOf: Array[Int],
    /** Per planned column: whether the pushed predicate reads it. */
    predRef: Array[Boolean],
    width: Int) {
  import CdcRowDecoder._
  import JsonToken._

  /** Domain, server_id and sequence of the last decoded row. */
  val gtid = new Array[Long](3)
  /** The last decoded row. */
  var row: InternalRow = _
  /** Whether the last decoded row cast any field from its wire string. */
  var slow = false
  /** Wire strings and null flags of the planned columns the predicate
    * reads, in planned order (other slots are stale). */
  val predValues = new Array[String](predRef.length)
  val predNulls = new Array[Boolean](predRef.length)

  private val n = names.length
  /** Row stamp per wire column: which keys this row has set. */
  private val seenAt = new Array[Int](n)
  private var stamp = 0

  /** Decode the JSON object `p` is positioned before, closing `p`; false
    * when the row needs the string path (see the class doc). */
  def decode(p: JsonParser): Boolean =
    try {
      // correctly rounded like the default parser, and faster
      p.enable(JsonParser.Feature.USE_FAST_DOUBLE_PARSER)
      if (p.nextToken() != START_OBJECT) return false
      stamp += 1
      slow = false
      val out = new Array[Any](width)
      var filled = 0
      var expect = 0 // keys usually arrive in schema order
      while (true) {
        var w = -1
        val t =
          if (expect < n && p.nextFieldName(names(expect))) { w = expect; FIELD_NAME }
          else if (expect < n) p.currentToken()
          else p.nextToken()
        if (t == END_OBJECT) {
          if (filled != n) return false
          row = new GenericInternalRow(out)
          return true
        }
        if (t != FIELD_NAME) return false
        if (w < 0) {
          val k = keyIndex.get(p.currentName())
          if (k != null) w = k.intValue
        }
        val vt = p.nextToken()
        if (vt == START_OBJECT || vt == START_ARRAY) return false
        if (w >= 0) {
          expect = w + 1
          if (seenAt(w) != stamp) { seenAt(w) = stamp; filled += 1 }
          if (!field(p, vt, w, out)) return false
        }
      }
      false
    } catch {
      case _: Exception => false
    } finally p.close()

  private def field(p: JsonParser, vt: JsonToken, w: Int, out: Array[Any]): Boolean = {
    val isInt = vt == VALUE_NUMBER_INT
    if (isInt) {
      if (p.getNumberType == NumberType.BIG_INTEGER) return false
    } else if (vt != VALUE_STRING && vt != VALUE_NUMBER_FLOAT && vt != VALUE_NULL &&
        vt != VALUE_TRUE && vt != VALUE_FALSE) return false
    val g = gtidOf(w)
    if (g >= 0) {
      if (!isInt) return false
      gtid(g) = p.getLongValue
    }
    val pi = plannedOf(w)
    if (pi >= 0 && predRef(pi)) {
      if (vt == VALUE_NULL) { predValues(pi) = ""; predNulls(pi) = true }
      else { predValues(pi) = text(p, vt); predNulls(pi) = false }
    }
    val j = outOf(w)
    if (j >= 0) out(j) =
      if (vt == VALUE_NULL) { if (typed) null else UTF8String.EMPTY_UTF8 }
      else if (!typed) {
        if (vt == VALUE_STRING) utf8(p) else UTF8String.fromString(text(p, vt))
      }
      else value(p, vt, kindOf(w), dtOf(w))
    true
  }

  /** Typed value of a non-null scalar token. */
  private def value(p: JsonParser, vt: JsonToken, kind: Int, dt: DataType): Any =
    kind match {
      case KString =>
        if (vt == VALUE_STRING) utf8(p) else UTF8String.fromString(text(p, vt))
      case KLong | KInt | KShort | KByte =>
        if (vt != VALUE_NUMBER_INT) cast(p, vt, dt)
        else {
          val l = p.getLongValue
          kind match {
            case KLong => l
            case KInt => if (l >= Int.MinValue && l <= Int.MaxValue) l.toInt else null
            case KShort => if (l >= Short.MinValue && l <= Short.MaxValue) l.toShort else null
            case _ => if (l >= Byte.MinValue && l <= Byte.MaxValue) l.toByte else null
          }
        }
      case KDouble =>
        if (vt == VALUE_NUMBER_INT) p.getLongValue.toDouble
        else if (vt == VALUE_NUMBER_FLOAT) {
          val d = p.getDoubleValue
          if (d == 0.0) 0.0 else d // the wire text of -0.0 is "0"
        }
        else cast(p, vt, dt)
      case KFloat =>
        if (vt == VALUE_NUMBER_INT) p.getLongValue.toFloat
        // from the wire text: rounding the double to float directly can
        // differ from rounding its decimal text
        else if (vt == VALUE_NUMBER_FLOAT)
          java.lang.Float.parseFloat(CdcClient.doubleText(p.getDoubleValue))
        else cast(p, vt, dt)
      case KDecimal =>
        val d =
          if (vt == VALUE_NUMBER_INT) decimalOf(p.getLongValue, dt.asInstanceOf[DecimalType])
          else if (vt == VALUE_NUMBER_FLOAT)
            decimalOf(p.getDoubleValue, dt.asInstanceOf[DecimalType])
          else Inexact
        if (d ne Inexact) d else cast(p, vt, dt)
      case KWideDecimal if vt == VALUE_NUMBER_INT =>
        val d = dt.asInstanceOf[DecimalType]
        try Decimal(BigDecimal(p.getLongValue), d.precision, d.scale)
        catch { case _: ArithmeticException => null }
      case KBoolean if vt == VALUE_TRUE => true
      case KBoolean if vt == VALUE_FALSE => false
      case KDate if vt == VALUE_STRING =>
        SqlTypes.epochDay(p.getTextCharacters, p.getTextOffset, p.getTextLength)
      case KTimestamp if vt == VALUE_STRING =>
        SqlTypes.timestampMicros(p.getTextCharacters, p.getTextOffset, p.getTextLength)
      case KBinary => text(p, vt).getBytes(UTF_8)
      case _ => cast(p, vt, dt)
    }

  /** The string path for one field: wire text, then [[SqlTypes.cast]]. */
  private def cast(p: JsonParser, vt: JsonToken, dt: DataType): Any = {
    slow = true
    SqlTypes.cast(text(p, vt), isNull = false, dt)
  }
}

private[sources] object CdcRowDecoder {
  import JsonToken._

  private final val KString = 0
  private final val KLong = 1
  private final val KInt = 2
  private final val KShort = 3
  private final val KByte = 4
  private final val KDouble = 5
  private final val KFloat = 6
  /** Decimal of precision 18 or less: an unscaled long. */
  private final val KDecimal = 7
  private final val KWideDecimal = 8
  private final val KBoolean = 9
  private final val KDate = 10
  private final val KTimestamp = 11
  private final val KBinary = 12
  private final val KOther = 13

  private def kindOf(dt: DataType): Int = dt match {
    case StringType => KString
    case LongType => KLong
    case IntegerType => KInt
    case ShortType => KShort
    case ByteType => KByte
    case DoubleType => KDouble
    case FloatType => KFloat
    case d: DecimalType => if (d.precision <= 18) KDecimal else KWideDecimal
    case BooleanType => KBoolean
    case DateType => KDate
    case TimestampType => KTimestamp
    case BinaryType => KBinary
    case _ => KOther
  }

  /** Compile the decoder for wire schema version `wire`. `planned` is the
    * schema the scan was planned against and must be contained in
    * `wire` by name; `dts`, `projection` and `mask` describe the output
    * as [[CdcRowCodec.toInternalRow]] takes them; `pred` is the pushed
    * predicate over planned positions; `gtidIdx` holds the planned
    * positions of domain, server_id and sequence. Null when `wire`
    * repeats a column name (every row then takes the string path). */
  def compile(wire: Seq[CdcField], planned: Seq[CdcField], dts: Array[DataType],
      typed: Boolean, projection: Array[Int], mask: Array[Boolean],
      pred: WirePred, gtidIdx: (Int, Int, Int)): CdcRowDecoder = {
    val names = wire.map(_.name)
    if (names.distinct.length != names.length) return null
    val wireOf = planned.map(f => names.indexOf(f.name)).toArray
    require(!wireOf.contains(-1),
      s"wire schema $wire lacks a planned column of $planned")
    val n = wire.length
    val plannedOf = Array.fill(n)(-1)
    wireOf.zipWithIndex.foreach { case (w, i) => plannedOf(w) = i }
    val outOf = Array.fill(n)(-1)
    val kinds = Array.fill(n)(KOther)
    val dtOf = new Array[DataType](n)
    dts.indices.foreach { j =>
      if (mask == null || mask(j)) {
        val w = wireOf(if (projection == null) j else projection(j))
        outOf(w) = j
        kinds(w) = kindOf(dts(j))
        dtOf(w) = dts(j)
      }
    }
    val gtidOf = Array.fill(n)(-1)
    gtidOf(wireOf(gtidIdx._1)) = 0
    gtidOf(wireOf(gtidIdx._2)) = 1
    gtidOf(wireOf(gtidIdx._3)) = 2
    val predRef = new Array[Boolean](planned.length)
    if (pred != null) WirePred.refs(pred).foreach(predRef(_) = true)
    val keyIndex = new java.util.HashMap[String, Integer]()
    names.zipWithIndex.foreach { case (k, i) => keyIndex.put(k, i) }
    new CdcRowDecoder(wire, typed, names.map(new SerializedString(_)).toArray,
      keyIndex, plannedOf, outOf, kinds, dtOf, gtidOf, predRef, dts.length)
  }

  /** [[CdcClient.scalarToString]] of a scalar token (never null). */
  private def text(p: JsonParser, vt: JsonToken): String = vt match {
    case VALUE_STRING => p.getText
    case VALUE_NUMBER_INT => java.lang.Long.toString(p.getLongValue)
    case VALUE_NUMBER_FLOAT => CdcClient.doubleText(p.getDoubleValue)
    case VALUE_TRUE => "true"
    case _ => "false"
  }

  /** `UTF8String.fromString(p.getText)`, without the String for ASCII. */
  private def utf8(p: JsonParser): UTF8String = {
    val a = p.getTextCharacters
    val off = p.getTextOffset
    val len = p.getTextLength
    val b = new Array[Byte](len)
    var i = 0
    while (i < len) {
      val c = a(off + i)
      if (c >= 0x80) return UTF8String.fromString(new String(a, off, len))
      b(i) = c.toByte
      i += 1
    }
    UTF8String.fromBytes(b)
  }

  private val Pow10L: Array[Long] = Array.iterate(1L, 19)(_ * 10)

  /** `Decimal(BigDecimal(l.toString), p, s)`, null past the precision. */
  private def decimalOf(l: Long, dt: DecimalType): Decimal = {
    val bound = Pow10L(dt.precision - dt.scale)
    if (l <= -bound || l >= bound) null
    else Decimal(l * Pow10L(dt.scale), dt.precision, dt.scale)
  }

  /** Marks a real the exact rule below does not decide. */
  private val Inexact = new Decimal

  /** `Decimal(BigDecimal(doubleText(d)), p, s)` when it is the double
    * nearest to a decimal `u / 10^s` with |u| < 2^49: the wire text then
    * lies within one ulp of `u / 10^s`, and one ulp is under half a unit
    * of the scale, so HALF_UP rounding of the text to the scale gives
    * exactly `u`. Otherwise [[Inexact]] (the caller casts the text). */
  private def decimalOf(d: Double, dt: DecimalType): Decimal = {
    val scale = Pow10L(dt.scale).toDouble
    val scaled = d * scale
    if (!(math.abs(scaled) < (1L << 49).toDouble)) return Inexact
    val u = math.rint(scaled).toLong
    if (u.toDouble / scale != d) Inexact
    else if (math.abs(u) >= Pow10L(dt.precision)) null
    else Decimal(u, dt.precision, dt.scale)
  }
}
