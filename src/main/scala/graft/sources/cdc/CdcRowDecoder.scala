package graft.sources.cdc

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Pass 2 of the byte-level row scan ([[CdcLineScanner]]) for the readers
  * that position rows by GTID, compiled once per wire schema version.
  *
  *  - The replay reader's decoder ([[compile]]) is compiled against the
  *    planned fields, the projection, the decode-skip mask, the pushed
  *    predicate's columns and the mode (typed or raw). [[take]] reads the
  *    GTID trio as primitive longs ([[gtid]]); the reader positions the
  *    row, runs the predicate ([[predicate]]) and only then asks for the
  *    row ([[row]]), so dedupe-skipped and filtered rows never build one.
  *  - The tailer's decoder ([[positions]]) reads the trio only.
  *
  * Each output field goes from its scanned token straight to its value:
  * integers range-checked from the scanned long, reals from the scanned
  * double, decimals as an exact unscaled long, DATE and DATETIME through
  * [[SqlTypes]]' digit parser on the row's bytes, strings as `UTF8String`
  * (a copy of the row's bytes when the string has no escapes). Masked
  * and unplanned columns are never materialised.
  *
  * Exactness is by construction. The result is what
  * [[CdcClient.scalarToString]] followed by [[SqlTypes.cast]] (typed) or
  * `UTF8String.fromString` with null as "" (raw) gives for the same
  * value: a token/column pair without an exact native rule here (a JSON
  * string in an int column, a real in an int column, a decimal whose
  * real has more fraction digits than its scale, ...) is rendered to
  * that wire string and cast, and the row is marked [[slow]]. A row the
  * scan declines, or whose GTID column is not a JSON integer, is left to
  * the string path: [[take]] returns false. The columns the predicate
  * reads get their wire strings ([[predValues]]), so it sees what it
  * sees on the string path.
  */
private[sources] final class CdcRowDecoder private (
    /** The wire schema version this decoder reads (the client's current
      * fields, by identity). */
    val wire: Seq[CdcField],
    typed: Boolean,
    /** Per output column: its wire column, or -1 (masked). */
    outW: Array[Int],
    /** Per output column: its type's kind (`CdcRowDecoder.T*`). */
    kindOf: Array[Int],
    dts: Array[DataType],
    /** Wire columns of domain, server_id and sequence. */
    gtidW: Array[Int],
    /** Per planned column the pushed predicate reads: its wire column;
      * -1 for the others. */
    predW: Array[Int]) {
  import CdcRowDecoder._
  import CdcLineScanner._

  /** Domain, server_id and sequence of the last taken row. */
  val gtid = new Array[Long](3)
  /** Whether the last built row cast any field from its wire string. */
  var slow = false
  /** Wire strings and null flags of the planned columns the predicate
    * reads, in planned order (other slots are stale). */
  val predValues = new Array[String](predW.length)
  val predNulls = new Array[Boolean](predW.length)

  /** The scanner holding the last taken row. */
  private var sc: CdcLineScanner = _
  private var built: InternalRow = _
  /** The scanner [[decode]] uses, made on first use. */
  private var own: CdcLineScanner = _

  /** Take the row `s` just scanned: reads the GTID trio; false when one
    * of its columns is not a JSON integer (the string path positions
    * that row). The row stays readable until the client's next read. */
  def take(s: CdcLineScanner): Boolean = {
    if (s.kind(gtidW(0)) != KInt || s.kind(gtidW(1)) != KInt ||
        s.kind(gtidW(2)) != KInt) return false
    gtid(0) = s.long(gtidW(0))
    gtid(1) = s.long(gtidW(1))
    gtid(2) = s.long(gtidW(2))
    sc = s
    built = null
    true
  }

  /** Scan, take and build the row in `b(off until off + len)` at once,
    * filling [[predValues]]: false when the string path must decode it. */
  def decode(b: Array[Byte], off: Int, len: Int): Boolean = {
    if (own == null) own = new CdcLineScanner(wire)
    if (!own.scan(b, off, len) || !take(own)) return false
    fillPred()
    row
    true
  }

  /** `pred` over the wire strings of the taken row's columns it reads. */
  def predicate(pred: WirePred): Boolean = {
    fillPred()
    pred.eval(predValues, predNulls)
  }

  private def fillPred(): Unit = {
    var i = 0
    while (i < predW.length) {
      val w = predW(i)
      if (w >= 0) {
        val t = sc.text(w)
        predNulls(i) = t == null
        predValues(i) = if (t == null) "" else t
      }
      i += 1
    }
  }

  /** The taken row, built on first call. */
  def row: InternalRow = {
    if (built == null) {
      slow = false
      val out = new Array[Any](outW.length)
      var j = 0
      while (j < outW.length) {
        val w = outW(j)
        if (w >= 0) out(j) =
          if (sc.kind(w) == KNull) { if (typed) null else UTF8String.EMPTY_UTF8 }
          else if (!typed) sc.utf8(w)
          else value(w, kindOf(j), dts(j))
        j += 1
      }
      built = new GenericInternalRow(out)
    }
    built
  }

  /** Typed value of wire column `w` (not JSON null). */
  private def value(w: Int, kind: Int, dt: DataType): Any = {
    val s = sc
    val k = s.kind(w)
    kind match {
      case TString => s.utf8(w)
      case TLong | TInt | TShort | TByte =>
        if (k != KInt) cast(w, dt)
        else {
          val l = s.long(w)
          kind match {
            case TLong => l
            case TInt => if (l >= Int.MinValue && l <= Int.MaxValue) l.toInt else null
            case TShort => if (l >= Short.MinValue && l <= Short.MaxValue) l.toShort else null
            case _ => if (l >= Byte.MinValue && l <= Byte.MaxValue) l.toByte else null
          }
        }
      case TDouble =>
        if (k == KInt) s.long(w).toDouble
        else if (k == KReal) {
          val d = s.real(w)
          if (d == 0.0) 0.0 else d // the wire text of -0.0 is "0"
        }
        else cast(w, dt)
      case TFloat =>
        if (k == KInt) s.long(w).toFloat
        // from the wire text: rounding the double to float directly can
        // differ from rounding its decimal text
        else if (k == KReal) java.lang.Float.parseFloat(CdcClient.doubleText(s.real(w)))
        else cast(w, dt)
      case TDecimal =>
        val d =
          if (k == KInt) decimalOf(s.long(w), dt.asInstanceOf[DecimalType])
          else if (k == KReal) decimalOf(s.real(w), dt.asInstanceOf[DecimalType])
          else Inexact
        if (d ne Inexact) d else cast(w, dt)
      case TWideDecimal if k == KInt =>
        val d = dt.asInstanceOf[DecimalType]
        try Decimal(BigDecimal(s.long(w)), d.precision, d.scale)
        catch { case _: ArithmeticException => null }
      case TBoolean if k == KTrue => true
      case TBoolean if k == KFalse => false
      case TDate if s.plain(w) => SqlTypes.epochDay(s.buffer, s.offset(w), s.size(w))
      case TTimestamp if s.plain(w) =>
        SqlTypes.timestampMicros(s.buffer, s.offset(w), s.size(w))
      case TDate | TTimestamp if k == KEsc => SqlTypes.cast(s.text(w), isNull = false, dt)
      case TBinary => s.bytes(w)
      case _ => cast(w, dt)
    }
  }

  /** The string path for one field: wire text, then [[SqlTypes.cast]]. */
  private def cast(w: Int, dt: DataType): Any = {
    slow = true
    SqlTypes.cast(sc.text(w), isNull = false, dt)
  }
}

private[sources] object CdcRowDecoder {
  private final val TString = 0
  private final val TLong = 1
  private final val TInt = 2
  private final val TShort = 3
  private final val TByte = 4
  private final val TDouble = 5
  private final val TFloat = 6
  /** Decimal of precision 18 or less: an unscaled long. */
  private final val TDecimal = 7
  private final val TWideDecimal = 8
  private final val TBoolean = 9
  private final val TDate = 10
  private final val TTimestamp = 11
  private final val TBinary = 12
  private final val TOther = 13

  private def kindOf(dt: DataType): Int = dt match {
    case StringType => TString
    case LongType => TLong
    case IntegerType => TInt
    case ShortType => TShort
    case ByteType => TByte
    case DoubleType => TDouble
    case FloatType => TFloat
    case d: DecimalType => if (d.precision <= 18) TDecimal else TWideDecimal
    case BooleanType => TBoolean
    case DateType => TDate
    case TimestampType => TTimestamp
    case BinaryType => TBinary
    case _ => TOther
  }

  /** Compile the replay decoder for wire schema version `wire`. `planned`
    * is the schema the scan was planned against and must be contained in
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
    val outW = dts.indices.map { j =>
      if (mask != null && !mask(j)) -1
      else wireOf(if (projection == null) j else projection(j))
    }.toArray
    val predW = Array.fill(planned.length)(-1)
    if (pred != null) WirePred.refs(pred).foreach(i => predW(i) = wireOf(i))
    new CdcRowDecoder(wire, typed, outW, dts.map(kindOf), dts,
      Array(wireOf(gtidIdx._1), wireOf(gtidIdx._2), wireOf(gtidIdx._3)), predW)
  }

  /** The tailer's decoder for wire schema version `wire`: the GTID trio
    * at wire positions `gtidIdx`, and nothing else. */
  def positions(wire: Seq[CdcField], gtidIdx: (Int, Int, Int)): CdcRowDecoder =
    new CdcRowDecoder(wire, typed = false, Array.emptyIntArray, Array.emptyIntArray,
      Array.empty[DataType], Array(gtidIdx._1, gtidIdx._2, gtidIdx._3),
      Array.emptyIntArray)

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
