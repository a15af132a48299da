package graft.sources.cdc

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** MariaDB SQL type string → Spark `DataType` (SURVEY.md §1.3).
  *
  * The reference carries these strings verbatim in `m_types`
  * (cdc_connector.h:225-228, populated cdc_connector.cpp:250-286) and never
  * interprets them; typed mode is this engine's documented improvement.
  * MariaDB-isms handled: display widths (`int(11)` → int), unsigned
  * markers, `varchar(N)` lengths (length doesn't change the Spark type).
  */
object SqlTypes {

  private val Paren = """^([a-zA-Z_ ]+?)\s*(?:\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\))?\s*(unsigned)?\s*$""".r

  def toSpark(sqlType: String): DataType = sqlType.trim.toLowerCase match {
    case Paren(base, p, s, unsigned) =>
      val prec = Option(p).map(_.toInt)
      val scale = Option(s).map(_.toInt)
      val isUnsigned = unsigned != null
      base.trim match {
        case "bool" | "boolean"            => BooleanType
        case "tinyint"                     => if (isUnsigned) ShortType else ByteType
        case "smallint"                    => if (isUnsigned) IntegerType else ShortType
        case "mediumint"                   => IntegerType
        case "int" | "integer"             => if (isUnsigned) LongType else IntegerType
        case "bigint"                      => if (isUnsigned) DecimalType(20, 0) else LongType
        case "float"                       => FloatType
        case "double" | "real" | "double precision" => DoubleType
        case "decimal" | "numeric" | "fixed" =>
          // MariaDB allows decimal(65,38); Spark caps precision at 38 —
          // clamp (documented narrowing; raw mode remains lossless).
          val p = math.min(prec.getOrElse(10), DecimalType.MAX_PRECISION)
          DecimalType(p, math.min(scale.getOrElse(0), p))
        case "date"                        => DateType
        case "datetime" | "timestamp"      => TimestampType
        case "year"                        => IntegerType
        // TIME has no direct Spark scalar; keep the wire string.
        case "time"                        => StringType
        case "binary" | "varbinary" | "blob" | "tinyblob" | "mediumblob" | "longblob" =>
          BinaryType
        case _ => StringType // char/varchar/*text/enum/set/json/uuid/undefined/avro fallbacks
      }
    case _ => StringType
  }

  /** Typed schema for a CDC field list; the original SQL type string is
    * preserved in column metadata (SURVEY.md §1.5 `fields()` mapping). */
  def toStructType(fields: Seq[CdcField], typed: Boolean): StructType =
    StructType(fields.map { f =>
      val dt = if (typed) toSpark(f.sqlType) else StringType
      StructField(f.name, dt, nullable = true,
        metadata = new MetadataBuilder().putString("cdc.sqlType", f.sqlType).build())
    })

  /** MariaDB datetime/timestamp wire text: optional time part, 0-6
    * fractional digits (datetime(0)..datetime(6) all occur — a fixed
    * `.SSSSSS` pattern would reject e.g. '… 10:00:00.123' from a
    * timestamp(3) column and silently null it in typed mode). */
  private val DateTimeFmt = new java.time.format.DateTimeFormatterBuilder()
    .appendPattern("yyyy-MM-dd")
    .optionalStart()
    .appendLiteral(' ')
    .appendPattern("HH:mm:ss")
    .optionalStart()
    .appendFraction(java.time.temporal.ChronoField.NANO_OF_SECOND, 0, 6, true)
    .optionalEnd()
    .optionalEnd()
    .parseDefaulting(java.time.temporal.ChronoField.HOUR_OF_DAY, 0)
    .parseDefaulting(java.time.temporal.ChronoField.MINUTE_OF_HOUR, 0)
    .parseDefaulting(java.time.temporal.ChronoField.SECOND_OF_MINUTE, 0)
    .toFormatter

  /** Sentinel of the canonical parsers: the text is not in the shape
    * they decide, so java.time does. */
  private final val NotCanonical = Long.MinValue

  /** Two ASCII digits at `i`, or -1. */
  private def digits2(a: Array[Byte], i: Int): Int = {
    val x = a(i) - '0'
    val y = a(i + 1) - '0'
    if (x < 0 || x > 9 || y < 0 || y > 9) -1 else x * 10 + y
  }

  /** Epoch day of a canonical `yyyy-MM-dd` in `a(off until off + 10)`:
    * four digits, year 1-9999, a real calendar day. Everything else
    * (signs, longer years, year 0, Feb 30, month 13, ...) is
    * [[NotCanonical]], because the two java.time parsers disagree there
    * (DATE resolves STRICT, DATETIME resolves SMART and clamps the day). */
  private def canonicalDay(a: Array[Byte], off: Int): Long = {
    if (a(off + 4) != '-' || a(off + 7) != '-') return NotCanonical
    val hi = digits2(a, off)
    val lo = digits2(a, off + 2)
    val m = digits2(a, off + 5)
    val d = digits2(a, off + 8)
    if (hi < 0 || lo < 0 || m < 1 || m > 12 || d < 1) return NotCanonical
    val y = hi * 100 + lo
    val leap = (y & 3) == 0 && (y % 100 != 0 || y % 400 == 0)
    if (y == 0 || d > (if (m == 2 && leap) 29 else DaysIn(m - 1))) return NotCanonical
    // LocalDate.of(y, m, d).toEpochDay, by the days-from-civil formula
    val yy = if (m <= 2) y - 1 else y
    val era = yy / 400
    val yoe = yy - era * 400
    val doy = (153 * (if (m > 2) m - 3 else m + 9) + 2) / 5 + d - 1
    era * 146097L + yoe * 365 + yoe / 4 - yoe / 100 + doy - 719468
  }

  private val DaysIn = Array(31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)

  /** Microseconds of a canonical `yyyy-MM-dd[ HH:mm:ss[.f{1,6}]]`, every
    * field in range; anything else is [[NotCanonical]] (hour 24, a bare
    * '.', seven fraction digits, trailing text, ...). */
  private def canonicalMicros(a: Array[Byte], off: Int, len: Int): Long = {
    if (len != 10 && len != 19 && (len < 21 || len > 26)) return NotCanonical
    val day = canonicalDay(a, off)
    if (day == NotCanonical) return NotCanonical
    if (len == 10) return day * 86400000000L
    if (a(off + 10) != ' ' || a(off + 13) != ':' || a(off + 16) != ':')
      return NotCanonical
    val h = digits2(a, off + 11)
    val mi = digits2(a, off + 14)
    val s = digits2(a, off + 17)
    if (h < 0 || h > 23 || mi < 0 || mi > 59 || s < 0 || s > 59) return NotCanonical
    var micros = day * 86400000000L + (h * 3600L + mi * 60L + s) * 1000000L
    if (len > 19) {
      if (a(off + 19) != '.') return NotCanonical
      var f = 0
      var i = 20
      while (i < len) {
        val c = a(off + i) - '0'
        if (c < 0 || c > 9) return NotCanonical
        f = f * 10 + c
        i += 1
      }
      while (i < 26) { f *= 10; i += 1 }
      micros += f
    }
    micros
  }

  /** DATE wire text → epoch day (Int), or null when unparseable. `a(off
    * until off + len)` holds the text's UTF-8, and `text` the text itself
    * (null: decode the bytes). A canonical date takes the digit parser;
    * any other text goes through `LocalDate.parse`, so the result is
    * java.time's by construction. */
  private[cdc] def epochDay(a: Array[Byte], off: Int, len: Int, text: String = null): Any = {
    val d = if (len == 10) canonicalDay(a, off) else NotCanonical
    if (d != NotCanonical) d.toInt
    else try LocalDate.parse(if (text != null) text else new String(a, off, len, UTF_8))
      .toEpochDay.toInt
    catch { case _: RuntimeException => null }
  }

  /** DATETIME/TIMESTAMP wire text → microseconds since the epoch (UTC),
    * or null when unparseable; the arguments are [[epochDay]]'s. A
    * canonical value takes the digit parser; any other text goes through
    * [[DateTimeFmt]] and its SMART resolver (which clamps Feb 30 and
    * rolls 24:00:00 over), so the result is java.time's by construction. */
  private[cdc] def timestampMicros(a: Array[Byte], off: Int, len: Int,
      text: String = null): Any = {
    val m = canonicalMicros(a, off, len)
    if (m != NotCanonical) m
    else try {
      val ldt = LocalDateTime.parse(
        if (text != null) text else new String(a, off, len, UTF_8), DateTimeFmt)
      ldt.toEpochSecond(ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
    } catch { case _: RuntimeException => null }
  }

  /** Wire string → Catalyst value for one field. Returns null on JSON null
    * (typed mode's NULL, vs the reference's "" conflation,
    * cdc_connector.cpp:106-107) and on unparseable values (permissive,
    * like Spark's PERMISSIVE JSON mode).
    *
    * This is the semantics of record for typed values. The replay
    * reader's [[CdcRowDecoder]] writes most values straight from the
    * scanned row and must equal this function on the value's wire string; a
    * token/column pair it has no exact native rule for is rendered to
    * that string and passed through here. DATE and DATETIME share the
    * decoder's digit parser ([[epochDay]], [[timestampMicros]]). */
  def cast(value: String, isNull: Boolean, dt: DataType): Any = {
    if (isNull || value == null) return null
    try dt match {
      case StringType    => UTF8String.fromString(value)
      case BooleanType   => value == "1" || value.equalsIgnoreCase("true")
      case ByteType      => value.toByte
      case ShortType     => value.toShort
      case IntegerType   => value.toInt
      case LongType      => value.toLong
      case FloatType     => value.toFloat
      case DoubleType    => value.toDouble
      case d: DecimalType =>
        org.apache.spark.sql.types.Decimal(BigDecimal(value), d.precision, d.scale)
      case DateType      => val a = value.getBytes(UTF_8); epochDay(a, 0, a.length, value)
      case TimestampType =>
        val a = value.getBytes(UTF_8); timestampMicros(a, 0, a.length, value)
      case BinaryType    => value.getBytes(UTF_8)
      case _             => UTF8String.fromString(value)
    } catch { case _: RuntimeException | _: java.time.DateTimeException => null }
  }
}
