package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import graft.sources.cdc._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll
import org.scalacheck.Test.{check, Parameters}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import MockMaxScaleServer.Schema

/** Parity of the replay reader's typed pass ([[CdcRowDecoder]]) with the
  * string path it replaces: for every row the decoder takes, each output
  * value equals `CdcClient.scalarToString` of the field's JSON value
  * followed by `SqlTypes.cast` (typed mode) or `UTF8String` with null as
  * "" (raw mode), bit for bit; the GTID trio equals the parsed wire
  * strings; the pushed predicate sees the same wire strings. Rows the
  * decoder must take (complete, flat, GTIDs as JSON integers, no integer
  * beyond Long) are asserted taken, so a silent fall back fails here.
  *
  * The oracle is the tree path: `readTree` of the same line. DATE and
  * DATETIME get their own property against a copy of the java.time
  * parsers `SqlTypes.cast` used before its digit parser, covering the
  * SMART-resolver clamps. Seeds are fixed, so a failure replays.
  */
class CdcTypedDecodePropSpec extends AnyFunSuite {

  private def holds(p: Prop, n: Int = 400): Unit = {
    val r = check(Parameters.default.withMinSuccessfulTests(n)
      .withInitialSeed(Seed(20260417L)), p)
    assert(r.passed, r.status.toString)
  }

  // ---- the java.time parsers SqlTypes.cast used before its digit parser

  private val oldDateTimeFmt = new java.time.format.DateTimeFormatterBuilder()
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

  private def oldTimestamp(s: String): Any =
    try {
      val ldt = java.time.LocalDateTime.parse(s, oldDateTimeFmt)
      ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
    } catch { case _: RuntimeException => null }

  private def oldDate(s: String): Any =
    try java.time.LocalDate.parse(s).toEpochDay.toInt
    catch { case _: RuntimeException => null }

  // ---- generators

  private def pad(v: Int, w: Int): String = {
    val s = v.toString
    "0" * math.max(0, w - s.length) + s
  }

  /** DATE / DATETIME texts: mostly canonical with 0-6 fraction digits,
    * plus every shape the canonical parser hands to java.time. */
  private val dateTimeText: Gen[String] = Gen.frequency(
    6 -> (for {
      y <- Gen.frequency(8 -> Gen.choose(1900, 2100), 1 -> Gen.choose(0, 9999))
      m <- Gen.frequency(8 -> Gen.choose(1, 12), 1 -> Gen.choose(0, 13))
      d <- Gen.frequency(8 -> Gen.choose(1, 28), 2 -> Gen.choose(29, 31), 1 -> Gen.const(0))
      time <- Gen.option(for {
        h <- Gen.frequency(8 -> Gen.choose(0, 23), 1 -> Gen.const(24))
        mi <- Gen.frequency(8 -> Gen.choose(0, 59), 1 -> Gen.oneOf(0, 60))
        s <- Gen.frequency(8 -> Gen.choose(0, 59), 1 -> Gen.oneOf(0, 60))
        f <- Gen.choose(-1, 7)
        fd <- Gen.listOfN(7, Gen.numChar).map(_.mkString)
      } yield s" ${pad(h, 2)}:${pad(mi, 2)}:${pad(s, 2)}" +
        (if (f < 0) "" else "." + fd.take(f)))
    } yield s"${pad(y, 4)}-${pad(m, 2)}-${pad(d, 2)}" + time.getOrElse("")),
    1 -> Gen.oneOf("2021-02-30", "2020-02-29", "2021-02-29", "2021-04-31",
      "2021-02-30 10:00:00", "2021-01-01 24:00:00", "2021-12-31 24:00:00.000000",
      "2021-01-01 24:00:01", "2021-13-01", "2021-00-10", "2021-01-01 10:00:00.",
      "2021-01-01 10:00:00.1234567", "2021-01-01 10:00", "2021-01-01 ",
      "2021-01-01T10:00:00", "2021-1-01", "+2021-01-01", "+12021-01-01",
      "12021-01-01", "-2021-01-01", "0000-01-01", "0000-01-01 00:00:00",
      "2021-01-01 10:00:00x", "2021-01-01x", "junk", "", "2021-01-01 1:00:00",
      "2021-01-01 10:00:00.12 ", "９９９９-01-01", "2021-01-01 10:00:00.00"))

  private val intText: Gen[String] = Gen.frequency(
    4 -> Gen.choose(-1000L, 1000L),
    3 -> Gen.oneOf(127L, 128L, -128L, -129L, 255L, 32767L, 32768L, -32768L,
      -32769L, Int.MaxValue.toLong, Int.MaxValue + 1L, Int.MinValue.toLong,
      Int.MinValue - 1L, Long.MaxValue, Long.MinValue, 0L, 1L, -1L,
      999999999999L, 1000000000000L, 99999L, 100000L),
    2 -> Gen.long).map(_.toString)

  /** Integers beyond Long: the decoder leaves such rows to the string path. */
  private val bigIntText: Gen[String] =
    Gen.oneOf("9223372036854775808", "18446744073709551615", "-9223372036854775809")

  private val floatText: Gen[String] = Gen.frequency(
    4 -> Gen.oneOf("1.5", "-0.0", "0.0", "1e300", "1e400", "-1e400", "1.005",
      "0.125", "123.45", "5.0", "1e15", "1e16", "1.0E-7", "2.5e-3",
      "999999999999.99", "9999999999.995", "0.1", "-12.34", "1234567.891",
      "1.23456789012345678", "4.9e-324", "127.0", "128.0", "-2147483649.0",
      "0.30000000000000004", "1000000000000.5", "12345678.9", "0.005"),
    3 -> Gen.choose(-1e6, 1e6).map(java.lang.Double.toString),
    3 -> Gen.choose(-99999999L, 999999999L).map(c => CdcClient.doubleText(c / 100.0)),
    // one digit past a scale of 2, and halves: HALF_UP ties
    2 -> Gen.choose(-999999L, 999999L).map(c => CdcClient.doubleText(c / 1000.0)),
    1 -> Gen.choose(-9999L, 9999L).map(c => CdcClient.doubleText(c / 2.0)),
    1 -> Gen.choose(-1e-3, 1e-3).map(java.lang.Double.toString))

  private def quoted(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** JSON string literals: escapes, non-ASCII text, surrogate pairs, a
    * lone surrogate, raw and escaped control characters, numeric and
    * boolean text. */
  private val stringText: Gen[String] = Gen.frequency(
    5 -> Gen.oneOf("\"abc\"", "\"\"", "\"123\"", "\" 12\"", "\"1.5\"",
      "\"true\"", "\"TRUE\"", "\"1\"", "\"0\"", "\"caf\\u00e9\"",
      "\"\\ud83d\\ude00 smile\"", "\"\\ud83d\"", "\"a\\\"b\\\\c\\nd\\te\"",
      "\"bell\\u0001\"", "\"raw\ttab\"", "\"nul\u0000byte\"", "\"\u4e2d\u6587\"",
      "\"\ud83d\ude00\"", "\"caf\u00e9\"", "\"-0\"", "\"1e3\"", "\"12.50\"",
      "\"18446744073709551615\"", "\"{\\\"nested\\\": [1, 2]}\""),
    2 -> Gen.alphaNumStr.map(quoted),
    2 -> Gen.asciiPrintableStr.map(quoted),
    3 -> dateTimeText.map(quoted))

  private val literalText: Gen[String] = Gen.oneOf("true", "false", "null")

  /** Any scalar token. */
  private val anyToken: Gen[String] = Gen.frequency(
    3 -> intText, 3 -> floatText, 4 -> stringText, 2 -> literalText)

  /** A token that mostly suits the column's type, sometimes anything. */
  private def tokenFor(sqlType: String): Gen[String] = {
    val native: Gen[String] = SqlTypes.toSpark(sqlType) match {
      case ByteType | ShortType | IntegerType | LongType => intText
      case _: DecimalType => Gen.frequency(3 -> floatText, 1 -> intText)
      case DoubleType | FloatType => Gen.frequency(3 -> floatText, 1 -> intText)
      case DateType | TimestampType => dateTimeText.map(quoted)
      case BooleanType => Gen.oneOf("true", "false")
      case _ => stringText
    }
    Gen.frequency(6 -> native, 3 -> anyToken, 1 -> Gen.const("null"))
  }

  /** Every `SqlTypes.toSpark` target, with display widths and the
    * decimal shapes that matter (precision overflow, scale = precision,
    * wider than a long). */
  private val sqlTypes = Seq("tinyint", "tinyint unsigned", "smallint",
    "smallint unsigned", "mediumint", "int", "int(11) unsigned", "integer",
    "bigint", "bigint unsigned", "float", "double", "real",
    "decimal(12,2)", "decimal(5,5)", "decimal(18,4)", "decimal(10)",
    "decimal(2,0)", "numeric(38,10)", "decimal(20,0)", "date", "datetime",
    "datetime(3)", "timestamp(6)", "time", "year", "varchar(64)", "text",
    "enum", "json", "blob", "binary(16)", "boolean", "bool", "undefined")

  private val Trio = Seq("domain", "server_id", "sequence")

  /** One decode case: wire and planned schemas, output shape, predicate
    * and a JSON line, plus whether the decoder must take the line. */
  private final case class Case(
      wire: Seq[CdcField], planned: Seq[CdcField], typed: Boolean,
      projection: Array[Int], mask: Array[Boolean], filters: Seq[Filter],
      line: String, mustTake: Boolean) {
    override def toString: String =
      s"Case(wire=$wire, planned=$planned, typed=$typed, " +
        s"projection=${Option(projection).map(_.toSeq)}, " +
        s"mask=${Option(mask).map(_.toSeq)}, filters=$filters, line=$line)"
  }

  private def filterFor(f: CdcField, token: Gen[String]): Gen[Filter] = {
    val textOf = (t: String) =>
      if (t.startsWith("\"")) CdcClient.Json.readTree(t).asText() else t
    SqlTypes.toSpark(f.sqlType) match {
      case ByteType | ShortType | IntegerType | LongType =>
        Gen.choose(-200, 200).flatMap(v => Gen.oneOf[Filter](GreaterThan(f.name, v),
          EqualTo(f.name, v), LessThanOrEqual(f.name, v), In(f.name, Array[Any](v, 1))))
      case DoubleType => Gen.choose(-100.0, 100.0).map(v => GreaterThan(f.name, v))
      case _ => token.map(textOf).flatMap(v => Gen.oneOf[Filter](EqualTo(f.name, v),
        StringStartsWith(f.name, v.take(2)), IsNull(f.name), IsNotNull(f.name)))
    }
  }

  private val caseGen: Gen[Case] = for {
    k <- Gen.choose(1, 8)
    types <- Gen.listOfN(k, Gen.oneOf(sqlTypes))
    user = types.zipWithIndex.map { case (t, i) => CdcField(s"c$i", t) }
    wireOrder <- Gen.pick(k + 3, Trio.map(CdcField(_, "int")) ++ user)
    wire = wireOrder.toSeq
    // the planned schema: every GTID column, some user columns, any order
    keep <- Gen.someOf(user)
    planned <- Gen.pick(3 + keep.size, Trio.map(CdcField(_, "int")) ++ keep).map(_.toSeq)
    typed <- Gen.frequency(3 -> true, 1 -> false)
    projected <- Gen.frequency(2 -> Gen.const(null),
      1 -> Gen.someOf(planned.indices).map(_.sorted.toArray))
    width = if (projected == null) planned.length else projected.length
    mask <- Gen.frequency(2 -> Gen.const(null),
      1 -> Gen.listOfN(width, Gen.oneOf(true, false)).map(_.toArray))
    nFilters <- Gen.frequency(2 -> Gen.const(0), 1 -> Gen.choose(1, 2))
    filters <- Gen.listOfN(nFilters, Gen.oneOf(planned).flatMap(f =>
      filterFor(f, tokenFor(f.sqlType))))
    // values: GTID columns are JSON integers unless the row is spoiled
    tokens <- Gen.sequence[Seq[String], String](wire.map { f =>
      if (Trio.contains(f.name)) Gen.choose(0L, 1000000L).map(_.toString)
      else Gen.frequency(40 -> tokenFor(f.sqlType), 1 -> bigIntText)
    })
    order <- Gen.pick(wire.length, wire.indices).map(_.toSeq)
    inOrder <- Gen.frequency(1 -> true, 1 -> false)
    extras <- Gen.listOfN(2, Gen.option(anyToken))
    spoil <- Gen.frequency(12 -> Gen.const(0), 1 -> Gen.choose(1, 4))
  } yield {
    val pairs0 = (if (inOrder) wire.indices else order).map(i => (wire(i).name, tokens(i)))
    val pairs1 = extras.zipWithIndex.collect { case (Some(t), i) => (s"extra$i", t) } ++ pairs0
    val gtidAt = pairs1.indexWhere(_._1 == "sequence")
    val pairs = spoil match {
      case 0 => pairs1
      case 1 => pairs1.filterNot(_._1 == wire.last.name) // a missing key
      case 2 => pairs1 :+ ("extra9" -> "[1,2]") // a nested value
      case 3 => pairs1.updated(gtidAt, ("sequence", "\"7\"")) // a string GTID
      case _ => pairs1.updated(gtidAt, ("sequence", "null")) // a null GTID
    }
    val line = pairs.map { case (n, t) => "\"" + n + "\":" + t }.mkString("{", ",", "}")
    val bigInt = tokens.exists(t => !t.startsWith("\"") && t.length >= 19 &&
      scala.util.Try(BigInt(t)).toOption.exists(!_.isValidLong))
    Case(wire, planned, typed, projected, mask, filters, line,
      mustTake = spoil == 0 && !bigInt)
  }

  // ---- the oracle: the tree path

  private final case class Expected(values: Array[String], nulls: Array[Boolean],
      row: Array[Any])

  private def dtsOf(c: Case): Array[DataType] = {
    val st = SqlTypes.toStructType(c.planned, c.typed)
    val outFields =
      if (c.projection == null) st.fields else c.projection.map(st.fields(_))
    outFields.map(_.dataType)
  }

  private def oracle(c: Case): Expected = {
    val node = CdcClient.Json.readTree(c.line)
    val values = c.planned.map { f =>
      val v = node.get(f.name)
      if (v == null) null else CdcClient.scalarToString(v)
    }.toArray
    val nulls = values.map(_ == null)
    val vals = values.map(v => if (v == null) "" else v)
    val dts = dtsOf(c)
    val row = dts.indices.map { j =>
      val i = if (c.projection == null) j else c.projection(j)
      if (c.mask != null && !c.mask(j)) null
      else if (c.typed) SqlTypes.cast(vals(i), nulls(i), dts(j))
      else UTF8String.fromString(vals(i))
    }.toArray
    Expected(vals, nulls, row)
  }

  /** Equal down to the bits: class, float/double bit pattern, decimal
    * unscaled value, scale and precision, byte contents. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case (x: Decimal, y: Decimal) =>
      x.toJavaBigDecimal == y.toJavaBigDecimal &&
        x.toJavaBigDecimal.scale == y.toJavaBigDecimal.scale &&
        x.precision == y.precision && x.scale == y.scale
    case (x: java.lang.Double, y: java.lang.Double) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case (x: java.lang.Float, y: java.lang.Float) =>
      java.lang.Float.floatToRawIntBits(x) == java.lang.Float.floatToRawIntBits(y)
    case (null, _) | (_, null) => false
    case _ => a.getClass == b.getClass && a == b
  }

  private def show(a: Any): String = a match {
    case null => "null"
    case b: Array[Byte] => b.toSeq.toString
    case x => s"$x: ${x.getClass.getSimpleName}"
  }

  private def compile(c: Case): CdcRowDecoder = {
    val names = c.planned.map(_.name)
    val pred = CdcWireFilters.compileAll(c.filters,
      SqlTypes.toStructType(c.planned, c.typed), c.typed)
    CdcRowDecoder.compile(c.wire, c.planned, dtsOf(c), c.typed, c.projection,
      c.mask, pred, (names.indexOf("domain"), names.indexOf("server_id"),
        names.indexOf("sequence")))
  }

  private def decode(dec: CdcRowDecoder, line: String): Boolean = {
    val b = line.getBytes(UTF_8)
    dec.decode(b, 0, b.length)
  }

  /** Counts over one property run, so the run can prove it covered the
    * native path, the per-field fallback and declined rows. */
  private var taken, slowRows, declined = 0

  private def parity(c: Case): Prop = {
    val dec = compile(c)
    val took = decode(dec, c.line)
    if (!took) {
      declined += 1
      Prop(!c.mustTake) :| s"declined a row it must take: $c"
    } else {
      taken += 1
      if (dec.slow) slowRows += 1
      val exp = oracle(c)
      val names = c.planned.map(_.name)
      val gtidOk = Trio.zipWithIndex.forall { case (t, r) =>
        dec.gtid(r) == exp.values(names.indexOf(t)).toLong
      }
      val row = dec.row
      val mismatch = exp.row.indices.find(j => !same(row.get(j, dtsOf(c)(j)), exp.row(j)))
      val pred = CdcWireFilters.compileAll(c.filters,
        SqlTypes.toStructType(c.planned, c.typed), c.typed)
      val predOk = pred == null || WirePred.refs(pred).forall { i =>
        dec.predValues(i) == exp.values(i) && dec.predNulls(i) == exp.nulls(i)
      } && pred.eval(dec.predValues, dec.predNulls) == pred.eval(exp.values, exp.nulls)
      (Prop(row.numFields == exp.row.length) :| s"width: $c") &&
        (Prop(gtidOk) :| s"GTID trio ${dec.gtid.toSeq}: $c") &&
        (Prop(mismatch.isEmpty) :| mismatch.fold("") { j =>
          s"column $j: decoder ${show(row.get(j, dtsOf(c)(j)))}, " +
            s"string path ${show(exp.row(j))}: $c"
        }) &&
        (Prop(predOk) :| s"predicate view differs: $c")
    }
  }

  test("typed and raw decode equal scalarToString + SqlTypes.cast on random " +
      "rows: every toSpark target, permuted and extra keys, projection, " +
      "mask and a pushed predicate") {
    taken = 0; slowRows = 0; declined = 0
    holds(forAll(caseGen)(parity), n = 3000)
    assert(taken > 2000, s"only $taken rows took the typed pass")
    assert(slowRows > 100 && slowRows < taken,
      s"$slowRows of $taken taken rows cast a field from its wire string")
    assert(declined > 100, s"only $declined rows left for the string path")
  }

  test("DATE and DATETIME: SqlTypes.cast equals the java.time parsers, " +
      "SMART clamps, 24:00:00, month 13, a trailing '.' and junk included") {
    holds(forAll(dateTimeText) { s =>
      (Prop(same(SqlTypes.cast(s, isNull = false, TimestampType), oldTimestamp(s))) :|
        s"DATETIME '$s'") &&
        (Prop(same(SqlTypes.cast(s, isNull = false, DateType), oldDate(s))) :|
          s"DATE '$s'")
    }, n = 5000)
    // the clamps the SMART resolver applies, spelled out
    val feb28 = oldTimestamp("2021-02-28 10:00:00")
    assert(SqlTypes.cast("2021-02-30 10:00:00", isNull = false, TimestampType) == feb28)
    assert(SqlTypes.cast("2021-01-01 24:00:00", isNull = false, TimestampType) ==
      oldTimestamp("2021-01-02 00:00:00"))
    assert(SqlTypes.cast("2021-13-01", isNull = false, TimestampType) == null)
    assert(SqlTypes.cast("2021-02-30", isNull = false, DateType) == null)
  }

  test("reals in decimal and floating columns, HALF_UP ties and the float " +
      "rounding boundary included, equal the cast of their wire text") {
    val texts = Seq("1.005", "0.125", "0.005", "2.675", "1.115", "-0.035",
      "0.5", "1.5", "2.5", "-2.5", "0.000005", "0.0000049", "123456789.125",
      "99999.995", "-0.0", "1e-7", "1e20", "0.1", "0.30000001", "3.4028235e38",
      "3.4028236e38", "1.4e-45", "16777217", "9007199254740993")
    val types = Seq("decimal(12,2)", "decimal(10)", "decimal(5,5)", "decimal(18,4)",
      "decimal(3,1)", "decimal(20,0)", "float", "double", "int", "bigint")
    for (t <- types; x <- texts) {
      val wire = Trio.map(CdcField(_, "int")) :+ CdcField("v", t)
      val dts = SqlTypes.toStructType(wire, typed = true).fields.map(_.dataType)
      val dec = CdcRowDecoder.compile(wire, wire, dts, typed = true, null, null,
        null, (0, 1, 2))
      val line = s"""{"domain":0,"server_id":1,"sequence":1,"v":$x}"""
      assert(decode(dec, line), line)
      val exp = SqlTypes.cast(CdcClient.scalarToString(
        CdcClient.Json.readTree(line).get("v")), isNull = false, dts(3))
      assert(same(dec.row.get(3, dts(3)), exp),
        s"$t <- $x: decoder ${show(dec.row.get(3, dts(3)))}, string path ${show(exp)}")
    }
  }

  test("integers at and beyond the Int and Long bounds, reals and strings in " +
      "int and decimal columns, decimal precision overflow") {
    val wire = Trio.map(CdcField(_, "int")) ++ Seq(CdcField("i", "int"),
      CdcField("d", "decimal(5,2)"), CdcField("l", "bigint"), CdcField("u", "bigint unsigned"))
    val dts = SqlTypes.toStructType(wire, typed = true).fields.map(_.dataType)
    val dec = CdcRowDecoder.compile(wire, wire, dts, typed = true, null, null, null, (0, 1, 2))
    def row(i: String, d: String, l: String, u: String): InternalRow = {
      val line = s"""{"domain":0,"server_id":1,"sequence":5,"i":$i,"d":$d,"l":$l,"u":$u}"""
      assert(decode(dec, line), line)
      dec.row
    }
    val r1 = row("2147483647", "999.99", "9223372036854775807", "9223372036854775807")
    assert(r1.getInt(3) == Int.MaxValue && r1.getDecimal(4, 5, 2).toString == "999.99")
    assert(r1.getLong(5) == Long.MaxValue && !dec.slow)
    assert(r1.getDecimal(6, 20, 0).toString == "9223372036854775807")
    val r2 = row("2147483648", "1000", "-9223372036854775808", "0")
    assert(r2.isNullAt(3) && r2.isNullAt(4) && r2.getLong(5) == Long.MinValue)
    val r3 = row("1.0", "999.995", "\"12\"", "1.5")
    assert(dec.slow)
    assert(r3.getInt(3) == 1 && r3.isNullAt(4) && r3.getLong(5) == 12L)
    assert(r3.getDecimal(6, 20, 0).toString == "2") // HALF_UP of the wire text "1.5"
    val beyond = """{"domain":0,"server_id":1,"sequence":5,"i":1,"d":1,"l":1,"u":18446744073709551615}"""
    assert(!decode(dec, beyond), "an integer beyond Long leaves for the string path")
  }

  // ---- reader level: a changelog shaped like the benchmark's, over the mock

  /** The benchmark generator's column set: metadata, int, decimal(12,2),
    * double, bigint, datetime(6) and two varchars. */
  private val genColumns = Seq("domain" -> "int", "server_id" -> "int",
    "sequence" -> "int", "event_number" -> "int", "timestamp" -> "int",
    "event_type" -> "varchar(32)", "id" -> "int", "qty" -> "int",
    "amount" -> "decimal(12,2)", "score" -> "double", "big" -> "bigint",
    "ts" -> "datetime(6)", "name" -> "varchar(64)", "note" -> "varchar(255)")

  private def schemaLine(cols: Seq[(String, String)]): String =
    cols.map { case (n, t) =>
      s"""{"name":"$n","type":"string","real_type":"$t","length":-1}"""
    }.mkString("""{"namespace":"MaxScaleChangeDataSchema.avro","type":"record",""" +
      """"name":"ChangeRecord","fields":[""", ",", "]}")

  private val notes = Array("say \\\"hi\\\"", "C:\\\\path", "line1\\nline2",
    "col\\tcol", "caf\\u00e9", "\\u4e2d\\u6587", "smile \\ud83d\\ude00",
    "bell\\u0001", "plain words")

  /** Seeded events with nulls (~1 in 12 per nullable column), datetimes
    * with 0, 3 or 6 fraction digits and escaped notes. */
  private def genEvents(n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    def orNull(s: => String) = if (rnd.nextInt(12) == 0) "null" else s
    (1 to n).map { seq =>
      val micros = 1577836800000000L + (rnd.nextLong() & Long.MaxValue) % 157680000000000L
      val secs = Math.floorDiv(micros, 1000000L)
      val base = java.time.LocalDateTime.ofEpochSecond(secs, 0, java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      val frac = Math.floorMod(micros, 1000000L)
      val ts = rnd.nextInt(3) match {
        case 0 => base
        case 1 => f"$base.${frac / 1000}%03d"
        case _ => f"$base.$frac%06d"
      }
      val kind = Seq("insert", "update_before", "update_after", "delete")(rnd.nextInt(4))
      s"""{"domain":0,"server_id":1,"sequence":$seq,"event_number":1,""" +
        s""""timestamp":${1700000000 + seq / 1000},"event_type":"$kind",""" +
        s""""id":${1 + rnd.nextInt(5000)},"qty":${rnd.nextInt(1000)},""" +
        s""""amount":${orNull(CdcClient.doubleText((rnd.nextInt(1100000000) - 100000000) / 100.0))},""" +
        s""""score":${orNull(java.lang.Double.toString(rnd.nextDouble() * 20000 - 10000))},""" +
        s""""big":${rnd.nextLong()},"ts":${orNull("\"" + ts + "\"")},""" +
        s""""name":"user_$seq","note":${orNull("\"" + notes(rnd.nextInt(notes.length)) + "\"")}}"""
    }
  }

  /** Drain one replay range and check every row against the string path
    * over the planned schema; returns the reader's task metrics. */
  private def replayAndCheck(srv: MockMaxScaleServer, planned: Seq[CdcField],
      events: Seq[String], typed: Boolean): Map[String, Long] = {
    val dts = SqlTypes.toStructType(planned, typed).fields.map(_.dataType)
    val part = CdcReplayPartition("127.0.0.1", srv.port, "u", "p", "db.t",
      planned, startExclusive = None, endInclusive = s"0-1-${events.length}",
      timeoutMs = 2000)
    val r = new CdcReplayReader(part, dts, typed)
    try {
      events.foreach { line =>
        assert(r.next(), s"reader ended before $line")
        val c = Case(planned, planned, typed, null, null, Nil, line, mustTake = true)
        val exp = oracle(c)
        val got = r.get()
        exp.row.indices.foreach { j =>
          assert(same(got.get(j, dts(j)), exp.row(j)),
            s"column ${planned(j).name}: reader ${show(got.get(j, dts(j)))}, " +
              s"string path ${show(exp.row(j))} in $line")
        }
      }
      assert(!r.next())
      r.currentMetricsValues().map(m => m.name() -> m.value()).toMap
    } finally r.close()
  }

  test("reader: a benchmark-shaped changelog takes the typed pass for every " +
      "row (cdcSlowPathRows = 0), typed and raw") {
    val cols = genColumns.map { case (n, t) => CdcField(n, t) }
    val events = genEvents(400, 7L)
    Seq(true, false).foreach { typed =>
      val srv = new MockMaxScaleServer(schemaLine(genColumns), events)
      try {
        val m = replayAndCheck(srv, cols, events, typed)
        assert(m(CdcMetrics.DecodedRows) == 400)
        assert(m(CdcMetrics.SlowPathRows) == 0, s"typed=$typed: $m")
      } finally srv.close()
    }
  }

  test("reader: a mid-range schema version that reorders the columns " +
      "recompiles the decoder by name") {
    val cols = genColumns.map { case (n, t) => CdcField(n, t) }
    val reordered = genColumns.drop(3).reverse ++ genColumns.take(3)
    val events = genEvents(300, 11L)
    Seq(true, false).foreach { typed =>
      val srv = new MockMaxScaleServer(schemaLine(genColumns), events,
        midStreamSchemaAfter = Some((150, schemaLine(reordered))))
      try {
        val m = replayAndCheck(srv, cols, events, typed)
        assert(m(CdcMetrics.DecodedRows) == 300)
        assert(m(CdcMetrics.SlowPathRows) == 0, s"typed=$typed: $m")
      } finally srv.close()
    }
  }

  test("reader: rows the typed pass declines are counted in cdcSlowPathRows") {
    val events = Seq(
      MockMaxScaleServer.event(1, "insert", 1, "a"),
      // a GTID column as a JSON string: the string path positions it
      """{"domain":0,"server_id":"1","sequence":2,"event_number":1,""" +
        """"timestamp":1700000002,"event_type":"insert","id":2,"name":"b"}""",
      MockMaxScaleServer.event(3, "insert", 3, "c"))
    val srv = new MockMaxScaleServer(Schema, events)
    try {
      val planned = CdcClient.parseSchemaFields(CdcClient.Json.readTree(Schema))
      val m = replayAndCheck(srv, planned, events, typed = true)
      assert(m(CdcMetrics.DecodedRows) == 3 && m(CdcMetrics.SlowPathRows) == 1, m)
    } finally srv.close()
  }
}
