package graft.sources

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import graft.sources.cdc._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll
import org.scalacheck.Test.{check, Parameters}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Parity of the byte-level row scan ([[CdcLineScanner]]) with the tree
  * path of record, in all three of its modes: strings
  * ([[CdcLineScanner.strings]], what `CdcClient.readMessage()` returns),
  * typed and raw rows ([[CdcRowDecoder.compile]], the replay reader's),
  * and positions ([[CdcRowDecoder.positions]], the tailer's). For every
  * line the scan takes, each value equals the tree path's
  * (`Json.readTree` of the line decoded as UTF-8, then `scalarToString`,
  * then `SqlTypes.cast` or `UTF8String`) bit for bit; a line the tree
  * path rejects or decodes with a missing key must be declined. Lines
  * that are valid, flat and complete must be taken whatever their
  * separators, key order, escapes, raw UTF-8 and control bytes.
  *
  * Lines are built from bytes, so invalid UTF-8 (truncated, overlong,
  * CESU-encoded surrogates, stray continuation bytes) can be generated.
  * The seed is fixed, so a failure replays.
  */
class CdcLineScanPropSpec extends AnyFunSuite {

  private def holds(p: Prop, n: Int): Unit = {
    val r = check(Parameters.default.withMinSuccessfulTests(n)
      .withInitialSeed(Seed(20261019L)), p)
    assert(r.passed, r.status.toString)
  }

  private def b(s: String): Array[Byte] = s.getBytes(UTF_8)
  private def raw(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  /** One token: its bytes, and whether Jackson reads it as a flat scalar
    * the scan must take (false for anything malformed, nested, an
    * integer beyond Long or invalid UTF-8). */
  private final case class Tok(bytes: Array[Byte], ok: Boolean) {
    override def toString: String = new String(bytes, ISO_8859_1)
  }

  // ---- string contents: valid pieces and spoilers

  private val goodPiece: Gen[Array[Byte]] = Gen.frequency(
    6 -> Gen.alphaNumStr.map(b),
    3 -> Gen.oneOf("é", "中文", "😀", "ß€", "\u07ff\u0800\uffff", "\ud800\udc00",
      "\udbff\udfff", " spaced ", "12", "2021-01-01 10:00:00.5", "true").map(b),
    3 -> Gen.oneOf("\\\"", "\\\\", "\\/", "\\b", "\\f", "\\n", "\\r", "\\t",
      "\\u0000", "\\u00e9", "\\u00E9", "\\u4e2d", "\\ud83d\\ude00", "\\uD83D\\uDE00",
      "\\ud800", "\\udc00", "\\ud83d\\ud83d\\ude00", "\\udbff\\udfff", "\\udc00\\ud800",
      "\\u0041", "\\u007f", "\\u0080").map(b),
    2 -> Gen.oneOf(raw(0), raw(1), raw(0x1f), raw(9), raw(13), raw(0x7f)))

  private val badPiece: Gen[Array[Byte]] = Gen.oneOf(
    raw(0xe4, 0xb8), raw(0xc3), raw(0xc0, 0xaf), raw(0xc1, 0xbf),
    raw(0xe0, 0x80, 0xaf), raw(0xf0, 0x80, 0x80, 0xaf),
    raw(0xed, 0xa0, 0xbd, 0xed, 0xb8, 0x80), raw(0xed, 0xb0, 0x80),
    raw(0x80), raw(0xbf), raw(0xff), raw(0xfe), raw(0xf5, 0x80, 0x80, 0x80),
    raw(0xf4, 0x90, 0x80, 0x80), b("\\x"), b("\\u12"), b("\\u12G4"), b("\\"),
    b("\\U0041"))

  private def quote(parts: Seq[Array[Byte]]): Array[Byte] =
    Array('"'.toByte) ++ parts.flatten ++ Array('"'.toByte)

  private val stringTok: Gen[Tok] = Gen.frequency(
    12 -> Gen.listOf(goodPiece).map(p => Tok(quote(p.take(6)), ok = true)),
    1 -> (for {
      pre <- Gen.listOf(goodPiece)
      bad <- badPiece
      post <- Gen.listOf(goodPiece)
    } yield Tok(quote(pre.take(2) ++ Seq(bad) ++ post.take(2)), ok = false)))

  // ---- numbers and literals

  private val goodNumber: Gen[String] = Gen.frequency(
    3 -> Gen.long.map(_.toString),
    2 -> Gen.choose(-1000L, 1000L).map(_.toString),
    2 -> Gen.oneOf("0", "-0", "9223372036854775807", "-9223372036854775808",
      "1000000000000000000", "999999999999999999", "-9223372036854775807"),
    3 -> Gen.oneOf("1.5", "-0.0", "0.0", "1e5", "1E+5", "1e-5", "1.5e300", "1e400",
      "-1e400", "4.9e-324", "2.5e-324", "0.30000000000000004", "1.005", "2.675",
      "0.125", "1e22", "1e23", "123456789012345e-22", "1234567890123456e-22",
      "9007199254740993.0", "0e10", "-0e-10", "1.0000000000000002", "99999.995",
      "123456789012345.67", "1e0", "1E-0", "12.5e+1", "1e-07", "5e-1",
      "1.7976931348623157e308", "1.7976931348623159e308", "2.2250738585072014E-308",
      "0.000001234", "100000000000000000000.0", "1" + "0" * 300 + ".5"),
    3 -> Gen.choose(-1e6, 1e6).map(java.lang.Double.toString),
    2 -> Gen.choose(-99999999L, 999999999L).map(c => CdcClient.doubleText(c / 100.0)),
    1 -> Gen.choose(-999999L, 999999L).map(c => CdcClient.doubleText(c / 1000.0)))

  /** Numbers past Long or outside Jackson's grammar. */
  private val badNumber: Gen[String] = Gen.oneOf("9223372036854775808",
    "-9223372036854775809", "18446744073709551615", "12345678901234567890",
    "01", "-01", "00", "00.5", "-", "+1", "1.", ".5", "1e", "1e+", "1.e5", "-.5",
    "0x10", "1f", "NaN", "Infinity", "-Infinity", "1_000", "1" * 1200)

  private val literal: Gen[Tok] = Gen.frequency(
    6 -> Gen.oneOf("true", "false", "null").map(s => Tok(b(s), ok = true)),
    1 -> Gen.oneOf("tru", "nul", "fals", "True", "NULL", "truex", "nulls").map(s =>
      Tok(b(s), ok = false)))

  private val nested: Gen[Tok] =
    Gen.oneOf("[1,2]", "[]", "{}", "{\"a\":1}", "[{\"b\":[null]}]").map(s => Tok(b(s), ok = false))

  private val goodTok: Gen[Tok] = Gen.frequency(
    8 -> stringTok.filter(_.ok),
    6 -> goodNumber.map(s => Tok(b(s), ok = true)),
    3 -> literal.filter(_.ok))

  private val badTok: Gen[Tok] = Gen.oneOf(stringTok.filter(!_.ok),
    badNumber.map(s => Tok(b(s), ok = false)), literal.filter(!_.ok), nested)

  private val anyTok: Gen[Tok] = Gen.frequency(30 -> goodTok, 1 -> badTok)

  /** JSON whitespace between tokens: compact, jansson's one space, or
    * anything Jackson skips. */
  private val ws: Gen[String] = Gen.frequency(6 -> Gen.const(""), 3 -> Gen.const(" "),
    1 -> Gen.oneOf("\t", "\r", "  ", " \t\r "))

  private val Trio = Seq("domain", "server_id", "sequence")

  private val userTypes = Seq("tinyint", "smallint unsigned", "int", "bigint",
    "bigint unsigned", "float", "double", "decimal(12,2)", "decimal(5,5)",
    "decimal(20,0)", "date", "datetime(6)", "time", "varchar(64)", "blob",
    "boolean", "json")

  /** A key spelled with an escape or raw UTF-8: the same name to Jackson. */
  private def keyBytes(name: String, escape: Boolean): Array[Byte] =
    if (escape && name.nonEmpty) b("\"\\u%04x".format(name.charAt(0).toInt) + name.drop(1) + "\"")
    else b("\"" + name + "\"")

  /** A line over `wire`; `flat` when it is valid JSON holding every wire
    * key with a scalar the scan must take, `trioInts` when the final
    * value of each GTID column is also a JSON integer within Long. */
  private final case class Case(wire: Seq[CdcField], line: Array[Byte], flat: Boolean,
      trioInts: Boolean) {
    override def toString: String =
      s"Case(wire=$wire, line=${line.map(x => if (x >= 0x20 && x < 0x7f) x.toChar.toString
        else "<%02x>".format(x & 0xff)).mkString})"
  }

  private val JsonLong = "-?(0|[1-9][0-9]*)".r

  private val caseGen: Gen[Case] = for {
    k <- Gen.choose(0, 6)
    types <- Gen.listOfN(k, Gen.oneOf(userTypes))
    user = types.zipWithIndex.map { case (t, i) => CdcField(if (i == 2) s"c$i\u00e9" else s"c$i", t) }
    wire <- Gen.pick(k + 3, Trio.map(CdcField(_, "int")) ++ user).map(_.toSeq)
    trio <- Gen.frequency(20 -> Gen.const(true), 1 -> Gen.const(false))
    tokFor = (f: CdcField) =>
      if (Trio.contains(f.name) && trio)
        Gen.choose(0L, Long.MaxValue).map(v => Tok(b(v.toString), ok = true))
      else anyTok
    tokens <- Gen.sequence[Seq[Tok], Tok](wire.map(tokFor))
    inOrder <- Gen.frequency(3 -> true, 1 -> false)
    order <- Gen.pick(wire.length, wire.indices).map(_.toSeq)
    escKeys <- Gen.listOfN(wire.length, Gen.frequency(8 -> false, 1 -> true))
    extras <- Gen.listOf(Gen.zip(Gen.oneOf("extra", "x\u00e9", "fields", "", "c0 "), anyTok))
    dups <- Gen.listOf(Gen.choose(0, wire.length - 1).flatMap(i => tokFor(wire(i)).map((i, _))))
    seps <- Gen.listOfN(4 * (wire.length + 8), ws)
    spoil <- Gen.frequency(10 -> Gen.const(0), 1 -> Gen.choose(1, 6))
    cut <- Gen.choose(0, 400)
  } yield {
    // (wire column or -1, key bytes, value)
    val own = (if (inOrder) wire.indices else order).map(i =>
      (i, keyBytes(wire(i).name, escKeys(i)), tokens(i)))
    val all = own ++
      extras.take(2).map { case (name, t) => (-1, b("\"" + name + "\""), t) } ++
      dups.take(2).map { case (i, t) => (i, keyBytes(wire(i).name, escape = false), t) }
    val pairs = if (spoil == 1) all.tail else all // a missing key, unless duplicated
    val sep = seps.iterator ++ Iterator.continually("")
    val body = pairs.map { case (_, kb, t) => kb ++ b(sep.next() + ":" + sep.next()) ++ t.bytes }
      .reduceOption((x, y) => x ++ b(sep.next() + "," + sep.next()) ++ y)
      .getOrElse(Array.emptyByteArray)
    val full = b(sep.next() + "{" + sep.next()) ++ body ++ b(sep.next() + "}" + sep.next())
    val line = spoil match {
      case 2 => full.take(math.min(cut, full.length - 1)) // a truncated line
      case 3 => full ++ b(" x") // bytes after '}'
      case 4 => full ++ b("}")
      case 5 => b("x") ++ full
      case 6 => full.take(full.lastIndexOf('}'.toByte)) ++ b(",}") // a trailing comma
      case _ => full
    }
    // the last value of a repeated key is the one that counts
    val last = wire.indices.map(i => pairs.filter(_._1 == i).lastOption.map(_._3))
    val flat = (spoil == 0 || spoil == 1) && pairs.forall(_._3.ok) && last.forall(_.isDefined)
    val trioInts = flat && Trio.forall { n =>
      val t = last(wire.indexWhere(_.name == n)).get.toString
      JsonLong.matches(t) && scala.util.Try(t.toLong).isSuccess
    }
    Case(wire, line, flat, trioInts)
  }

  // ---- the oracle: the tree path of record

  private final case class Tree(values: Array[String], nulls: Array[Boolean], complete: Boolean)

  /** What `CdcClient`'s tree path gives for `line`: None when it throws. */
  private def tree(wire: Seq[CdcField], line: Array[Byte]): Option[Tree] = {
    val node =
      try CdcClient.Json.readTree(new String(line, UTF_8))
      catch { case _: Exception => return None }
    if (node == null) return None
    val vs = wire.map { f =>
      val v = node.get(f.name)
      if (v == null) None else Some(CdcClient.scalarToString(v))
    }
    Some(Tree(vs.map(_.flatMap(Option(_)).getOrElse("")).toArray, vs.map(v => v.isEmpty || v.get == null).toArray,
      vs.forall(_.isDefined) && !CdcClient.isSchema(node)))
  }

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

  private var taken, declined = 0

  /** The verdict shared by every mode: a taken line is one the tree path
    * decodes completely; a line that must be taken is. */
  private def verdict(c: Case, took: Boolean, t: Option[Tree], mustTake: Boolean): Prop =
    if (took) {
      taken += 1
      Prop(t.exists(_.complete)) :| s"took a line the tree path rejects: $c"
    } else {
      declined += 1
      Prop(!mustTake) :| s"declined a line it must take: $c"
    }

  private def gtidOk(c: Case, t: Tree, g: Array[Long]): Boolean =
    Trio.zipWithIndex.forall { case (name, r) =>
      g(r) == t.values(c.wire.indexWhere(_.name == name)).toLong
    }

  test("strings: every taken line equals the tree path's strings and null " +
      "flags exactly; valid flat lines are taken whatever their shape") {
    taken = 0; declined = 0
    holds(forAll(caseGen) { c =>
      val sc = new CdcLineScanner(c.wire)
      val took = sc.scan(c.line, 0, c.line.length)
      val t = tree(c.wire, c.line)
      verdict(c, took, t, c.flat) && (if (!took || !t.exists(_.complete)) Prop.passed else {
        val m = sc.strings()
        val exp = t.get
        val bad = c.wire.indices.find(i => m.values(i) != exp.values(i) || m.nulls(i) != exp.nulls(i))
        Prop(bad.isEmpty && m.missingKey == null) :| bad.fold("") { i =>
          s"column ${c.wire(i).name}: scan '${m.values(i)}'/${m.nulls(i)}, " +
            s"tree '${exp.values(i)}'/${exp.nulls(i)}: $c"
        }
      })
    }, n = 6000)
    assert(taken > 2500 && declined > 1000, s"taken $taken, declined $declined")
  }

  test("typed and raw rows: every taken line equals scalarToString + " +
      "SqlTypes.cast (typed) or UTF8String with null as \"\" (raw)") {
    taken = 0; declined = 0
    holds(forAll(caseGen, Gen.oneOf(true, false)) { (c, typed) =>
      val dts = SqlTypes.toStructType(c.wire, typed).fields.map(_.dataType)
      val names = c.wire.map(_.name)
      val dec = CdcRowDecoder.compile(c.wire, c.wire, dts, typed, null, null, null,
        (names.indexOf("domain"), names.indexOf("server_id"), names.indexOf("sequence")))
      val took = dec.decode(c.line, 0, c.line.length)
      val t = tree(c.wire, c.line)
      val trioInts = t.exists(tr => Trio.forall { n =>
        val i = names.indexOf(n)
        !tr.nulls(i) && scala.util.Try(tr.values(i).toLong).isSuccess
      })
      verdict(c, took, t, c.trioInts) && (if (!took || !t.exists(_.complete)) Prop.passed else {
        val exp = t.get
        val row = dec.row
        val bad = dts.indices.find { j =>
          val want =
            if (typed) SqlTypes.cast(exp.values(j), exp.nulls(j), dts(j))
            else UTF8String.fromString(exp.values(j))
          !same(row.get(j, dts(j)), want)
        }
        (Prop(trioInts && gtidOk(c, exp, dec.gtid)) :| s"GTID ${dec.gtid.toSeq}: $c") &&
          (Prop(bad.isEmpty) :| bad.fold("") { j =>
            s"column ${names(j)} (${dts(j)}): decoder ${row.get(j, dts(j))}, " +
              s"tree ${exp.values(j)}: $c"
          })
      })
    }, n = 6000)
    assert(taken > 2500 && declined > 1000, s"taken $taken, declined $declined")
  }

  test("positions: the GTID trio of every taken line equals the tree " +
      "path's parsed strings") {
    taken = 0; declined = 0
    holds(forAll(caseGen) { c =>
      val names = c.wire.map(_.name)
      val dec = CdcRowDecoder.positions(c.wire,
        (names.indexOf("domain"), names.indexOf("server_id"), names.indexOf("sequence")))
      val took = dec.decode(c.line, 0, c.line.length)
      val t = tree(c.wire, c.line)
      verdict(c, took, t, c.trioInts) && (if (!took || !t.exists(_.complete)) Prop.passed else
        (Prop(gtidOk(c, t.get, dec.gtid)) :| s"GTID ${dec.gtid.toSeq}: $c"))
    }, n = 4000)
    assert(taken > 1500 && declined > 500, s"taken $taken, declined $declined")
  }

  /** JSON real texts: the shortest text of random doubles of every
    * magnitude, 16 to 19 significant digits, halfway points between two
    * doubles, subnormals, and exponents at the ends of the fast paths. */
  private val realText: Gen[String] = Gen.frequency(
    4 -> Gen.long.map(java.lang.Double.longBitsToDouble).filter(d => !d.isNaN && !d.isInfinite)
      .map(java.lang.Double.toString),
    3 -> (for {
      digits <- Gen.choose(1, 19)
      m <- Gen.listOfN(digits, Gen.numChar).map(_.mkString.dropWhile(_ == '0'))
      e <- Gen.frequency(3 -> Gen.choose(-30, 30), 2 -> Gen.choose(-360, 330))
      neg <- Gen.oneOf("", "-")
    } yield s"$neg${if (m.isEmpty) "0" else m}.0e$e"),
    2 -> Gen.long.map { bits =>
      // the decimal value half way between a double and its successor
      val d = math.abs(java.lang.Double.longBitsToDouble(bits & 0x7FEFFFFFFFFFFFFFL))
      val t = new java.math.BigDecimal(d).add(new java.math.BigDecimal(math.ulp(d)).divide(
        java.math.BigDecimal.valueOf(2))).toString
      if (t.exists(c => c == '.' || c == 'E')) t else t + ".0"
    }.filter(_.length <= 400), // longer texts are declined, well inside Jackson's limit
    1 -> Gen.oneOf("2.2250738585072011e-308", "2.2250738585072012e-308", "4.9e-324",
      "1e-324", "2.4703282292062327e-324", "2.4703282292062328e-324",
      "1.7976931348623157e308", "1.7976931348623158e308", "9007199254740993",
      "9007199254740992.5", "123456789012345678.9", "0.1e-22", "1e23", "8.41e21",
      "9.5e22", "4503599627370496.5", "4503599627370497.5", "1e-22", "1e22", "3e22"))

  test("reals: every number text reads as Double.parseDouble reads it, " +
      "bit for bit, through both exact fast paths and the fallback") {
    val sc = new CdcLineScanner(Seq(CdcField("v", "double")))
    holds(Prop.forAllNoShrink(realText) { t =>
      val line = b(s"""{"v":$t}""")
      val took = sc.scan(line, 0, line.length)
      val want = java.lang.Double.parseDouble(t)
      val tree = CdcClient.Json.readTree(new String(line, UTF_8)).get("v").asDouble
      (Prop(took) :| s"declined $t") && (Prop(!took ||
        java.lang.Double.doubleToRawLongBits(sc.real(0)) == java.lang.Double.doubleToRawLongBits(want)) :|
        s"$t: scan ${sc.real(0)}, parseDouble $want") &&
        (Prop(java.lang.Double.doubleToRawLongBits(tree) == java.lang.Double.doubleToRawLongBits(want)) :|
          s"$t: tree $tree")
    }, n = 200000)
  }

  // ---- benchmark-shaped rows

  /** The benchmark generator's columns and value shapes: metadata, int,
    * decimal(12,2), double, bigint, datetime with 0/3/6 fraction digits,
    * and two varchars, the note escaped like the generator escapes it
    * (quotes, backslashes, newlines, tabs, control and non-ASCII units
    * as \\u escapes), nulls in ~8% of nullable values. */
  private val genColumns = Seq("domain" -> "int", "server_id" -> "int",
    "sequence" -> "int", "event_number" -> "int", "timestamp" -> "int",
    "event_type" -> "varchar(32)", "id" -> "int", "qty" -> "int",
    "amount" -> "decimal(12,2)", "score" -> "double", "big" -> "bigint",
    "ts" -> "datetime(6)", "name" -> "varchar(64)", "note" -> "varchar(255)")

  private def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case '\r' => sb.append("\\r")
      case c if c < ' ' || c > '~' => sb.append("\\u%04x".format(c.toInt))
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def genLines(n: Int, seed: Long): Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(seed)
    val specials = Array("say \"hi\"", "C:\\path\\to", "line1\nline2", "col\tcol",
      "caf\u00e9", "\u4e2d\u6587", "smile \ud83d\ude00", "bell\u0001",
      "{\"nested\": [1, 2]}", "back\\\"slash")
    def orNull(s: => String) = if (rnd.nextInt(12) == 0) "null" else s
    (1 to n).map { seq =>
      val micros = 1577836800000000L + (rnd.nextLong() & Long.MaxValue) % 157680000000000L
      val base = java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L), 0,
        java.time.ZoneOffset.UTC).format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      val frac = Math.floorMod(micros, 1000000L)
      val ts = rnd.nextInt(3) match {
        case 0 => base
        case 1 => f"$base.${frac / 1000}%03d"
        case _ => f"$base.$frac%06d"
      }
      val note = (1 to 3 + rnd.nextInt(6)).map { _ =>
        if (rnd.nextBoolean()) "word" + rnd.nextInt(20) else specials(rnd.nextInt(specials.length))
      }.mkString(" ")
      val kind = Seq("insert", "update_before", "update_after", "delete")(rnd.nextInt(4))
      b(s"""{"domain":0,"server_id":1,"sequence":$seq,"event_number":1,""" +
        s""""timestamp":${1700000000 + seq / 1000},"event_type":"$kind",""" +
        s""""id":${1 + rnd.nextInt(50000)},"qty":${rnd.nextInt(1000)},""" +
        s""""amount":${orNull(CdcClient.doubleText((rnd.nextLong() % 1100000000L - 100000000L) / 100.0))},""" +
        s""""score":${orNull(java.lang.Double.toString(rnd.nextDouble() * 20000 - 10000))},""" +
        s""""big":${rnd.nextLong()},"ts":${orNull("\"" + ts + "\"")},""" +
        s""""name":"user_${seq}_x","note":${orNull(jsonString(note))}}""")
    }
  }

  test("benchmark-shaped rows are always taken, in every mode, and no " +
      "typed row casts a field from its wire string") {
    val wire = genColumns.map { case (n, t) => CdcField(n, t) }
    val lines = genLines(3000, 17L)
    val sc = new CdcLineScanner(wire)
    val dts = SqlTypes.toStructType(wire, typed = true).fields.map(_.dataType)
    val typed = CdcRowDecoder.compile(wire, wire, dts, typed = true, null, null, null, (0, 1, 2))
    val pos = CdcRowDecoder.positions(wire, (0, 1, 2))
    lines.foreach { line =>
      val text = new String(line, UTF_8)
      assert(sc.scan(line, 0, line.length), text)
      val t = tree(wire, line).get
      val m = sc.strings()
      assert(m.values.toSeq == t.values.toSeq && m.nulls.toSeq == t.nulls.toSeq, text)
      assert(typed.decode(line, 0, line.length) && !typed.slow, text)
      dts.indices.foreach { j =>
        assert(same(typed.row.get(j, dts(j)), SqlTypes.cast(t.values(j), t.nulls(j), dts(j))),
          s"${wire(j).name} in $text")
      }
      assert(pos.decode(line, 0, line.length) && pos.gtid(2) == t.values(2).toLong, text)
    }
  }

  test("reader: a benchmark-shaped replay takes every row with " +
      "cdcSlowPathRows = 0 and reports the bytes it framed as cdcWireBytes") {
    val schema = genColumns.map { case (n, t) =>
      s"""{"name":"$n","type":"string","real_type":"$t","length":-1}"""
    }.mkString("""{"namespace":"MaxScaleChangeDataSchema.avro","type":"record",""" +
      """"name":"ChangeRecord","fields":[""", ",", "]}")
    val lines = genLines(500, 23L)
    val srv = new MockMaxScaleServer(schema, lines.map(new String(_, UTF_8)))
    try {
      val wire = genColumns.map { case (n, t) => CdcField(n, t) }
      val dts = SqlTypes.toStructType(wire, typed = true).fields.map(_.dataType)
      val part = CdcReplayPartition("127.0.0.1", srv.port, "u", "p", "db.t", wire,
        startExclusive = None, endInclusive = s"0-1-${lines.length}", timeoutMs = 2000)
      val r = new CdcReplayReader(part, dts, typed = true)
      try {
        var n = 0
        while (r.next()) n += 1
        assert(n == lines.length)
        val m = r.currentMetricsValues().map(x => x.name() -> x.value()).toMap
        assert(m(CdcMetrics.DecodedRows) == lines.length && m(CdcMetrics.SlowPathRows) == 0, m)
        // the two handshake replies ("OK\n") are framed too
        val wireBytes = 2 * 3 + b(schema).length + 1 + lines.map(_.length + 1).sum
        assert(m(CdcMetrics.WireBytes) == wireBytes, m)
      } finally r.close()
    } finally srv.close()
  }
}
