package graft.sources.cdc

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The byte-level scan of one flat JSON row, compiled per wire schema
  * version: every CDC reader's decode of a data row starts here, straight
  * from [[CdcClient]]'s socket buffer.
  *
  * Pass 1 ([[scan]]) walks the row's bytes once, checks the JSON grammar
  * as it goes, and records per wire column where its value lies and what
  * kind of token it is; integers are parsed to longs on the way. Keys are
  * matched against the schema's name bytes in order, and by name when a
  * key arrives out of order. Whitespace between tokens, raw control
  * characters and NULs inside strings (JSON_ALLOW_NUL parity), escapes
  * and strictly valid raw UTF-8 are accepted.
  *
  * Pass 2 materialises only what a consumer reads, through the accessors
  * below: [[text]] is exactly [[CdcClient.scalarToString]]'s text of the
  * same value, [[utf8]] exactly `UTF8String.fromString` of it, [[real]]
  * the double Jackson's tree reads. [[CdcRowDecoder]] builds the replay
  * reader's typed rows and the tailer's positions on top of them, and
  * [[strings]] the string-mode row.
  *
  * Exactness is by construction: a row the scan cannot reproduce bit for
  * bit is declined ([[scan]] returns false) and decoded by the tree path
  * of record (`Json.readTree`), unchanged. Declined are nested values,
  * integers beyond Long, malformed JSON, a missing schema key, invalid
  * or unusual UTF-8 (overlong forms, encoded surrogates), bytes after
  * the closing brace, and anything near Jackson's stream read limits.
  */
private[sources] final class CdcLineScanner(val wire: Seq[CdcField]) {
  import CdcLineScanner._

  private val n = wire.length
  /** UTF-8 bytes of each name, or null when a key spelling those bytes
    * could mean another text: the name does not survive a UTF-8 round
    * trip, or holds a quote or a backslash (its JSON key is escaped).
    * Such a name is matched by its decoded text only. */
  private val nameBytes: Array[Array[Byte]] = wire.map { f =>
    val b = f.name.getBytes(UTF_8)
    if (new String(b, UTF_8) == f.name && !b.contains('"'.toByte) &&
        !b.contains('\\'.toByte) && b.length <= MaxName) b else null
  }.toArray
  /** Each [[nameBytes]] followed by the closing quote, as native-order
    * words, zero padded, and the mask of its last word's real bytes. */
  private val keyWords: Array[Array[Long]] = nameBytes.map { nb =>
    if (nb == null) null
    else {
      val k = (nb.length + 1 + 7) / 8
      val pad = java.util.Arrays.copyOf(nb :+ '"'.toByte, k * 8)
      Array.tabulate(k)(j => word(pad, 8 * j))
    }
  }
  private val keyMasks: Array[Long] = nameBytes.map { nb =>
    if (nb == null) 0L
    else {
      val r = nb.length % 8 + 1 // the quote included
      word(Array.tabulate[Byte](8)(j => if (j < r) -1 else 0), 0)
    }
  }
  private val keyIndex = new java.util.HashMap[String, Integer]()
  wire.zipWithIndex.foreach { case (f, i) => keyIndex.put(f.name, i) }
  /** A schema that repeats a name gives both slots the key's last value
    * on the tree path; the scan fills one slot per key, so it declines
    * every row of such a schema. */
  private val distinctNames = keyIndex.size == n

  /** The buffer of the last scanned row; valid until the next read. */
  private var buf: Array[Byte] = _
  /** Per wire column: where its value starts (after the opening quote
    * for a string), its length, its token kind, and its value when the
    * kind is [[KInt]]. */
  private val start = new Array[Int](n)
  private val length = new Array[Int](n)
  private val kinds = new Array[Int](n)
  private val longs = new Array[Long](n)
  /** Row stamp per wire column: which keys this row has set. */
  private val seenAt = new Array[Int](n)
  private var stamp = 0
  /** Flags of the string [[str]] last scanned ([[Esc]], [[NonAscii]]). */
  private var strFlags = 0
  /** Value of the number [[num]] last scanned, when it is an integer. */
  private var numLong = 0L
  /** Whether the number [[num]] last scanned has a fraction or exponent. */
  private var numIsReal = false

  /** Pass 1 over `b(off until off + len)`: true when the row is taken. */
  def scan(b: Array[Byte], off: Int, len: Int): Boolean = {
    if (!distinctNames) return false
    val end = off + len
    buf = b
    stamp += 1
    var filled = 0
    var expect = 0 // keys usually arrive in schema order
    var i = ws(b, off, end)
    if (i >= end || b(i) != '{') return false
    i = ws(b, i + 1, end)
    if (i < end && b(i) == '}') return n == 0 && ws(b, i + 1, end) == end
    while (true) {
      if (i >= end || b(i) != '"') return false
      val ks = i + 1
      var ke = -1
      var w = -1
      // the key of the column due next, spelled exactly as its name
      if (expect < n && nameBytes(expect) != null && nameAt(b, ks, end, expect)) {
        w = expect
        ke = ks + nameBytes(expect).length
      } else {
        ke = str(b, ks, end)
        if (ke < 0 || ke - ks > MaxName) return false
        val k = keyIndex.get(decode(b, ks, ke, strFlags))
        if (k != null) w = k.intValue
      }
      i = ws(b, ke + 1, end)
      if (i >= end || b(i) != ':') return false
      i = ws(b, i + 1, end)
      if (i >= end) return false
      val c = b(i)
      var vs = i
      var ve = 0
      var k = 0
      if (c == '"') {
        vs = i + 1
        ve = str(b, vs, end)
        if (ve < 0 || ve - vs > MaxString) return false
        k = if ((strFlags & Esc) != 0) KEsc else if ((strFlags & NonAscii) != 0) KUtf8 else KAscii
        i = ve + 1
      } else if (c == '-' || (c >= '0' && c <= '9')) {
        ve = num(b, i, end)
        if (ve < 0) return false
        k = if (numIsReal) KReal else KInt
        i = ve
      } else if (c == 't') { if (!lit(b, i, end, True)) return false; k = KTrue; ve = i + 4; i = ve }
      else if (c == 'f') { if (!lit(b, i, end, False)) return false; k = KFalse; ve = i + 5; i = ve }
      else if (c == 'n') { if (!lit(b, i, end, Null)) return false; k = KNull; ve = i + 4; i = ve }
      else return false // nested values and anything that is no JSON value
      if (w >= 0) {
        start(w) = vs; length(w) = ve - vs; kinds(w) = k
        if (k == KInt) longs(w) = numLong
        if (seenAt(w) != stamp) { seenAt(w) = stamp; filled += 1 }
        expect = w + 1
      }
      i = ws(b, i, end)
      if (i >= end) return false
      if (b(i) == '}') return filled == n && ws(b, i + 1, end) == end
      if (b(i) != ',') return false
      i = ws(b, i + 1, end)
    }
    false // unreachable
  }

  /** Whether `b` holds name `w` and its closing quote at `ks`, compared a
    * word at a time. */
  private def nameAt(b: Array[Byte], ks: Int, end: Int, w: Int): Boolean = {
    val nb = nameBytes(w)
    if (ks + nb.length >= end) return false
    val kw = keyWords(w)
    if (ks + 8 * kw.length > b.length)
      return b(ks + nb.length) == '"' && java.util.Arrays.equals(b, ks, ks + nb.length, nb, 0, nb.length)
    var k = 0
    val last = kw.length - 1
    while (k < last) {
      if (word(b, ks + 8 * k) != kw(k)) return false
      k += 1
    }
    (word(b, ks + 8 * last) & keyMasks(w)) == kw(last)
  }

  private def str(b: Array[Byte], i: Int, end: Int): Int = strScan(this, b, i, end)

  /** Scans the number at `i`: the index after it, or -1 when it is not
    * a number Jackson reads (leading zeros, a bare '-', '.', 'e', ...)
    * or is an integer beyond Long. Sets [[numLong]] and [[numIsReal]]. */
  private def num(b: Array[Byte], i0: Int, end: Int): Int = {
    var i = i0
    val neg = b(i) == '-'
    if (neg) i += 1
    if (i >= end) return -1
    val ds = i
    var v = 0L // the digits' value while there are at most 18
    if (b(i) == '0') i += 1
    else if (b(i) >= '1' && b(i) <= '9')
      while (i < end && isDigit(b(i))) { v = v * 10 + (b(i) - '0'); i += 1 }
    else return -1
    if (i < end && isDigit(b(i))) return -1 // a leading zero
    val de = i
    var real = false
    if (i < end && b(i) == '.') {
      i += 1
      val fs = i
      while (i < end && isDigit(b(i))) i += 1
      if (i == fs) return -1
      real = true
    }
    if (i < end && (b(i) == 'e' || b(i) == 'E')) {
      i += 1
      if (i < end && (b(i) == '+' || b(i) == '-')) i += 1
      val es = i
      while (i < end && isDigit(b(i))) i += 1
      if (i == es) return -1
      real = true
    }
    if (i - i0 > MaxNumber) return -1
    numIsReal = real
    if (!real) {
      val digits = de - ds
      if (digits > 19) return -1
      if (digits == 19) { // the one length that may pass Long
        var h = 0L
        var j = ds
        while (j < de - 1) { h = h * 10 + (b(j) - '0'); j += 1 }
        val d = b(j) - '0'
        if (h > Long.MaxValue / 10 || (h == Long.MaxValue / 10 && d > (if (neg) 8 else 7)))
          return -1
        numLong = if (neg) -(h * 10) - d else h * 10 + d
      } else numLong = if (neg) -v else v
    }
    i
  }

  // ------------------------------------------------------------ pass 2

  /** Token kind of wire column `w` in the last scanned row. */
  def kind(w: Int): Int = kinds(w)
  /** Value of wire column `w` when its kind is [[KInt]]. */
  def long(w: Int): Long = longs(w)

  /** Whether wire column `w` is a string without escapes: its bytes in
    * the buffer are then exactly the UTF-8 of its text. */
  def plain(w: Int): Boolean = kinds(w) == KAscii || kinds(w) == KUtf8
  def buffer: Array[Byte] = buf
  def offset(w: Int): Int = start(w)
  def size(w: Int): Int = length(w)

  /** [[CdcClient.scalarToString]] of wire column `w`, null for JSON null. */
  def text(w: Int): String = kinds(w) match {
    case KAscii => new String(buf, start(w), length(w), ISO_8859_1)
    case KUtf8 => new String(buf, start(w), length(w), UTF_8)
    case KEsc => decode(buf, start(w), start(w) + length(w), Esc | NonAscii)
    case KInt => java.lang.Long.toString(longs(w))
    case KReal => CdcClient.doubleText(real(w))
    case KTrue => "true"
    case KFalse => "false"
    case _ => null
  }

  /** `text(w).getBytes(UTF_8)` (never null: JSON null gives no bytes). */
  def bytes(w: Int): Array[Byte] = kinds(w) match {
    case KAscii | KUtf8 =>
      java.util.Arrays.copyOfRange(buf, start(w), start(w) + length(w))
    case KEsc => unescape(w)
    case KNull => Array.emptyByteArray
    case _ => text(w).getBytes(UTF_8)
  }

  /** `UTF8String.fromString(text(w))`; JSON null reads as "". */
  def utf8(w: Int): UTF8String = kinds(w) match {
    case KInt | KReal | KTrue | KFalse => UTF8String.fromString(text(w))
    case KNull => UTF8String.EMPTY_UTF8
    case _ => UTF8String.fromBytes(bytes(w))
  }

  /** The double Jackson reads for the number in wire column `w` (kind
    * [[KInt]] or [[KReal]]): correctly rounded, like `Double.parseDouble`
    * of its text, which decides every case the two exact fast paths
    * below leave open. */
  def real(w: Int): Double = {
    if (kinds(w) == KInt) return longs(w).toDouble
    val b = buf
    val s = start(w)
    val end = s + length(w)
    var i = s
    val neg = b(i) == '-'
    if (neg) i += 1
    // the significand's digits as an unsigned long while there are at
    // most 19 significant ones, and the decimal exponent
    var m = 0L
    var sig = 0
    var exp = 0
    while (i < end && isDigit(b(i))) {
      m = m * 10 + (b(i) - '0'); if (m != 0) sig += 1
      i += 1
    }
    if (i < end && b(i) == '.') {
      i += 1
      while (i < end && isDigit(b(i))) {
        m = m * 10 + (b(i) - '0'); if (m != 0) sig += 1
        exp -= 1
        i += 1
      }
    }
    var exact = sig <= 19
    if (i < end) { // the exponent
      i += 1
      val eneg = b(i) == '-'
      if (b(i) == '-' || b(i) == '+') i += 1
      if (end - i > 4) exact = false
      else {
        var e = 0
        while (i < end) { e = e * 10 + (b(i) - '0'); i += 1 }
        exp += (if (eneg) -e else e)
      }
    }
    if (exact && m == 0) return if (neg) -0.0 else 0.0
    if (exact && sig <= 15 && exp >= -22 && exp <= 22) {
      // one correctly rounded operation on exact operands
      val d = if (exp >= 0) m.toDouble * Pow10D(exp) else m.toDouble / Pow10D(-exp)
      return if (neg) -d else d
    }
    val d = if (exact) eiselLemire(m, exp, neg) else Double.NaN
    if (!d.isNaN) d
    else java.lang.Double.parseDouble(new String(b, s, length(w), ISO_8859_1))
  }

  /** The string-mode row: [[text]] of every wire column, JSON null as ""
    * with its flag set, as the tree path's row decode gives it. */
  def strings(): CdcRowMsg = {
    val values = new Array[String](n)
    val nulls = new Array[Boolean](n)
    var w = 0
    while (w < n) {
      if (kinds(w) == KNull) { values(w) = ""; nulls(w) = true }
      else values(w) = text(w)
      w += 1
    }
    CdcRowMsg(values, nulls)
  }

  /** The UTF-8 of an escaped string's text, `getBytes` style: a lone
    * surrogate encodes as '?'. */
  private def unescape(w: Int): Array[Byte] = {
    val b = buf
    val end = start(w) + length(w)
    val out = new Array[Byte](length(w))
    var o = 0
    var i = start(w)
    while (i < end) {
      val c = b(i)
      if (c != '\\') { out(o) = c; o += 1; i += 1 }
      else if (b(i + 1) != 'u') { out(o) = simpleEscape(b(i + 1)).toByte; o += 1; i += 2 }
      else {
        var cp = hex4(b, i + 2)
        i += 6
        if (Character.isHighSurrogate(cp.toChar) && i + 5 < end && b(i) == '\\' &&
            b(i + 1) == 'u' && Character.isLowSurrogate(hex4(b, i + 2).toChar)) {
          cp = Character.toCodePoint(cp.toChar, hex4(b, i + 2).toChar)
          i += 6
        } else if (Character.isSurrogate(cp.toChar)) cp = '?'
        if (cp < 0x80) { out(o) = cp.toByte; o += 1 }
        else if (cp < 0x800) {
          out(o) = (0xC0 | (cp >> 6)).toByte
          out(o + 1) = (0x80 | (cp & 0x3F)).toByte
          o += 2
        } else if (cp < 0x10000) {
          out(o) = (0xE0 | (cp >> 12)).toByte
          out(o + 1) = (0x80 | ((cp >> 6) & 0x3F)).toByte
          out(o + 2) = (0x80 | (cp & 0x3F)).toByte
          o += 3
        } else {
          out(o) = (0xF0 | (cp >> 18)).toByte
          out(o + 1) = (0x80 | ((cp >> 12) & 0x3F)).toByte
          out(o + 2) = (0x80 | ((cp >> 6) & 0x3F)).toByte
          out(o + 3) = (0x80 | (cp & 0x3F)).toByte
          o += 4
        }
      }
    }
    if (o == out.length) out else java.util.Arrays.copyOf(out, o)
  }
}

private[sources] object CdcLineScanner {
  /** Token kinds of a scanned value. */
  final val KAscii = 0 // a string without escapes, all ASCII
  final val KUtf8 = 1 // a string without escapes, with valid non-ASCII UTF-8
  final val KEsc = 2 // a string with escapes
  final val KInt = 3 // an integer within Long
  final val KReal = 4 // a number with a fraction or an exponent
  final val KTrue = 5
  final val KFalse = 6
  final val KNull = 7

  private final val Esc = 1
  private final val NonAscii = 2

  /** Stay clear of Jackson's default stream read limits (number text
    * 1000 chars, names 50 000, strings 20 M): the scan declines well
    * inside them, so a row the tree path would reject is never taken. */
  private final val MaxNumber = 500
  private final val MaxName = 40000
  private final val MaxString = 16000000

  private val True = "true".getBytes(ISO_8859_1)
  private val False = "false".getBytes(ISO_8859_1)
  private val Null = "null".getBytes(ISO_8859_1)

  private val Pow10D: Array[Double] = Array.iterate(1.0, 23)(_ * 10)

  private final val MinExp10 = -348
  private final val MaxExp10 = 347
  /** 10^q for q in [MinExp10, MaxExp10] as a 128-bit significand with
    * its top bit set, rounded down: the high and the low word. */
  private val (pow10Hi, pow10Lo) = {
    import java.math.BigInteger
    val hi = new Array[Long](MaxExp10 - MinExp10 + 1)
    val lo = new Array[Long](hi.length)
    (MinExp10 to MaxExp10).foreach { q =>
      val v =
        if (q >= 0) {
          val p = BigInteger.TEN.pow(q)
          if (p.bitLength > 128) p.shiftRight(p.bitLength - 128) else p.shiftLeft(128 - p.bitLength)
        } else {
          val p = BigInteger.TEN.pow(-q)
          BigInteger.ONE.shiftLeft(127 + p.bitLength).divide(p)
        }
      hi(q - MinExp10) = v.shiftRight(64).longValue
      lo(q - MinExp10) = v.longValue
    }
    (hi, lo)
  }

  /** The high word of the unsigned 128-bit product. */
  @inline private def mulHi(a: Long, b: Long): Long =
    Math.multiplyHigh(a, b) + ((a >> 63) & b) + ((b >> 63) & a)

  @inline private def ult(a: Long, b: Long): Boolean = (a + Long.MinValue) < (b + Long.MinValue)

  /** `man * 10^exp10` correctly rounded (Eisel and Lemire's algorithm,
    * as in Go's strconv), `man` a non-zero unsigned significand; NaN
    * when the 128-bit product cannot decide the rounding or the result
    * is subnormal or infinite (the caller then parses the text). */
  private def eiselLemire(man0: Long, exp10: Int, neg: Boolean): Double = {
    if (exp10 < MinExp10 || exp10 > MaxExp10) return Double.NaN
    val clz = java.lang.Long.numberOfLeadingZeros(man0)
    val man = man0 << clz
    var retExp2 = ((217706L * exp10) >> 16) + 64 + 1023 - clz
    val k = exp10 - MinExp10
    var xHi = mulHi(man, pow10Hi(k))
    var xLo = man * pow10Hi(k)
    if ((xHi & 0x1FF) == 0x1FF && ult(xLo + man, man)) {
      val yHi = mulHi(man, pow10Lo(k))
      val yLo = man * pow10Lo(k)
      var mergedHi = xHi
      val mergedLo = xLo + yHi
      if (ult(mergedLo, xLo)) mergedHi += 1
      if ((mergedHi & 0x1FF) == 0x1FF && mergedLo + 1 == 0 && ult(yLo + man, man))
        return Double.NaN
      xHi = mergedHi
      xLo = mergedLo
    }
    val msb = xHi >>> 63
    var mant = xHi >>> (msb + 9).toInt
    retExp2 -= 1 ^ msb
    if (xLo == 0 && (xHi & 0x1FF) == 0 && (mant & 3) == 1) return Double.NaN // half way
    mant += mant & 1
    mant >>>= 1
    if ((mant >>> 53) > 0) { mant >>>= 1; retExp2 += 1 }
    if (retExp2 <= 0 || retExp2 >= 0x7FF) return Double.NaN
    java.lang.Double.longBitsToDouble((retExp2 << 52) | (mant & 0x000FFFFFFFFFFFFFL) |
      (if (neg) Long.MinValue else 0L))
  }

  @inline private def isDigit(c: Byte): Boolean = c >= '0' && c <= '9'

  /** The first index at or after `i` that is not JSON whitespace. */
  @inline private def ws(b: Array[Byte], i0: Int, end: Int): Int = {
    var i = i0
    while (i < end && (b(i) == ' ' || b(i) == '\t' || b(i) == '\r')) i += 1
    i
  }

  private def lit(b: Array[Byte], i: Int, end: Int, word: Array[Byte]): Boolean = {
    if (end - i < word.length) return false
    var j = 0
    while (j < word.length && b(i + j) == word(j)) j += 1
    j == word.length
  }

  private def hexDigit(c: Byte): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  /** The four hex digits at `i` as a char code (they are checked). */
  private def hex4(b: Array[Byte], i: Int): Int =
    (hexDigit(b(i)) << 12) | (hexDigit(b(i + 1)) << 8) |
      (hexDigit(b(i + 2)) << 4) | hexDigit(b(i + 3))

  /** The char of a one-letter escape (`\n`, `\"`, ...). */
  private def simpleEscape(c: Byte): Char = c match {
    case 'b' => '\b'
    case 'f' => '\f'
    case 'n' => '\n'
    case 'r' => '\r'
    case 't' => '\t'
    case x => x.toChar // '"', '\\', '/'
  }

  /** The length of the strictly valid UTF-8 sequence at `i` (its lead
    * byte is non-ASCII), or -1: no overlong forms, no encoded
    * surrogates, nothing past U+10FFFF, no truncation. */
  private def utf8Len(b: Array[Byte], i: Int, end: Int): Int = {
    val c = b(i) & 0xFF
    @inline def cont(j: Int, lo: Int, hi: Int): Boolean =
      j < end && { val x = b(j) & 0xFF; x >= lo && x <= hi }
    if (c >= 0xC2 && c <= 0xDF) { if (cont(i + 1, 0x80, 0xBF)) 2 else -1 }
    else if (c >= 0xE0 && c <= 0xEF) {
      val lo = if (c == 0xE0) 0xA0 else 0x80
      val hi = if (c == 0xED) 0x9F else 0xBF
      if (cont(i + 1, lo, hi) && cont(i + 2, 0x80, 0xBF)) 3 else -1
    } else if (c >= 0xF0 && c <= 0xF4) {
      val lo = if (c == 0xF0) 0x90 else 0x80
      val hi = if (c == 0xF4) 0x8F else 0xBF
      if (cont(i + 1, lo, hi) && cont(i + 2, 0x80, 0xBF) && cont(i + 3, 0x80, 0xBF)) 4
      else -1
    } else -1
  }

  private final val Lows = 0x7F7F7F7F7F7F7F7FL
  private final val Quotes = 0x2222222222222222L
  private final val Backslashes = 0x5C5C5C5C5C5C5C5CL
  private final val Newlines = 0x0A0A0A0A0A0A0A0AL

  private val LittleEndian =
    java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.LITTLE_ENDIAN

  @inline private def word(b: Array[Byte], i: Int): Long =
    Platform.getLong(b, Platform.BYTE_ARRAY_OFFSET + i)

  /** The high bit of each byte of `y` that is zero, and no other bit:
    * there is no borrow between bytes, so no false match. */
  @inline private def zeros(y: Long): Long = ~(((y & Lows) + Lows) | y | Lows)

  /** The index, in memory order, of the first byte of a word whose high
    * bit `flags` sets; 8 when it sets none. */
  @inline private def first(flags: Long): Int =
    (if (LittleEndian) java.lang.Long.numberOfTrailingZeros(flags)
    else java.lang.Long.numberOfLeadingZeros(flags)) >>> 3

  /** The number of plain bytes (no quote, no backslash, ASCII) the eight
    * bytes at `i` start with, 8 when all are. */
  @inline private def plainRun(b: Array[Byte], i: Int): Int = {
    val x = word(b, i)
    first(zeros(x ^ Quotes) | zeros(x ^ Backslashes) | (x & ~Lows))
  }

  /** The index of the first '\n' in `b(from until end)`, or `end`: eight
    * bytes at a time, then byte by byte for the tail. */
  private[cdc] def newline(b: Array[Byte], from: Int, end: Int): Int = {
    var i = from
    while (i + 8 <= end) {
      val z = zeros(word(b, i) ^ Newlines)
      if (z != 0) return i + first(z)
      i += 8
    }
    while (i < end && b(i) != '\n') i += 1
    i
  }

  /** Scans the string whose content starts at `i` (after its opening
    * quote): the index of its closing quote, or -1 when it is unclosed
    * or holds an invalid escape or invalid UTF-8. Raw control bytes and
    * NULs are accepted. Sets the scanner's string flags. */
  private def strScan(sc: CdcLineScanner, b: Array[Byte], i0: Int, end: Int): Int = {
    var i = i0
    var flags = 0
    while (i < end) {
      if (i + 8 <= end) i += plainRun(b, i)
      if (i < end) {
        val c = b(i)
        if (c == '"') { sc.strFlags = flags; return i }
        else if (c >= 0 && c != '\\') i += 1
        else if (c == '\\') {
          flags |= Esc
          if (i + 1 >= end) return -1
          b(i + 1) match {
            case '"' | '\\' | '/' | 'b' | 'f' | 'n' | 'r' | 't' => i += 2
            case 'u' =>
              if (i + 5 >= end || hexDigit(b(i + 2)) < 0 || hexDigit(b(i + 3)) < 0 ||
                  hexDigit(b(i + 4)) < 0 || hexDigit(b(i + 5)) < 0) return -1
              i += 6
            case _ => return -1
          }
        } else {
          flags |= NonAscii
          val k = utf8Len(b, i, end)
          if (k < 0) return -1
          i += k
        }
      }
    }
    -1
  }

  /** The text of the scanned string `b(s until e)` with `flags`, exactly
    * as Jackson reads it (a lone surrogate escape stays a lone char). */
  private def decode(b: Array[Byte], s: Int, e: Int, flags: Int): String =
    if ((flags & Esc) == 0) new String(b, s, e - s, if ((flags & NonAscii) == 0) ISO_8859_1 else UTF_8)
    else {
      val out = new Array[Char](e - s)
      var o = 0
      var i = s
      while (i < e) {
        val c = b(i)
        if (c == '\\') {
          if (b(i + 1) == 'u') { out(o) = hex4(b, i + 2).toChar; i += 6 }
          else { out(o) = simpleEscape(b(i + 1)); i += 2 }
          o += 1
        } else if (c >= 0) { out(o) = c.toChar; o += 1; i += 1 }
        else {
          val k = utf8Len(b, i, e)
          val cp = k match {
            case 2 => ((c & 0x1F) << 6) | (b(i + 1) & 0x3F)
            case 3 => ((c & 0x0F) << 12) | ((b(i + 1) & 0x3F) << 6) | (b(i + 2) & 0x3F)
            case _ => ((c & 0x07) << 18) | ((b(i + 1) & 0x3F) << 12) |
              ((b(i + 2) & 0x3F) << 6) | (b(i + 3) & 0x3F)
          }
          o += Character.toChars(cp, out, o)
          i += k
        }
      }
      new String(out, 0, o)
    }
}
