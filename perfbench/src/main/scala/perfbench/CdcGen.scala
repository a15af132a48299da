package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** Seeded change-event generator for the CDC workloads.
  *
  * Properties and why they were chosen:
  *  - key skew: keys are drawn from a Zipf(1.1) law, so a few hot keys
  *    take most updates (the merge's per-key window sees real fan-in)
  *    while the long tail keeps the state table wide;
  *  - op mix: an absent key is inserted; a live key gets an update
  *    before/after pair (75%) or a delete (25%), so every event type the
  *    server emits appears and deleted keys are re-inserted later;
  *  - row width and types: int, bigint, decimal(12,2), double,
  *    datetime(0/3/6 fraction digits) and two varchars (~250 bytes of
  *    JSON per event), so typed conversion does real work per column;
  *  - nulls: the decimal, double, datetime and note columns are null in
  *    ~8% of rows each;
  *  - escapes: about half the notes carry quotes, backslashes, newlines,
  *    tabs, a control character and \u-escaped non-ASCII text, so the
  *    client's string unescaping is exercised.
  *
  * Besides the wire lines the generator keeps what a correct consumer
  * must end up with: the latest image per key (deletes included) and
  * order-insensitive checksums of every event it produced, both over the
  * typed values (Spark's `xxhash64` over all columns) and over the raw
  * wire strings (null read as "", as in the reference client's raw mode).
  */
final class CdcGen(seed: Long, val keys: Int) {
  import CdcGen._

  private val rnd = new SplittableRandom(seed)
  private val cdf: Array[Double] = {
    val w = Array.tabulate(keys)(i => 1.0 / math.pow(i + 1, 1.1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  /** Key ids are a seeded permutation, so hot keys are not the low ids. */
  private val idOf: Array[Int] = {
    val a = Array.tabulate(keys)(i => i + 1)
    var i = keys - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  private val image = new Array[Image](keys)
  /** Typed row hash of each key's latest surviving image, 0 if absent. */
  private val stateHash = new Array[Long](keys)
  private val alive = new Array[Boolean](keys)

  private var seq = 0L
  /** Sequence number of the last event produced. */
  def lastSequence: Long = seq

  /** Sequence numbers of the update-before images produced. */
  val updateBefore = new java.util.BitSet()

  /** Checksums over every event produced so far. */
  val sent = new Checksum
  val sentRaw = new Checksum

  private def pickKey(): Int = {
    val u = rnd.nextDouble()
    var lo = 0
    var hi = keys - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Key id of the last operation, and its typed row hash after it
    * (0 when it deleted the key). */
  var lastId = 0
  var lastStateHash = 0L

  /** The next operation: one event, or an update's before/after pair. */
  def next(): Array[Array[Byte]] = {
    val lines = nextOp()
    lastStateHash = stateHash(idIndex(lastId))
    lines
  }

  private lazy val idIndex: Array[Int] = {
    val a = new Array[Int](keys + 1)
    var k = 0
    while (k < keys) { a(idOf(k)) = k; k += 1 }
    a
  }

  private def nextOp(): Array[Array[Byte]] = {
    val k = pickKey()
    val id = idOf(k)
    lastId = id
    if (!alive(k)) {
      val img = newImage(id)
      image(k) = img; alive(k) = true
      Array(emit("insert", 1, img, k, keep = true))
    } else if (rnd.nextInt(4) != 0) {
      val before = image(k)
      val after = newImage(id)
      image(k) = after
      Array(emit("update_before", 1, before, k, keep = false),
        emit("update_after", 2, after, k, keep = true))
    } else {
      val img = image(k)
      alive(k) = false
      image(k) = null
      val line = emit("delete", 1, img, k, keep = false)
      stateHash(k) = 0L
      Array(line)
    }
  }

  /** Latest event per key, deletes included: `id -> (sequence, type)`. */
  private val lastEvent = new java.util.HashMap[Integer, (Long, String)]()
  def expectedLatest: java.util.Map[Integer, (Long, String)] = lastEvent

  private def newImage(id: Int): Image = {
    val amount = if (rnd.nextInt(12) == 0) null
      else java.lang.Long.valueOf(rnd.nextLong(-99999999L, 999999999L))
    val score = if (rnd.nextInt(12) == 0) null
      else java.lang.Double.valueOf(rnd.nextDouble() * 20000.0 - 10000.0)
    val ts: java.lang.Long = if (rnd.nextInt(12) == 0) null else {
      val micros = TsBase + rnd.nextLong(TsSpan)
      java.lang.Long.valueOf(rnd.nextInt(3) match {
        case 0 => micros - Math.floorMod(micros, 1000000L)
        case 1 => micros - Math.floorMod(micros, 1000L)
        case _ => micros
      })
    }
    val note = if (rnd.nextInt(12) == 0) null else noteText()
    Image(id, rnd.nextInt(1, 1000), amount, score, rnd.nextLong(),
      ts, s"user_${id}_${Words(rnd.nextInt(Words.length))}", note)
  }

  private def noteText(): String = {
    val sb = new StringBuilder
    val parts = 3 + rnd.nextInt(6)
    var i = 0
    while (i < parts) {
      if (i > 0) sb.append(' ')
      if (rnd.nextBoolean()) sb.append(Words(rnd.nextInt(Words.length)))
      else sb.append(Specials(rnd.nextInt(Specials.length)))
      i += 1
    }
    sb.toString
  }

  private def emit(kind: String, eventNumber: Int, img: Image, k: Int,
      keep: Boolean): Array[Byte] = {
    seq += 1
    if (kind == "update_before") updateBefore.set(seq.toInt)
    val ts = 1700000000 + (seq / 1000).toInt
    val meta = Array[Any](0, 1, seq.toInt, eventNumber, ts, kind)
    // typed hash, column by column, exactly as Spark's xxhash64(*)
    var h = 42L
    h = XXH64.hashInt(0, h)
    h = XXH64.hashInt(1, h)
    h = XXH64.hashInt(seq.toInt, h)
    h = XXH64.hashInt(eventNumber, h)
    h = XXH64.hashInt(ts, h)
    h = hashStr(kind, h)
    h = XXH64.hashInt(img.id, h)
    h = XXH64.hashInt(img.qty, h)
    if (img.amountCents != null) h = XXH64.hashLong(img.amountCents, h)
    if (img.score != null) {
      val d = img.score.doubleValue
      h = XXH64.hashLong(java.lang.Double.doubleToLongBits(if (d == -0.0d) 0.0d else d), h)
    }
    h = XXH64.hashLong(img.big, h)
    if (img.tsMicros != null) h = XXH64.hashLong(img.tsMicros, h)
    h = hashStr(img.name, h)
    if (img.note != null) h = hashStr(img.note, h)
    sent.add(h)

    val amountText = if (img.amountCents == null) null else wireNumber(img.amountCents / 100.0)
    val scoreText = if (img.score == null) null else wireNumber(img.score.doubleValue)
    val tsText = if (img.tsMicros == null) null else datetimeText(img.tsMicros)
    // raw hash over the wire strings in schema order, null as ""
    var r = 42L
    meta.foreach(v => r = hashStr(v.toString, r))
    r = hashStr(img.id.toString, r)
    r = hashStr(img.qty.toString, r)
    r = hashStr(if (amountText == null) "" else amountText, r)
    r = hashStr(if (scoreText == null) "" else scoreText, r)
    r = hashStr(img.big.toString, r)
    r = hashStr(if (tsText == null) "" else tsText, r)
    r = hashStr(img.name, r)
    r = hashStr(if (img.note == null) "" else img.note, r)
    sentRaw.add(r)

    if (keep) stateHash(k) = h
    lastEvent.put(img.id, (seq, kind))

    val sb = new StringBuilder(320)
    sb.append("{\"domain\":0,\"server_id\":1,\"sequence\":").append(seq)
      .append(",\"event_number\":").append(eventNumber)
      .append(",\"timestamp\":").append(ts)
      .append(",\"event_type\":\"").append(kind).append('"')
      .append(",\"id\":").append(img.id)
      .append(",\"qty\":").append(img.qty)
      .append(",\"amount\":").append(if (amountText == null) "null" else amountText)
      .append(",\"score\":").append(if (scoreText == null) "null" else scoreText)
      .append(",\"big\":").append(img.big)
      .append(",\"ts\":")
    if (tsText == null) sb.append("null") else sb.append('"').append(tsText).append('"')
    sb.append(",\"name\":")
    jsonString(sb, img.name)
    sb.append(",\"note\":")
    if (img.note == null) sb.append("null") else jsonString(sb, img.note)
    sb.append('}')
    sb.toString.getBytes(UTF_8)
  }
}

object CdcGen {
  val Table = "bench.orders"
  val User = "perfbench"
  val Password = "perfbench-secret"

  /** Column order of every event; `cdcColumns` lists them for queries. */
  val Columns: Seq[(String, String, Int)] = Seq(
    ("domain", "int", -1), ("server_id", "int", -1), ("sequence", "int", -1),
    ("event_number", "int", -1), ("timestamp", "int", -1),
    ("event_type", "varchar", 32), ("id", "int", -1), ("qty", "int", -1),
    ("amount", "decimal(12,2)", -1), ("score", "double", -1),
    ("big", "bigint", -1), ("ts", "datetime(6)", -1),
    ("name", "varchar", 64), ("note", "varchar", 255))

  val SchemaLine: String = Columns.map { case (n, t, len) =>
    val avro = t match {
      case "int" => "int"
      case "bigint" => "long"
      case "double" | "decimal(12,2)" => "double"
      case _ => "string"
    }
    s"""{"name":"$n","type":"$avro","real_type":"$t","length":$len}"""
  }.mkString(
    """{"namespace":"MaxScaleChangeDataSchema.avro","type":"record","name":"ChangeRecord","fields":[""",
    ",", "]}")

  final case class Image(id: Int, qty: Int, amountCents: java.lang.Long,
      score: java.lang.Double, big: Long, tsMicros: java.lang.Long,
      name: String, note: String)

  /** Order-insensitive multiset checksum: count plus the sums of the low
    * and high 32-bit halves of each element's 64-bit hash. */
  final class Checksum {
    var count = 0L
    var lo = 0L
    var hi = 0L
    def add(h: Long): Unit = { count += 1; lo += h & 0xffffffffL; hi += h >>> 32 }
    def same(o: Checksum): Boolean = count == o.count && lo == o.lo && hi == o.hi
    override def toString: String = s"n=$count lo=$lo hi=$hi"
  }

  private val TsBase = LocalDateTime.of(2020, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC) * 1000000L
  private val TsSpan = 5L * 365 * 86400 * 1000000L

  private val Words = Array("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima", "mike",
    "november", "oscar", "papa", "quebec", "romeo", "sierra", "tango")
  private val Specials = Array("say \"hi\"", "C:\\path\\to", "line1\nline2",
    "col\tcol", "caf\u00e9", "\u4e2d\u6587", "smile \ud83d\ude00", "bell\u0001",
    "{\"nested\": [1, 2]}", "back\\\"slash")

  def hashStr(s: String, seed: Long): Long = {
    val b = s.getBytes(UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, seed)
  }

  /** JSON number text the client turns back into the same string: an
    * integral value prints without a fraction, as the client does. */
  def wireNumber(d: Double): String =
    if (d == d.toLong.toDouble && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  private val Fmt0 = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  def datetimeText(micros: Long): String = {
    val secs = Math.floorDiv(micros, 1000000L)
    val frac = Math.floorMod(micros, 1000000L)
    val base = LocalDateTime.ofEpochSecond(secs, 0, ZoneOffset.UTC).format(Fmt0)
    if (frac == 0) base
    else if (frac % 1000 == 0) f"$base.${frac / 1000}%03d"
    else f"$base.$frac%06d"
  }

  /** JSON string with escapes for quotes, backslashes, control characters
    * and every non-ASCII UTF-16 unit. */
  def jsonString(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\t' => sb.append("\\t")
        case '\r' => sb.append("\\r")
        case _ if c < ' ' || c > '~' => sb.append(f"\\u${c.toInt}%04x")
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }
}
