package graft.sources.cdc

import java.io.{IOException, InputStream, OutputStream}
import java.net.{InetSocketAddress, Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.collection.mutable.ArrayBuffer

/** Error raised for protocol-level failures (auth rejected, `ERR` replies,
  * malformed JSON, missing row keys). Mirrors the reference's `m_error`
  * string channel (cdc_connector.h:103-106) — except we throw, the
  * documented improvement over silent empty-row returns.
  */
final class CdcProtocolException(msg: String) extends IOException(msg)

/** One decoded message off the wire. */
sealed trait CdcMessage
/** In-band schema push (reference `is_schema`/`process_schema`,
  * cdc_connector.cpp:237-286). `fields` carry the resolved SQL type string
  * (real_type preferred, Avro type fallback, length suffix applied). */
final case class CdcSchemaMsg(fields: Seq[CdcField], rawJson: String) extends CdcMessage
/** One change-event row decoded against the current schema
  * (reference `process_row`, cdc_connector.cpp:288-319). `values(i)` is the
  * stringified scalar for schema key i; `nulls(i)` marks JSON null — kept
  * distinct so typed mode can emit SQL NULL while raw mode reproduces the
  * reference's null→"" conflation (cdc_connector.cpp:106-107).
  *
  * `missingKey` records the first schema key absent from the row's JSON
  * (null when complete), and `missingIdx` the schema positions of EVERY
  * absent key — an explicit absence record, because the decoded arrays
  * mark an absent slot exactly like a genuine JSON-null value
  * (`nulls(i) && values(i).isEmpty`) and consumers probing specific
  * slots (the GTID trio) must not confuse the two. The reference errors
  * on the missing key when it DELIVERS the row to its caller; decode
  * here is one layer earlier, and deferring the error to delivery
  * ([[CdcRowMsg.requireComplete]]) lets rows that are discarded anyway —
  * the server's inclusive replay of an already-committed position, whose
  * JSON may predate a column-add DDL — pass through the dedupe without
  * killing a resumed stream. Every path that emits a row downstream
  * calls requireComplete first, so delivered rows keep the reference's
  * exact error behavior (A10). */
final case class CdcRowMsg(values: Array[String], nulls: Array[Boolean],
    missingKey: String = null, missingIdx: Array[Int] = null) extends CdcMessage {
  /** Raise the reference's A10 missing-key error (at delivery time). */
  def requireComplete(): Unit =
    if (missingKey != null)
      throw new CdcProtocolException(s"No value for key found: $missingKey")
  /** Whether schema slot `i` was ABSENT from the row's JSON (as opposed
    * to present with a JSON-null value). */
  def slotMissing(i: Int): Boolean = {
    if (missingIdx == null) return false
    var k = 0
    while (k < missingIdx.length) {
      if (missingIdx(k) == i) return true
      k += 1
    }
    false
  }
}
/** Poll timeout with no buffered payload — end of micro-batch, not failure
  * (reference cdc_connector.cpp:487-491). */
case object CdcTimeout extends CdcMessage
/** Orderly remote close. */
case object CdcClosed extends CdcMessage

final case class CdcField(name: String, sqlType: String)

object CdcField {
  /** The wire fields behind a Spark schema: each field's declared SQL
    * type rides in its `cdc.sqlType` metadata (schema inference puts it
    * there); a field without it falls back to its Spark type name. */
  def fromSchema(schema: org.apache.spark.sql.types.StructType): Seq[CdcField] =
    schema.fields.toSeq.map { f =>
      val t = if (f.metadata.contains("cdc.sqlType"))
        f.metadata.getString("cdc.sqlType") else f.dataType.simpleString
      CdcField(f.name, t)
    }
}

object CdcClient {
  /** Connector identity sent at registration. Plays the role of the
    * reference's `CDC_CONNECTOR_VERSION` UUID (cdc_connector.cpp:37,45)
    * with this engine's own name. */
  val ConnectorUuid = "GRAFT-CDC-CONNECTOR-1.0.0"

  private val HexDigits = "0123456789abcdef"

  /** Lowercase hex, reference `bin2hex` (cdc_connector.cpp:51-63). */
  def hex(bytes: Array[Byte]): String = {
    val sb = new StringBuilder(bytes.length * 2)
    bytes.foreach { b =>
      sb.append(HexDigits((b >> 4) & 0xf)).append(HexDigits(b & 0xf))
    }
    sb.toString
  }

  /** Auth payload: hex(user + ":") concatenated with hex(SHA1(password)),
    * all lowercase (reference `generateAuthString`, cdc_connector.cpp:65-77).
    */
  def authMessage(user: String, password: String): String = {
    val sha1 = MessageDigest.getInstance("SHA-1").digest(password.getBytes(UTF_8))
    hex((user + ":").getBytes(UTF_8)) + hex(sha1)
  }

  /** A message is a schema iff it has a non-empty `fields` array whose
    * first element carries a `name` (reference `is_schema`,
    * cdc_connector.cpp:237-248). */
  def isSchema(node: JsonNode): Boolean = {
    val f = node.get("fields")
    f != null && f.isArray && f.size() > 0 && f.get(0).has("name")
  }

  /** Field extraction per reference `process_schema`
    * (cdc_connector.cpp:250-286): prefer `real_type` (original SQL type)
    * over the Avro `type` (generated-column fallback); a non-textual type
    * value degrades to varchar(50); missing type → "undefined"; a positive
    * `length` is appended as "(N)". */
  def parseSchemaFields(node: JsonNode): Seq[CdcField] = {
    val out = ArrayBuffer.empty[CdcField]
    val it = node.get("fields").elements()
    while (it.hasNext) {
      val f = it.next()
      val name = f.get("name").asText()
      val typeNode = if (f.has("real_type")) f.get("real_type") else f.get("type")
      var tpe =
        if (typeNode == null) "undefined"
        else if (typeNode.isTextual) typeNode.asText()
        else "varchar(50)"
      val lenNode = f.get("length")
      if (lenNode != null && lenNode.isIntegralNumber && lenNode.asLong() > 0)
        tpe = s"$tpe(${lenNode.asLong()})"
      out += CdcField(name, tpe)
    }
    out.toSeq
  }

  /** JSON scalar → string, reference `json_to_string`
    * (cdc_connector.cpp:80-115). Divergence, documented: reals use Java's
    * shortest round-trip representation instead of C++ stringstream's
    * 6-significant-digit truncation — lossless beats faithful-lossy here.
    * Returns null for JSON null (caller decides ""-vs-NULL per mode);
    * arrays/objects degrade to "" like the reference's default branch. */
  def scalarToString(v: JsonNode): String =
    if (v.isTextual) v.asText()
    else if (v.isIntegralNumber) {
      // integers beyond Long (bigint unsigned above 2^63-1) exactly
      if (v.canConvertToLong) v.asLong().toString else v.bigIntegerValue.toString
    }
    else if (v.isFloatingPointNumber) doubleText(v.asDouble())
    else if (v.isBoolean) { if (v.asBoolean()) "true" else "false" }
    else if (v.isNull) null
    else ""

  /** Wire text of a JSON real: integral values below 1e15 print without
    * a fraction, everything else as `Double.toString`. */
  def doubleText(d: Double): String =
    if (d == d.toLong.toDouble && math.abs(d) < 1e15) d.toLong.toString else d.toString

  /** JSON_ALLOW_NUL parity (reference cdc_connector.cpp:335): the server
    * may embed raw control chars / NULs inside string values. Shared by
    * every client (a configured mapper is thread-safe). */
  private[sources] val Json = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .enable(com.fasterxml.jackson.core.json.JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .build()
}

/** Blocking MaxScale-CDC wire client: the Spark-side twin of the
  * reference's `CDC::Connection` (cdc_connector.h:40-153). One instance ==
  * one TCP session; not thread-safe (the reference is single-threaded too,
  * SURVEY.md §3.2).
  *
  * Lifecycle: `connect()` (TCP + auth + register, reference
  * cdc_connector.cpp:147-223) → `requestData(table, gtid)` →
  * `readMessage()` loop → `close()` (sends CLOSE, reference
  * cdc_connector.cpp:225-235).
  *
  * Every data row is decoded from the client's own read buffer by one
  * byte-level scan ([[CdcLineScanner]], compiled per schema version);
  * Jackson's tree parse is the path of record for the lines the scan
  * declines (schema messages, malformed or unusual rows) and for nothing
  * else. The counters below say how many lines took which way.
  */
final class CdcClient(
    host: String,
    port: Int,
    user: String,
    password: String,
    timeoutMs: Int) extends AutoCloseable {

  import CdcClient._

  private var socket: Socket = _
  private var in: InputStream = _
  private var out: OutputStream = _
  /** Current schema keys, swapped on every in-band schema message
    * (reference cdc_connector.cpp:339-344). */
  private var schemaFields: Seq[CdcField] = Nil
  /** The row scanner of the current schema version (null until a data
    * row arrives under it). */
  private var scanner: CdcLineScanner = _
  /** Carry-over bytes between reads: offset-indexed buffer with AMORTIZED
    * compaction (the reference's technique, cdc_connector.cpp:459-518).
    * A naive remove-prefix-per-line is O(buffered bytes) per line —
    * quadratic when the server streams faster than we frame (measured
    * 1 k rows/s vs 100 k+ with this layout). The socket reads straight
    * into it: there is no second buffer underneath. */
  private var buf = new Array[Byte](64 * 1024)
  private var bufStart = 0
  private var bufEnd = 0
  /** Absolute position up to which we already scanned for '\n'. */
  private var scanPos = 0
  /** Remote EOF observed — distinguishes "no data yet" (timeout) from
    * "the server is gone" when a partial line is still buffered. */
  private var eofSeen = false

  /** Bytes framed off the wire, newlines included. */
  private[cdc] var framedBytes = 0L
  /** Data rows the byte-level scan took, and their bytes. */
  private[cdc] var scannedRows = 0L
  private[cdc] var scannedBytes = 0L
  /** Data rows the scan (or a decoder) declined: the tree path decoded
    * them. */
  private[cdc] var declinedRows = 0L

  def currentFields: Seq[CdcField] = schemaFields

  def connect(): Unit = {
    socket = new Socket()
    socket.connect(new InetSocketAddress(host, port), timeoutMs)
    socket.setSoTimeout(timeoutMs)
    socket.setTcpNoDelay(true)
    in = socket.getInputStream
    out = socket.getOutputStream
    // A2 auth (cdc_connector.cpp:366-403)
    send(authMessage(user, password))
    expectOk("authentication")
    // A3 registration (cdc_connector.cpp:405-443)
    send(s"REGISTER UUID=$ConnectorUuid, TYPE=JSON")
    expectOk("registration")
  }

  /** A4 request-data (cdc_connector.cpp:199-213): server starts streaming;
    * no OK ack — the first reply is the schema or an ERR payload. */
  def requestData(table: String, gtid: Option[String]): Unit = {
    val cmd = gtid.filter(_.nonEmpty)
      .map(g => s"REQUEST-DATA $table $g")
      .getOrElse(s"REQUEST-DATA $table")
    send(cmd)
  }

  /** Read one framed message. Newline-delimited JSON; schema messages are
    * decoded and adopted (and surfaced to the caller — unlike the
    * reference's silent recursion, so the source can fail fast on
    * mid-stream re-schema, SURVEY.md §1.3). A data row comes back as
    * strings: the scan's text of each value ([[CdcLineScanner.strings]]),
    * or the tree path's for a row the scan declines — the same strings
    * either way. */
  def readMessage(): CdcMessage = readMessage(null)

  /** [[readMessage]] for the readers that position rows by GTID: a data
    * row that `dec` (a [[CdcRowDecoder]] compiled for the current schema
    * version) takes stays in the buffer for `dec` to read, and `null` is
    * returned; every other line, including rows `dec` declines, yields
    * exactly the message [[readMessage]] returns. A decoder compiled for
    * another schema version is ignored. */
  private[cdc] def readMessage(dec: CdcRowDecoder): CdcMessage = readLineSlice() match {
    case -1 => if (bufEnd > bufStart && looksLikeErr(pending)) {
        // MaxScale quirk: ERR payloads may lack the trailing newline
        // (reference is_error workaround, cdc_connector.cpp:445-457).
        val err = new String(pending, UTF_8)
        clearPending()
        throw new CdcProtocolException(err)
      } else if (eofSeen) CdcClosed // dead connection + partial line ≠ quiet stream
      else CdcTimeout
    case -2 => CdcClosed
    case 0 => readMessage(dec)
    case len =>
      if (len >= 3 &&
          (buf(lineOff) == 'E' || buf(lineOff) == 'e') &&
          (buf(lineOff + 1) == 'R' || buf(lineOff + 1) == 'r') &&
          (buf(lineOff + 2) == 'R' || buf(lineOff + 2) == 'r'))
        throw new CdcProtocolException(new String(buf, lineOff, len, UTF_8))
      if (schemaFields.nonEmpty) {
        if (scanner == null) scanner = new CdcLineScanner(schemaFields)
        if (scanner.scan(buf, lineOff, len)) {
          if (dec == null || !(dec.wire eq schemaFields)) {
            scannedRows += 1; scannedBytes += len
            return scanner.strings()
          }
          if (dec.take(scanner)) {
            scannedRows += 1; scannedBytes += len
            return null
          }
        }
      }
      // the path of record: schema messages, malformed lines, and every
      // row the scan declined (nested values, over-long ints, missing
      // keys, unusual UTF-8, ...), parsed as a tree
      val line = new String(buf, lineOff, len, UTF_8)
      val node =
        try Json.readTree(line)
        catch { case e: Exception =>
          throw new CdcProtocolException(s"malformed JSON event: ${e.getMessage}")
        }
      if (isSchema(node)) {
        schemaFields = parseSchemaFields(node)
        scanner = null // compiled lazily against the new version
        CdcSchemaMsg(schemaFields, line)
      } else {
        declinedRows += 1
        decodeRow(node)
      }
  }

  /** A10 row decode (reference `process_row`, cdc_connector.cpp:288-319):
    * project the JSON object onto the current schema keys, in order; a
    * missing key is an error — raised at DELIVERY via
    * [[CdcRowMsg.requireComplete]] (missing slots are marked null here so
    * dedupe bookkeeping over discarded rows still works). */
  private def decodeRow(node: JsonNode): CdcRowMsg = {
    if (schemaFields.isEmpty)
      throw new CdcProtocolException("data row received before any schema message")
    val n = schemaFields.length
    val values = new Array[String](n)
    val nulls = new Array[Boolean](n)
    var missing: String = null
    var missingIdx: ArrayBuffer[Int] = null
    var i = 0
    while (i < n) {
      val key = schemaFields(i).name
      val v = node.get(key)
      if (v == null) {
        if (missing == null) missing = key
        if (missingIdx == null) missingIdx = ArrayBuffer.empty[Int]
        missingIdx += i
        nulls(i) = true; values(i) = ""
      } else {
        val s = scalarToString(v)
        if (s == null) { nulls(i) = true; values(i) = "" } else values(i) = s
      }
      i += 1
    }
    CdcRowMsg(values, nulls, missing,
      if (missingIdx == null) null else missingIdx.toArray)
  }

  /** Sends CLOSE then closes the socket; idempotent (reference
    * cdc_connector.cpp:225-235). */
  override def close(): Unit = if (socket != null) {
    try send("CLOSE") catch { case _: IOException => () }
    try socket.close() catch { case _: IOException => () }
    socket = null
  }

  // ---------------------------------------------------------------- wire

  private def send(msg: String): Unit = {
    out.write(msg.getBytes(UTF_8))
    out.flush()
  }

  private def expectOk(phase: String): Unit = readLine() match {
    case Some(l) if l != null && l.trim == "OK" => ()
    case Some(null) => throw new CdcProtocolException(s"connection closed during $phase")
    case Some(l) => throw new CdcProtocolException(s"$phase failed: $l")
    case None =>
      // handshake replies may also arrive ERR-without-newline
      if (bufEnd > bufStart) {
        val err = new String(pending, UTF_8)
        clearPending()
        throw new CdcProtocolException(s"$phase failed: $err")
      } else throw new CdcProtocolException(s"$phase timed out")
  }

  private def looksLikeErr(bytes: Array[Byte]): Boolean =
    bytes.length >= 3 &&
      (bytes(0) == 'E' || bytes(0) == 'e') &&
      (bytes(1) == 'R' || bytes(1) == 'r') &&
      (bytes(2) == 'R' || bytes(2) == 'r')

  private def pending: Array[Byte] =
    java.util.Arrays.copyOfRange(buf, bufStart, bufEnd)

  private def clearPending(): Unit = { bufStart = 0; bufEnd = 0; scanPos = 0 }

  /** Move live bytes to the front (amortized: only when the dead prefix
    * dominates) and/or grow so `extra` bytes fit. */
  private def ensureRoom(extra: Int): Unit = {
    if (bufEnd + extra > buf.length) {
      val live = bufEnd - bufStart
      if (live + extra <= buf.length) {
        System.arraycopy(buf, bufStart, buf, 0, live)
        scanPos -= bufStart; bufStart = 0; bufEnd = live
      } else {
        val nb = new Array[Byte](math.max(buf.length * 2, live + extra))
        System.arraycopy(buf, bufStart, nb, 0, live)
        scanPos -= bufStart; bufStart = 0; bufEnd = live
        buf = nb
      }
    }
  }

  /** Slice coordinates of the line [[readLineSlice]] last framed. The
    * slice stays valid until the NEXT read fills the buffer (consuming a
    * line only advances indices; the bytes are untouched), which lets
    * the scan and the decoders read straight from `buf` and allocate a
    * String only on the tree path. */
  private var lineOff = 0

  /** One '\n'-framed line as a slice of `buf`: returns its LENGTH with
    * `lineOff` set (0 = empty line), `-1` on timeout (partial bytes stay
    * buffered for the next call), `-2` on EOF. The line end is found
    * eight bytes at a time ([[CdcLineScanner.newline]]); the timeout
    * clock starts only when no whole line is buffered and the read must
    * block. */
  private def readLineSlice(): Int = {
    var start = 0L
    while (true) {
      val i = CdcLineScanner.newline(buf, math.max(scanPos, bufStart), bufEnd)
      if (i < bufEnd) {
        lineOff = bufStart
        val len = i - bufStart
        framedBytes += len + 1
        bufStart = i + 1
        scanPos = bufStart
        if (bufStart == bufEnd) clearPending() // resets indices, not bytes
        return len
      }
      scanPos = i
      if (start == 0L) start = System.nanoTime()
      val remainMs = timeoutMs - (System.nanoTime() - start) / 1000000
      if (remainMs <= 0) return -1
      socket.setSoTimeout(math.max(1, remainMs.toInt))
      ensureRoom(32 * 1024)
      val got =
        try in.read(buf, bufEnd, buf.length - bufEnd)
        catch { case _: SocketTimeoutException => return -1 }
      if (got < 0) {
        eofSeen = true
        return if (bufEnd == bufStart) -2 else -1
      }
      bufEnd += got
    }
    -1 // unreachable
  }

  /** One '\n'-framed line. None = timeout; Some(null) = EOF. */
  private def readLine(): Option[String] = readLineSlice() match {
    case -1 => None
    case -2 => Some(null)
    case len => Some(new String(buf, lineOff, len, UTF_8))
  }
}
