package graft.sources

import java.io.{InputStream, OutputStream}
import java.net.{ServerSocket, Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.CopyOnWriteArrayList

import com.fasterxml.jackson.databind.ObjectMapper

import scala.jdk.CollectionConverters._

/** In-JVM mock of MaxScale's CDC protocol endpoint (loopback only, no
  * external network): auth → OK, REGISTER → OK, REQUEST-DATA →
  * schema + newline-JSON events, with GTID-inclusive replay — the
  * server-side counterpart of the behavior catalogued in SURVEY.md §2.1.
  *
  * Knobs simulate every failure mode the reference handles: auth
  * rejection, ERR-without-newline after REQUEST-DATA, quiet streams
  * (timeout), mid-stream re-schema, abrupt close.
  */
final class MockMaxScaleServer(
    schemaJson: String,
    initialEvents: Seq[String] = Nil,
    rejectAuth: Boolean = false,
    expectedAuth: Option[String] = None,
    errOnRequest: Option[String] = None,
    midStreamSchemaAfter: Option[(Int, String)] = None,
    closeAfterEvents: Option[Int] = None,
    // fault-injection schedule: the i-th DATA connection (0-based, counted
    // across REQUEST-DATA accepts) is abruptly closed after sending
    // dropSchedule(i) events (0 = right after the schema line); connections
    // past the end of the schedule are never dropped. Generalizes
    // closeAfterEvents (which drops EVERY connection at the same point) to
    // the arbitrary per-connection drop points a reconnect soak needs.
    dropSchedule: Seq[Int] = Nil,
    // per-table overrides: REQUEST-DATA for a key here serves that
    // schema + its own event list (pushTo) — the multi-table shape;
    // unknown tables fall back to the default schema/events
    tableSchemas: Map[String, String] = Map.empty,
    // MISBEHAVING-SERVER MODE for the vector-resume self-check spec:
    // force the (domain, sequence) >= comparison filter even when the
    // requested GTID exists in the log — replay semantics under which a
    // vector resume would silently lose lower-domain events; the tailer
    // must detect this and fail loudly rather than drop data
    gtidComparisonReplay: Boolean = false) extends AutoCloseable {

  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .enable(com.fasterxml.jackson.core.json.JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .build()
  private val events = new CopyOnWriteArrayList[String]()
  initialEvents.foreach(events.add)

  @volatile private var schema = schemaJson
  @volatile private var running = true
  @volatile var lastRequestData: String = _
  @volatile var lastAuth: String = _

  /** REQUEST-DATA count per table — lets specs distinguish schema-probe
    * connections (made once at load()) from streaming connections, e.g.
    * to prove a `_table`-pruned table is never tailed. */
  private val requests = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  def requestCount(table: String): Int =
    Option(requests.get(table)).map(_.intValue).getOrElse(0)

  /** Total DATA connections accepted (indexes into dropSchedule). */
  private val dataConns = new java.util.concurrent.atomic.AtomicInteger(0)
  def dataConnCount: Int = dataConns.get()

  private val server = new ServerSocket(0, 8, java.net.InetAddress.getLoopbackAddress)
  def port: Int = server.getLocalPort

  /** Append a live event (visible to connected + future clients). */
  def push(eventJson: String): Unit = events.add(eventJson)

  private val tableEvents =
    new java.util.concurrent.ConcurrentHashMap[String, CopyOnWriteArrayList[String]]()
  tableSchemas.keys.foreach(t => tableEvents.put(t, new CopyOnWriteArrayList[String]()))

  /** Append a live event to one of the per-table streams. */
  def pushTo(table: String, eventJson: String): Unit = {
    val l = tableEvents.get(table)
    require(l != null, s"no such per-table stream: $table")
    l.add(eventJson)
  }

  private val acceptor = new Thread("mock-maxscale-acceptor") {
    setDaemon(true)
    override def run(): Unit =
      while (running) {
        try {
          val s = server.accept()
          val h = new Thread(() => handle(s))
          h.setDaemon(true)
          h.start()
        } catch { case _: Exception => () }
      }
  }
  acceptor.start()

  /** Replay position of an event line as `(domain, sequence)` — GTID
    * order is (domain, sequence, serverId), and the real server replays
    * binlog from a position under that order, not by bare sequence (a
    * multi-domain log would otherwise wrongly exclude a later domain's
    * restarted sequence numbers). Schema lines (no `sequence`) sort
    * below everything: always replayed, like the avro log's in-band
    * historical schema records. */
  private val posCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
  private def posOf(json: String): (Long, Long) =
    // cached: every connection walks the whole log, and re-parsing each
    // line's JSON per connection makes the EMITTER the bottleneck in
    // parallel-replay throughput tests
    posCache.computeIfAbsent(json, { j =>
      val node = mapper.readTree(j)
      val seq = node.get("sequence")
      if (seq == null) (Long.MinValue, Long.MinValue)
      else {
        val dom = node.get("domain")
        (if (dom == null) 0L else dom.asLong(), seq.asLong())
      }
    })

  private def handle(s: Socket): Unit = {
    try {
      s.setSoTimeout(200)
      val in = s.getInputStream
      val out = s.getOutputStream

      // --- auth: one hex chunk
      lastAuth = readChunk(in)
      if (rejectAuth || expectedAuth.exists(_ != lastAuth)) {
        write(out, "ERR: authentication failed\n"); return
      }
      write(out, "OK\n")

      // --- registration
      val reg = readChunk(in)
      if (!reg.startsWith("REGISTER UUID=") || !reg.contains("TYPE=JSON")) {
        write(out, s"ERR: bad registration '$reg'\n"); return
      }
      write(out, "OK\n")

      // --- request-data
      val req = readChunk(in)
      if (req.startsWith("CLOSE")) return
      lastRequestData = req
      errOnRequest.foreach { e => write(out, e); return } // note: no newline
      if (errOnRequest.isDefined) return
      val parts = req.split("\\s+")
      require(parts(0) == "REQUEST-DATA", s"unexpected command '$req'")
      // GTID replay is INCLUSIVE of the requested position, like the real
      // server replaying binlog from a GTID — compared as (domain,
      // sequence), the replay-relevant prefix of the GTID order.
      val fromPos: (Long, Long) =
        if (parts.length >= 3) {
          val g = parts(2).split("-")
          (g(0).toLong, g(2).toLong)
        } else (Long.MinValue, Long.MinValue)
      val reqTable = if (parts.length >= 2) parts(1) else ""
      requests.merge(reqTable, 1, (a, b) => a + b)
      val connIdx = dataConns.getAndIncrement()
      val dropAfter: Int =
        if (connIdx < dropSchedule.length) dropSchedule(connIdx) else Int.MaxValue
      val perTable = tableSchemas.get(reqTable)
      val evList = perTable.map(_ => tableEvents.get(reqTable)).getOrElse(events)

      write(out, perTable.getOrElse(schema) + "\n")
      if (dropAfter == 0) { s.close(); return } // schema-only connection
      var sent = 0
      var idx = 0
      var schemaSwapped = false
      // LOG-POSITION replay when the requested GTID names an event that
      // exists in the log: the real avrorouter seeks to the avro-file
      // position of the requested GTID and replays everything from there
      // (inclusive) — which is what makes a vector-mode resume loss-free
      // on an INTERLEAVED multi-domain log (a lower-domain event after
      // the request point must still be delivered; the GTID-order filter
      // below would wrongly exclude it). Requests for positions NOT in
      // the log (fabricated sequence cuts) keep the (domain, sequence)
      // >= filter — within one domain the two are equivalent. In-band
      // schema lines (no sequence) are ALWAYS replayed, before and after
      // the start position — the avro log replays the governing
      // historical schema before mid-file data.
      val fromLogIdx: Int =
        if (gtidComparisonReplay || fromPos._1 == Long.MinValue) -1
        else evList.asScala.toVector.indexWhere(e => posOf(e) == fromPos)
      // events go out in buffered writes, flushed before every wait and
      // every injected close, so a fast client is not paced by one
      // syscall per event; what a client receives, and when a drop
      // happens relative to it, is unchanged
      val stream = new java.io.BufferedOutputStream(out, 64 * 1024)
      while (running && !s.isClosed) {
        // pick up new events as they are pushed
        val snapshot = evList.asScala.toVector
        while (idx < snapshot.length) {
          val ev = snapshot(idx)
          val evIdx = idx
          idx += 1
          val pos = posOf(ev)
          val atOrPast =
            if (fromLogIdx >= 0) evIdx >= fromLogIdx
            else pos._1 > fromPos._1 ||
              (pos._1 == fromPos._1 && pos._2 >= fromPos._2)
          if (atOrPast || pos._2 == Long.MinValue) {
            midStreamSchemaAfter.foreach { case (n, s2) =>
              if (sent == n && !schemaSwapped) {
                stream.write((s2 + "\n").getBytes(UTF_8)); schemaSwapped = true
                // the DDL changed the table: future connections (schema
                // probes, reconnects, replays) see the new schema up front
                schema = s2
              }
            }
            closeAfterEvents.foreach { n => if (sent >= n) { stream.flush(); s.close(); return } }
            if (sent >= dropAfter) { stream.flush(); s.close(); return } // injected fault
            stream.write((ev + "\n").getBytes(UTF_8))
            sent += 1
          }
        }
        stream.flush()
        // poll for CLOSE from the client without busy-waiting
        try {
          val cmd = readChunk(in)
          if (cmd.startsWith("CLOSE")) { s.close(); return }
        } catch { case _: SocketTimeoutException => () }
      }
    } catch {
      case _: Exception => ()
    } finally { try s.close() catch { case _: Exception => () } }
  }

  private def readChunk(in: InputStream): String = {
    val buf = new Array[Byte](4096)
    val n = in.read(buf)
    if (n < 0) throw new SocketTimeoutException("closed")
    new String(buf, 0, n, UTF_8)
  }

  private def write(out: OutputStream, s: String): Unit = {
    out.write(s.getBytes(UTF_8)); out.flush()
  }

  override def close(): Unit = {
    running = false
    try server.close() catch { case _: Exception => () }
  }
}

object MockMaxScaleServer {
  /** Schema for a tiny `db.t` table with the standard CDC metadata columns
    * (domain/server_id/sequence/event_number/timestamp/event_type) plus two
    * user columns — the shape MaxScale's avro schema takes. */
  val Schema: String =
    """{"namespace":"MaxScaleChangeDataSchema.avro","type":"record","name":"ChangeRecord","fields":[
      |{"name":"domain","type":"int","real_type":"int","length":-1},
      |{"name":"server_id","type":"int","real_type":"int","length":-1},
      |{"name":"sequence","type":"int","real_type":"int","length":-1},
      |{"name":"event_number","type":"int","real_type":"int","length":-1},
      |{"name":"timestamp","type":"int","real_type":"int","length":-1},
      |{"name":"event_type","type":"string","real_type":"varchar","length":32},
      |{"name":"id","type":"int","real_type":"int","length":-1},
      |{"name":"name","type":"string","real_type":"varchar","length":64}
      |]}""".stripMargin.replace("\n", "")

  def event(seq: Long, eventType: String, id: Int, name: String): String =
    s"""{"domain":0,"server_id":1,"sequence":$seq,"event_number":1,""" +
      s""""timestamp":${1700000000 + seq},"event_type":"$eventType","id":$id,""" +
      (if (name == null) s""""name":null}""" else s""""name":"$name"}""")
}
