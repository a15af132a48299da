package perfbench

import java.io.{BufferedOutputStream, InputStream}
import java.net.{InetAddress, ServerSocket, Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.ReentrantLock

import scala.collection.mutable.ArrayBuffer

/** Loopback MaxScale CDC endpoint owned by the benchmark.
  *
  * Speaks the protocol the program's client expects: auth chunk → `OK`,
  * `REGISTER UUID=…, TYPE=JSON` → `OK`, `REQUEST-DATA <table> [gtid]` →
  * the schema line, then every logged event from the requested GTID on
  * (inclusive replay), then live appends as they are logged, until the
  * client sends `CLOSE` or hangs up.
  *
  * Events are single-domain (`0-1-<sequence>`) with `sequence = index+1`,
  * so a requested GTID maps to a log index by arithmetic.
  *
  * Counters separate the emitter's own cost from the client's:
  * `blockedNs` is time spent inside socket writes (the client is not
  * reading fast enough), `idleNs` is time a connection waited for the
  * generator to log the next event.
  */
final class Emitter(schemaLine: String, user: String, password: String,
    capacity: Int) extends AutoCloseable {

  private val log = new Array[Array[Byte]](capacity)
  /** Events logged; those below `size` are visible to connections. */
  private var logged = 0
  @volatile private var size = 0
  private val lock = new ReentrantLock()
  private val appended = lock.newCondition()
  @volatile private var running = true

  val connections = new AtomicInteger()
  val rowsSent = new AtomicLong()
  val bytesSent = new AtomicLong()
  val blockedNs = new AtomicLong()
  val idleNs = new AtomicLong()

  private val expectedAuth: String = {
    def hex(b: Array[Byte]) = b.map(x => f"${x & 0xff}%02x").mkString
    hex((user + ":").getBytes(UTF_8)) +
      hex(MessageDigest.getInstance("SHA-1").digest(password.getBytes(UTF_8)))
  }

  private val server = new ServerSocket(0, 64, InetAddress.getLoopbackAddress)
  def port: Int = server.getLocalPort
  def head: Int = size

  private val handlers = ArrayBuffer.empty[Thread]
  private val acceptor = new Thread("perfbench-emitter-accept") {
    setDaemon(true)
    override def run(): Unit =
      while (running) {
        try {
          val s = server.accept()
          val idx = connections.getAndIncrement()
          val h = new Thread(() => serve(s), s"perfbench-emitter-$idx")
          h.setDaemon(true)
          handlers.synchronized(handlers += h)
          h.start()
        } catch { case _: Exception => () }
      }
  }
  acceptor.start()

  /** Log event lines (without their newlines); they are sent once
    * [[publish]]ed. Single writer. */
  def append(lines: Array[Array[Byte]]): Unit =
    lines.foreach { l =>
      require(logged < capacity, s"emitter log full at $capacity events")
      log(logged) = l
      logged += 1
    }

  /** Make every logged event visible and wake waiting connections. */
  def publish(): Unit = {
    size = logged
    lock.lock()
    try appended.signalAll() finally lock.unlock()
  }

  private def serve(s: Socket): Unit = {
    try {
      s.setTcpNoDelay(true)
      val in = s.getInputStream
      val out = new BufferedOutputStream(s.getOutputStream, 64 * 1024)
      def reply(msg: String): Unit = { out.write(msg.getBytes(UTF_8)); out.flush() }
      s.setSoTimeout(30000)
      if (readChunk(in).trim != expectedAuth) {
        reply("ERR: authentication failed\n"); return
      }
      reply("OK\n")
      val reg = readChunk(in)
      if (!reg.startsWith("REGISTER UUID=") || !reg.contains("TYPE=JSON")) {
        reply(s"ERR: bad registration '$reg'\n"); return
      }
      reply("OK\n")
      val req = readChunk(in).trim
      if (req.startsWith("CLOSE")) return
      val parts = req.split("\\s+")
      if (parts(0) != "REQUEST-DATA" || parts.length < 2) {
        reply(s"ERR: unexpected command '$req'\n"); return
      }
      // inclusive replay: the event whose sequence is the requested one
      // is sent again
      var idx =
        if (parts.length >= 3) math.max(0L, parts(2).split("-")(2).toLong - 1).toInt
        else 0
      reply(schemaLine + "\n")
      s.setSoTimeout(1)
      val nl = '\n'.toInt
      while (running && !s.isClosed) {
        // bounded chunks, so a client that has read its range and sent
        // CLOSE is not flooded with the rest of a deep backlog
        val n = math.min(size, idx + 4096)
        if (idx < n) {
          val rows = n - idx
          var bytes = 0L
          val t0 = System.nanoTime()
          while (idx < n) {
            val l = log(idx)
            out.write(l)
            out.write(nl)
            bytes += l.length + 1
            idx += 1
          }
          out.flush()
          blockedNs.addAndGet(System.nanoTime() - t0)
          rowsSent.addAndGet(rows)
          bytesSent.addAndGet(bytes)
          if (in.available() > 0 && closeRequested(in)) return
        }
        if (idx >= size) {
          if (closeRequested(in)) return
          val t0 = System.nanoTime()
          lock.lock()
          try {
            if (idx >= size) appended.awaitNanos(5000000L)
          } finally lock.unlock()
          idleNs.addAndGet(System.nanoTime() - t0)
        }
      }
    } catch {
      case _: Exception => ()
    } finally {
      try s.close() catch { case _: Exception => () }
    }
  }

  /** Whether the client sent CLOSE or hung up; waits at most the 1 ms
    * read timeout set after the handshake. */
  private def closeRequested(in: InputStream): Boolean =
    try {
      val b = new Array[Byte](64)
      val got = try in.read(b) catch { case _: SocketTimeoutException => 0 }
      got < 0 || (got > 0 && new String(b, 0, got, UTF_8).startsWith("CLOSE"))
    } catch { case _: Exception => true }

  private def readChunk(in: InputStream): String = {
    val buf = new Array[Byte](4096)
    val n = in.read(buf)
    if (n < 0) throw new java.io.EOFException("client hung up")
    new String(buf, 0, n, UTF_8)
  }

  override def close(): Unit = {
    running = false
    try server.close() catch { case _: Exception => () }
    lock.lock()
    try appended.signalAll() finally lock.unlock()
    acceptor.join(2000)
    handlers.synchronized(handlers.toList).foreach(_.join(2000))
  }
}
