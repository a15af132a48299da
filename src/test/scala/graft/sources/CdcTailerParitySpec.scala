package graft.sources

import graft.sources.cdc._
import org.scalatest.concurrent.Eventually.{eventually, interval, timeout}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import MockMaxScaleServer.{Schema, event}

/** The tailer reads positions only in replay mode: each row is
  * scanned in the client's buffer and only its GTID trio is read. These
  * specs pin that mode to the full decode it replaces: the offsets it
  * plans and the `splitRanges` cuts equal the ones derived from the tree
  * path's strings of the same lines (including lines the scan declines),
  * and every failure carries the same `CdcProtocolException` text.
  */
class CdcTailerParitySpec extends AnyFunSuite {

  private val fields = CdcClient.parseSchemaFields(CdcClient.Json.readTree(Schema))

  /** The GTID the full decode gives `line`: tree path, then strings. */
  private def fullDecodeGtid(line: String): Gtid = {
    val node = CdcClient.Json.readTree(line)
    def v(k: String) = CdcClient.scalarToString(node.get(k)).toLong
    Gtid(v("domain"), v("server_id"), v("sequence"))
  }

  private def tailer(port: Int, expected: Seq[CdcField] = fields,
      tolerateReSchema: Boolean = false, domainVector: Boolean = false,
      resumeVector: Seq[Gtid] = Nil, timeoutMs: Int = 1000): CdcTailer = {
    val t = new CdcTailer("127.0.0.1", port, "u", "p", "db.t", expected,
      resumeAfter = None, timeoutMs = timeoutMs, tolerateReSchema = tolerateReSchema,
      domainVector = domainVector, resumeVector = resumeVector)
    t.start()
    t
  }

  /** The tailer's failure, once it has one. */
  private def failure(t: CdcTailer): CdcProtocolException =
    eventually(timeout(Span(15, Seconds)), interval(Span(100, org.scalatest.time.Millis))) {
      intercept[CdcProtocolException](t.checkFatal())
    }

  /** Lines the scan takes and lines it declines, interleaved. */
  private val mixed: Seq[String] = (1 to 60).map { i =>
    i % 6 match {
      case 0 => // spaced separators: taken
        s"""{"domain": 0, "server_id": 1, "sequence": $i, "event_number": 1, """ +
          s""""timestamp": 1, "event_type": "insert", "id": $i, "name": "s"}"""
      case 1 => // a GTID column as a JSON string: declined, positioned from "i"
        s"""{"domain":0,"server_id":"1","sequence":$i,"event_number":1,""" +
          s""""timestamp":1,"event_type":"insert","id":$i,"name":"g"}"""
      case 2 => // an extra nested value: declined
        s"""{"domain":0,"server_id":1,"sequence":$i,"event_number":1,""" +
          s""""timestamp":1,"event_type":"insert","id":$i,"name":"n","x":[1,{"y":2}]}"""
      case 3 => event(i, "insert", i, "café 😀") // raw UTF-8: taken
      case 4 => // a real-valued sequence: declined, "i" on the string path
        s"""{"domain":0,"server_id":1,"sequence":$i.0,"event_number":1,""" +
          s""""timestamp":1,"event_type":"insert","id":$i,"name":"r"}"""
      case _ => event(i, "update_after", i, "plain") // taken
    }
  }

  test("positions-only mode plans the offsets and splitRanges cuts of the " +
      "full decode, over taken and declined lines") {
    val srv = new MockMaxScaleServer(Schema, mixed)
    try {
      val t = tailer(srv.port)
      try {
        eventually(timeout(Span(15, Seconds)), interval(Span(100, org.scalatest.time.Millis))) {
          t.checkFatal(); assert(t.bufferedCount == mixed.length)
        }
        val expected = mixed.map(fullDecodeGtid)
        assert(t.latest.contains(expected.last))
        Seq(1, 7, 30, 60, 100).foreach { k =>
          assert(t.cappedEnd(None, k).contains(expected(math.min(k, expected.length) - 1)), k)
        }
        assert(t.cappedEnd(Some(expected(9)), 5).contains(expected(14)))
        Seq(2, 3, 4, 7).foreach { n =>
          val per = math.ceil(expected.length.toDouble / n).toInt
          val bounds = expected.grouped(per).map(_.last).toSeq
          val cuts = bounds.zip(None +: bounds.init.map(Some(_))).map { case (hi, lo) => (lo, hi) }
          assert(t.splitRanges(None, expected.last, n) == cuts, s"n=$n")
        }
        // a sub-range that starts after the first cut
        assert(t.splitRanges(Some(expected(11)), expected(41), 2) ==
          Seq((Some(expected(11)), expected(26)), (Some(expected(26)), expected(41))))
      } finally t.shutdown()
    } finally srv.close()
  }

  test("a null GTID value fails with the full decode's message") {
    val bad = """{"domain":0,"server_id":1,"sequence":null,"event_number":1,""" +
      """"timestamp":1,"event_type":"insert","id":2,"name":"b"}"""
    val srv = new MockMaxScaleServer(Schema, Seq(event(1, "insert", 1, "a"), bad))
    try {
      val t = tailer(srv.port)
      try {
        assert(failure(t).getMessage == "event carries a null/empty GTID column " +
          "(domain='0', server_id='1', sequence='') — the row cannot be positioned " +
          "for replay/resume")
      } finally t.shutdown()
    } finally srv.close()
  }

  test("a missing GTID key fails with the full decode's message") {
    val bad = """{"domain":0,"server_id":1,"event_number":1,""" +
      """"timestamp":1,"event_type":"insert","id":2,"name":"b"}"""
    val srv = new MockMaxScaleServer(Schema, Seq(event(1, "insert", 1, "a"), bad))
    try {
      val t = tailer(srv.port)
      try assert(failure(t).getMessage == "No value for key found: sequence")
      finally t.shutdown()
    } finally srv.close()
  }

  test("a malformed line fails with the tree path's message") {
    val malformed = """{"domain":0,"server_id":1,"sequence":2,"event_number":1,"id":"""
    val jackson =
      try { CdcClient.Json.readTree(malformed); "" }
      catch { case e: Exception => e.getMessage }
    assert(jackson.nonEmpty)
    // the line reaches the client verbatim: the mock's request reply is
    // sent as is
    val srv = new MockMaxScaleServer(Schema, errOnRequest =
      Some(Schema + "\n" + event(1, "insert", 1, "a") + "\n" + malformed + "\n"))
    try {
      val t = tailer(srv.port)
      try assert(failure(t).getMessage == s"malformed JSON event: $jackson")
      finally t.shutdown()
    } finally srv.close()
  }

  private val schema2 = Schema.replace("]}",
    """,{"name":"note","type":"string","real_type":"varchar","length":16}]}""")

  private def withNote(seq: Long): String =
    event(seq, "insert", seq.toInt, "x").dropRight(1) + s""","note":"n$seq"}"""

  test("a mid-stream DDL fails a uniform tailer with the full decode's message") {
    val srv = new MockMaxScaleServer(Schema, (1L to 3L).map(i => event(i, "insert", i.toInt, "a")) ++
      (4L to 6L).map(withNote), midStreamSchemaAfter = Some((3, schema2)))
    try {
      val t = tailer(srv.port)
      try {
        val now = CdcClient.parseSchemaFields(CdcClient.Json.readTree(schema2))
        assert(failure(t).getMessage == "mid-stream schema change detected; restart " +
          s"the query to adopt the new schema (was $fields, now $now)")
      } finally t.shutdown()
    } finally srv.close()
  }

  test("a mid-stream DDL is absorbed in normalized mode: positions continue " +
      "under the new schema version") {
    val lines = (1L to 3L).map(i => event(i, "insert", i.toInt, "a")) ++ (4L to 6L).map(withNote)
    val srv = new MockMaxScaleServer(Schema, lines, midStreamSchemaAfter = Some((3, schema2)))
    try {
      val t = tailer(srv.port, tolerateReSchema = true)
      try {
        eventually(timeout(Span(15, Seconds)), interval(Span(100, org.scalatest.time.Millis))) {
          t.checkFatal(); assert(t.bufferedCount == 6)
        }
        assert(t.cappedEnd(None, 6).contains(fullDecodeGtid(lines.last)))
        assert(t.splitRanges(None, Gtid(0, 1, 6), 3) ==
          Seq((None, Gtid(0, 1, 2)), (Some(Gtid(0, 1, 2)), Gtid(0, 1, 4)),
            (Some(Gtid(0, 1, 4)), Gtid(0, 1, 6))))
      } finally t.shutdown()
    } finally srv.close()
  }

  test("the vector-mode resume self-check fails with the full decode's message") {
    def ev(domain: Long, seq: Long): String =
      s"""{"domain":$domain,"server_id":${domain + 1},"sequence":$seq,""" +
        s""""event_number":1,"timestamp":1,"event_type":"insert","id":1,"name":"n"}"""
    val log = (1 to 3).flatMap(i => Seq(ev(0, i), ev(1, i)))
    val srv = new MockMaxScaleServer(Schema, log, gtidComparisonReplay = true)
    try {
      val t = tailer(srv.port, domainVector = true,
        resumeVector = Seq(Gtid(1, 2, 2), Gtid(0, 1, 3)))
      try {
        assert(failure(t).getMessage == "domainMode=vector resume self-check failed: " +
          "the server did not re-deliver the at-or-below-watermark events of " +
          "domain(s) [0 (stream went quiet first)] after requesting replay from " +
          "1-2-2 — it is NOT replaying by log position, so events of domains " +
          "behind the request point may have been silently lost; this server " +
          "cannot support a loss-free vector resume")
      } finally t.shutdown()
    } finally srv.close()
  }

  test("the tailer counts the rows its scan positioned, their bytes, and " +
      "the rows it declined to the tree path") {
    val srv = new MockMaxScaleServer(Schema, mixed)
    try {
      val t = tailer(srv.port)
      try {
        eventually(timeout(Span(15, Seconds)), interval(Span(100, org.scalatest.time.Millis))) {
          t.checkFatal(); assert(t.bufferedCount == mixed.length)
        }
        val declined = mixed.indices.filter(i => Seq(1, 2, 4).contains((i + 1) % 6))
        val taken = mixed.indices.diff(declined)
        assert(t.scannedRows == taken.length && t.declinedRows == declined.length)
        assert(t.scannedBytes == taken.map(i => mixed(i).getBytes("UTF-8").length.toLong).sum)
      } finally t.shutdown()
    } finally srv.close()
  }
}
