package graft.sources

import graft.sources.cdc._
import org.scalatest.funsuite.AnyFunSuite

import MockMaxScaleServer.{Schema, event}

/** Wire-level client behavior against the mock server: handshake, framing,
  * GTID replay, error and timeout paths (SURVEY.md §5 item 2). */
class CdcClientSpec extends AnyFunSuite {

  private def withServer[T](srv: MockMaxScaleServer)(f: MockMaxScaleServer => T): T =
    try f(srv) finally srv.close()

  private def connected[T](srv: MockMaxScaleServer, timeoutMs: Int = 1000)
      (f: CdcClient => T): T = {
    val c = new CdcClient("127.0.0.1", srv.port, "u", "p", timeoutMs)
    try { c.connect(); f(c) } finally c.close()
  }

  test("happy path: schema then rows, null kept distinct from empty") {
    val srv = new MockMaxScaleServer(Schema, Seq(
      event(1, "insert", 10, "alice"),
      event(2, "insert", 11, null)))
    withServer(srv) { srv =>
      connected(srv) { c =>
        c.requestData("db.t", None)
        val s = c.readMessage().asInstanceOf[CdcSchemaMsg]
        assert(s.fields.map(_.name) == Seq("domain", "server_id", "sequence",
          "event_number", "timestamp", "event_type", "id", "name"))
        assert(s.fields.last.sqlType == "varchar(64)")
        val r1 = c.readMessage().asInstanceOf[CdcRowMsg]
        assert(r1.values(6) == "10" && r1.values(7) == "alice")
        assert(!r1.nulls(7))
        val r2 = c.readMessage().asInstanceOf[CdcRowMsg]
        assert(r2.values(7) == "" && r2.nulls(7)) // JSON null → "" + null flag
        assert(c.readMessage() == CdcTimeout)
        assert(srv.lastAuth == CdcClient.authMessage("u", "p"))
      }
    }
  }

  test("GTID resume replays inclusively from the requested position") {
    val srv = new MockMaxScaleServer(Schema,
      (1L to 5L).map(i => event(i, "insert", i.toInt, s"n$i")))
    withServer(srv) { srv =>
      connected(srv) { c =>
        c.requestData("db.t", Some("0-1-3"))
        assert(c.readMessage().isInstanceOf[CdcSchemaMsg])
        val seqs = (1 to 3).map { _ =>
          c.readMessage().asInstanceOf[CdcRowMsg].values(2).toLong
        }
        assert(seqs == Seq(3, 4, 5)) // inclusive replay, like the server
        assert(srv.lastRequestData == "REQUEST-DATA db.t 0-1-3")
      }
    }
  }

  test("auth rejection surfaces the server ERR") {
    val srv = new MockMaxScaleServer(Schema, Nil, rejectAuth = true)
    withServer(srv) { srv =>
      val c = new CdcClient("127.0.0.1", srv.port, "u", "bad", 1000)
      val e = intercept[CdcProtocolException](c.connect())
      assert(e.getMessage.contains("authentication"))
      c.close()
    }
  }

  test("ERR without trailing newline after REQUEST-DATA is detected") {
    val srv = new MockMaxScaleServer(Schema, Nil,
      errOnRequest = Some("ERR: unknown table db.missing"))
    withServer(srv) { srv =>
      connected(srv) { c =>
        c.requestData("db.missing", None)
        val e = intercept[CdcProtocolException](c.readMessage())
        assert(e.getMessage.contains("unknown table"))
      }
    }
  }

  test("quiet stream yields CdcTimeout, not an error") {
    val srv = new MockMaxScaleServer(Schema, Nil)
    withServer(srv) { srv =>
      connected(srv, timeoutMs = 300) { c =>
        c.requestData("db.t", None)
        assert(c.readMessage().isInstanceOf[CdcSchemaMsg])
        assert(c.readMessage() == CdcTimeout) // A11: timeout = end of batch
      }
    }
  }

  test("values with embedded NUL / control chars decode (JSON_ALLOW_NUL parity)") {
    val nulName = "a\u0000b\u0001c" // raw NUL + SOH inside the JSON string value
    val withNul = s"""{"domain":0,"server_id":1,"sequence":1,"event_number":1,""" +
      s""""timestamp":1700000001,"event_type":"insert","id":1,"name":"$nulName"}"""
    val srv = new MockMaxScaleServer(Schema, Seq(withNul))
    withServer(srv) { srv =>
      connected(srv) { c =>
        c.requestData("db.t", None)
        assert(c.readMessage().isInstanceOf[CdcSchemaMsg])
        val r = c.readMessage().asInstanceOf[CdcRowMsg]
        assert(r.values(7) == nulName)
      }
    }
  }

  test("jansson-style spaced separators decode like compact ones") {
    val spaced = """{"domain": 0, "server_id": 1, "sequence": 1, "event_number": 1, """ +
      """"timestamp": 1700000001, "event_type": "insert", "id": 7, "name": "a b"}"""
    val srv = new MockMaxScaleServer(Schema, Seq(spaced, event(2, "insert", 8, "c")))
    withServer(srv) { srv =>
      connected(srv) { c =>
        c.requestData("db.t", None)
        assert(c.readMessage().isInstanceOf[CdcSchemaMsg])
        val r = c.readMessage().asInstanceOf[CdcRowMsg]
        assert(r.values.toSeq == Seq("0", "1", "1", "1", "1700000001", "insert", "7", "a b"))
        assert(r.missingKey == null && !r.nulls.exists(identity))
        assert(c.readMessage().asInstanceOf[CdcRowMsg].values(7) == "c")
      }
    }
  }

  test("raw non-ASCII UTF-8 in a value decodes to the same text") {
    val name = "caf\u00e9 \u4e2d\u6587 \ud83d\ude00 \u00df"
    val srv = new MockMaxScaleServer(Schema, Seq(event(1, "insert", 1, name)))
    withServer(srv) { srv =>
      connected(srv) { c =>
        c.requestData("db.t", None)
        assert(c.readMessage().isInstanceOf[CdcSchemaMsg])
        val r = c.readMessage().asInstanceOf[CdcRowMsg]
        assert(r.values(7) == name && !r.nulls(7))
      }
    }
  }

  test("rows far larger than the read buffer are framed correctly") {
    val big = "x" * 300000 // ≫ the 32 KiB socket buffer
    val srv = new MockMaxScaleServer(Schema, Seq(
      event(1, "insert", 1, big), event(2, "insert", 2, "small")))
    withServer(srv) { srv =>
      connected(srv, timeoutMs = 3000) { c =>
        c.requestData("db.t", None)
        assert(c.readMessage().isInstanceOf[CdcSchemaMsg])
        val r1 = c.readMessage().asInstanceOf[CdcRowMsg]
        assert(r1.values(7).length == 300000 && r1.values(7) == big)
        val r2 = c.readMessage().asInstanceOf[CdcRowMsg]
        assert(r2.values(7) == "small") // buffer compacted, framing intact
      }
    }
  }

  test("mid-stream re-schema is surfaced as a schema message") {
    val schema2 = Schema.replace(""""name":"name","type":"string","real_type":"varchar","length":64""",
      """"name":"name","type":"string","real_type":"varchar","length":128""")
    val srv = new MockMaxScaleServer(Schema,
      Seq(event(1, "insert", 1, "a"), event(2, "insert", 2, "b")),
      midStreamSchemaAfter = Some((1, schema2)))
    withServer(srv) { srv =>
      connected(srv) { c =>
        c.requestData("db.t", None)
        assert(c.readMessage().isInstanceOf[CdcSchemaMsg])
        assert(c.readMessage().isInstanceOf[CdcRowMsg])
        val s2 = c.readMessage().asInstanceOf[CdcSchemaMsg]
        assert(s2.fields.last.sqlType == "varchar(128)")
        // rows after the swap decode against the NEW schema (cpp:339-344)
        assert(c.readMessage().isInstanceOf[CdcRowMsg])
      }
    }
  }

  test("bigint unsigned above 2^63-1 decodes exactly through the replay " +
      "reader, raw and typed (no Long wrap)") {
    val schema = Schema.replace(
      """{"name":"id","type":"int","real_type":"int","length":-1}""",
      """{"name":"id","type":"long","real_type":"bigint unsigned","length":-1}""")
    val big = Seq("9223372036854775808", "18446744073709551615")
    val events = big.zipWithIndex.map { case (v, i) =>
      event(i + 1L, "insert", 0, s"n$i").replace("\"id\":0", s"\"id\":$v")
    }
    val srv = new MockMaxScaleServer(schema, events)
    withServer(srv) { srv =>
      val fields = CdcClient.parseSchemaFields(CdcClient.Json.readTree(schema))
      assert(fields(6).sqlType == "bigint unsigned")
      def drain(typed: Boolean): Seq[Any] = {
        val dts = SqlTypes.toStructType(fields, typed).fields.map(_.dataType)
        val r = new CdcReplayReader(CdcReplayPartition("127.0.0.1", srv.port,
          "u", "p", "db.t", fields, startExclusive = None,
          endInclusive = "0-1-2", timeoutMs = 2000), dts, typed)
        try Iterator.continually(r).takeWhile(_.next())
          .map(_.get().get(6, dts(6))).toList
        finally r.close()
      }
      assert(drain(typed = false).map(_.toString) == big)
      val typed = drain(typed = true).map(_.asInstanceOf[
        org.apache.spark.sql.types.Decimal])
      assert(typed.map(_.toJavaBigDecimal.toPlainString) == big)
      assert(typed.forall(d => d.precision == 20 && d.scale == 0))
    }
  }
}
