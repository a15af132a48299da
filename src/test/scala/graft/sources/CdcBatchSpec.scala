package graft.sources

import graft.SparkSpec
import graft.sources.cdc.CdcProtocolException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import MockMaxScaleServer.{Schema, event}

/** `spark.read.format("maxscale-cdc")` — the one-shot bounded changelog
  * pull. Covers: anchor-at-quiet scans, exact (start, end] GTID bounds,
  * parallel range splitting, batch-planner-driven column pruning + filter
  * pushdown (the standard DSv2 contract the STREAMING planner never
  * drives — here it is operative with no session rule), multi-table
  * plan-time `_table` pruning, and the loud-failure contracts (future
  * endGtid, endGtid on a stream). */
class CdcBatchSpec extends SparkSpec {

  private def reader(srv: MockMaxScaleServer): org.apache.spark.sql.DataFrameReader =
    spark.read.format("maxscale-cdc")
      .option("host", "127.0.0.1")
      .option("port", srv.port)
      .option("user", "u").option("password", "p")
      .option("table", "db.t")
      .option("timeoutSeconds", 1)

  test("anchor-at-quiet: a plain batch read returns the whole backlog, typed") {
    val srv = new MockMaxScaleServer(Schema,
      (1L to 20L).map(i => event(i, "insert", i.toInt, s"n$i")))
    try {
      val df = reader(srv).load()
      assert(df.schema("id").dataType == IntegerType)
      val rows = df.orderBy("sequence").collect()
      assert(rows.length == 20)
      assert(rows.map(_.getAs[Int]("id")).toSeq == (1 to 20))
      assert(rows.head.getAs[String]("name") == "n1")
    } finally srv.close()
  }

  test("endGtid + startingGtid slice exactly (start, end]") {
    val srv = new MockMaxScaleServer(Schema,
      (1L to 30L).map(i => event(i, "insert", i.toInt, s"n$i")))
    try {
      val df = reader(srv)
        .option("startingGtid", "0-1-5")
        .option("endGtid", "0-1-25")
        .load()
      assert(df.orderBy("sequence").collect()
        .map(_.getAs[Int]("sequence")).toSeq == (6 to 25))
    } finally srv.close()
  }

  test("a dead server fails the bounded-endGtid batch loudly, fast") {
    // bound-not-rendezvous semantics complete on QUIET streams, but a
    // DEAD server is a fault: the replay reader's connect fails through
    // the reconnect budget and the task surfaces it loudly.
    val srv = new MockMaxScaleServer(Schema, Seq(event(1, "insert", 1, "a")))
    val df = reader(srv).option("endGtid", "0-1-999999").load()
    srv.close()
    val e = intercept[Exception] { df.count() }
    assert(e.getMessage != null)
  }

  test("endGtid is a bound, not a rendezvous: past-tail and not-an-event " +
      "bounds complete at the quiet point with exactly the range's events") {
    // odd sequences only — the domain interleaves this table with others
    val srv = new MockMaxScaleServer(Schema,
      (1L to 99L by 2).map(i => event(i, "insert", i.toInt, s"n$i")))
    try {
      // bound is another shard's position (50 is not an event here):
      // the replay overshoots to 51 and stops — no stall, exact range
      val mid = reader(srv).option("endGtid", "0-1-50").load()
      assert(mid.collect().map(_.getAs[Int]("sequence")).sorted.toSeq ==
        (1 to 49 by 2))
      // bound past the stream's tail: one quiet window completes with
      // what exists — the SQL range-scan behavior
      val past = reader(srv).option("endGtid", "0-1-1000").load()
      assert(past.count() == 50)
    } finally srv.close()
  }

  test("replayPartitions splits the scan into parallel GTID ranges, no loss") {
    val srv = new MockMaxScaleServer(Schema,
      (1L to 1000L).map(i => event(i, "insert", i.toInt, s"n$i")))
    try {
      val df = reader(srv).option("replayPartitions", 4).load()
      assert(df.rdd.getNumPartitions == 4)
      assert(df.count() == 1000)
      assert(df.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0)
        == 1000L * 1001 / 2)
    } finally srv.close()
  }

  test("explicitly bounded scan plans with zero driver wire I/O and " +
      "splits by sequence arithmetic, no loss") {
    val srv = new MockMaxScaleServer(Schema,
      (1L to 1000L).map(i => event(i, "insert", i.toInt, s"n$i")))
    try {
      val df = reader(srv)
        .option("endGtid", "0-1-1000")
        // low threshold: exercise the arithmetic cuts at fixture scale
        // (the default keeps a 1000-span serial — AdaptiveSplitSpec)
        .option("catchupSpanPerConnection", 1)
        .option("replayPartitions", 4).load()
      val before = srv.requestCount("db.t")
      assert(df.rdd.getNumPartitions == 4)
      // planning a named range opens NO probe connection; only the 4
      // executor replays touch the wire
      assert(srv.requestCount("db.t") == before,
        "bounded planning must not tail the range on the driver")
      val counts = df.groupBy(org.apache.spark.sql.functions
        .spark_partition_id().as("p")).count().collect()
        .map(_.getLong(1)).sorted
      assert(counts.sum == 1000)
      // mock GTIDs are dense 1..1000, so arithmetic cuts are exact
      assert(counts.toSeq == Seq(250L, 250L, 250L, 250L),
        s"unbalanced bounded split: ${counts.toSeq}")
      assert(srv.requestCount("db.t") == before + 4)
    } finally srv.close()
  }

  test("batch planner drives DSv2 pruning + pushdown: explain shows both, " +
      "and the wire predicate drops rows before decode") {
    val srv = new MockMaxScaleServer(Schema,
      (1L to 100L).map(i =>
        event(i, if (i % 10 == 0) "delete" else "insert", i.toInt, s"n$i")))
    try {
      val df = reader(srv).load()
        .filter(org.apache.spark.sql.functions.col("event_type") === "delete")
        .select("sequence", "id")
      val rows = df.orderBy("sequence").collect()
      assert(rows.map(_.getAs[Int]("sequence")).toSeq ==
        (10 to 100 by 10))
      // the batch planner drove pushFilters (probe records the call)...
      assert(graft.sources.cdc.CdcPushdownProbe.lastPushed
        .exists(_.contains("event_type")),
        s"batch pushdown not driven: ${graft.sources.cdc.CdcPushdownProbe.lastPushed}")
      // ...and pruneColumns: the physical scan's output is the pruned
      // column set (event_type survives as the filter's input)
      val scan = df.queryExecution.executedPlan.collectLeaves().head
      assert(scan.output.map(_.name).toSet ==
        Set("sequence", "id", "event_type"),
        s"column pruning missed: ${scan.output.map(_.name)}")
    } finally srv.close()
  }

  test("multi-table batch: per-table anchors, _table column, and a pushed " +
      "_table filter prunes the other table's probe entirely") {
    val schemas = Map("db.a" -> Schema, "db.b" -> Schema)
    val srv = new MockMaxScaleServer(Schema, Nil, tableSchemas = schemas)
    try {
      (1L to 5L).foreach(i => srv.pushTo("db.a", event(i, "insert", i.toInt, s"a$i")))
      (1L to 3L).foreach(i => srv.pushTo("db.b", event(i, "insert", i.toInt, s"b$i")))
      val base = spark.read.format("maxscale-cdc")
        .option("host", "127.0.0.1").option("port", srv.port)
        .option("user", "u").option("password", "p")
        .option("tables", "db.a,db.b")
        .option("timeoutSeconds", 1)
      val all = base.load()
      assert(all.schema.fieldNames.last == "_table")
      val counts = all.groupBy("_table").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts == Map("db.a" -> 5L, "db.b" -> 3L))

      // load() itself schema-probes every table; capture AFTER load so
      // the assertion isolates the SCAN's connections
      val onlyA = base.load()
        .filter(org.apache.spark.sql.functions.col("_table") === "db.a")
      val before = srv.requestCount("db.b")
      assert(onlyA.count() == 5)
      // plan-time pruning: the filtered scan never probed db.b
      assert(srv.requestCount("db.b") == before,
        "pruned table was still probed by the batch scan")
    } finally srv.close()
  }

  test("multi-table batch: a post-planning `_table` filter() prunes the " +
      "other table at the re-plan — no probe, no replay") {
    val schemas = Map("db.a" -> Schema, "db.b" -> Schema)
    val srv = new MockMaxScaleServer(Schema, Nil, tableSchemas = schemas)
    try {
      (1L to 5L).foreach(i => srv.pushTo("db.a", event(i, "insert", i.toInt, s"a$i")))
      (1L to 3L).foreach(i => srv.pushTo("db.b", event(i, "insert", i.toInt, s"b$i")))
      val df = spark.read.format("maxscale-cdc")
        .option("host", "127.0.0.1").option("port", srv.port)
        .option("user", "u").option("password", "p")
        .option("tables", "db.a,db.b")
        .option("timeoutSeconds", 1)
        .load()
      val scanExec = df.queryExecution.executedPlan.collectLeaves().head
        .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      val scan = scanExec.scan
        .asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
      assert(scan.filterAttributes().map(_.describe()).contains("_table"))
      // what a DPP subquery delivers after the other join side evaluates;
      // BatchScanExec then re-plans partitions on the SAME batch
      scan.filter(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.EqualTo("_table", "db.a")))
      val batch = scan.toBatch()
      val before = srv.requestCount("db.b")
      val parts = batch.planInputPartitions()
      val factory = batch.createReaderFactory()
      val tableIdx = df.schema.fieldIndex("_table")
      val seqIdx = df.schema.fieldIndex("sequence")
      val got = scala.collection.mutable.Set[(String, Int)]()
      parts.foreach { p =>
        val r = factory.createReader(p)
        try while (r.next()) {
          val row = r.get()
          got += ((row.getUTF8String(tableIdx).toString, row.getInt(seqIdx)))
        } finally r.close()
      }
      assert(got == (1 to 5).map(i => ("db.a", i)).toSet, s"got $got")
      assert(srv.requestCount("db.b") == before,
        "runtime-pruned table was still probed/replayed")
    } finally srv.close()
  }

  test("multi-table composite endGtid bounds one table and anchors the other") {
    val schemas = Map("db.a" -> Schema, "db.b" -> Schema)
    val srv = new MockMaxScaleServer(Schema, Nil, tableSchemas = schemas)
    try {
      (1L to 6L).foreach(i => srv.pushTo("db.a", event(i, "insert", i.toInt, s"a$i")))
      (1L to 4L).foreach(i => srv.pushTo("db.b", event(i, "insert", i.toInt, s"b$i")))
      val df = spark.read.format("maxscale-cdc")
        .option("host", "127.0.0.1").option("port", srv.port)
        .option("user", "u").option("password", "p")
        .option("tables", "db.a,db.b")
        .option("timeoutSeconds", 1)
        .option("endGtid", "db.a=0-1-2,db.b=-")
        .load()
      val counts = df.groupBy("_table").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts == Map("db.a" -> 2L, "db.b" -> 4L))
    } finally srv.close()
  }

  test("composite entries tolerate spaces and reject unsubscribed tables") {
    val schemas = Map("db.a" -> Schema, "db.b" -> Schema)
    val srv = new MockMaxScaleServer(Schema, Nil, tableSchemas = schemas)
    try {
      (1L to 4L).foreach(i => srv.pushTo("db.a", event(i, "insert", i.toInt, s"a$i")))
      (1L to 2L).foreach(i => srv.pushTo("db.b", event(i, "insert", i.toInt, s"b$i")))
      val base = spark.read.format("maxscale-cdc")
        .option("host", "127.0.0.1").option("port", srv.port)
        .option("user", "u").option("password", "p")
        .option("tables", "db.a,db.b").option("timeoutSeconds", 1)
      // the natural spelling with a space after the comma must not
      // silently drop the second entry
      val counts = base.option("endGtid", "db.a=0-1-2, db.b=-").load()
        .groupBy("_table").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts == Map("db.a" -> 2L, "db.b" -> 2L))
      // a typo'd table name would silently become anchor-at-quiet — the
      // dangerous direction — so it is rejected by name
      val e = intercept[Exception] {
        base.option("endGtid", "db.a=0-1-2,db.x=0-1-5").load().count()
      }
      def chain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse("")).toSeq
      assert(chain(e).exists(_.contains("unsubscribed")), s"got: ${chain(e)}")
    } finally srv.close()
  }

  test("endGtid on a STREAMING read is rejected loudly") {
    val srv = new MockMaxScaleServer(Schema, Seq(event(1, "insert", 1, "a")))
    try {
      val e = intercept[Exception] {
        spark.readStream.format("maxscale-cdc")
          .option("host", "127.0.0.1").option("port", srv.port)
          .option("user", "u").option("password", "p")
          .option("table", "db.t").option("timeoutSeconds", 1)
          .option("endGtid", "0-1-1")
          .load().writeStream.format("memory").queryName("cdc_endgtid_stream")
          .start().processAllAvailable()
      }
      def chain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse("")).toSeq
      assert(chain(e).exists(_.contains("endGtid is a batch-read option")),
        s"unexpected error chain: ${chain(e)}")
    } finally srv.close()
  }

  test("bounded slices report sequence-span statistics, so a pulled " +
      "slice broadcasts in the pull-and-join pattern") {
    val srv = new MockMaxScaleServer(Schema,
      (1L to 40L).map(i => event(i, "insert", i.toInt, s"n$i")))
    try {
      val slice = reader(srv)
        .option("startingGtid", "0-1-10").option("endGtid", "0-1-40").load()
      // span upper bound surfaces through the V2 relation's stats
      val stats = slice.queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(30)),
        s"expected span row count 30, got ${stats.rowCount}")
      assert(stats.sizeInBytes < 100000, s"size not derived: ${stats.sizeInBytes}")
      // ...which is what lets the join planner broadcast the slice
      val dim = spark.range(1000).selectExpr("CAST(id AS INT) AS id",
        "concat('d', id) AS dim_name")
      val joined = dim.join(slice, "id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"bounded slice not broadcast:\n$plan")
      assert(joined.count() == 30)

      // unbounded (anchor) scans stay unknown-size: no spurious broadcast
      val anchored = reader(srv).load()
      assert(anchored.queryExecution.optimizedPlan.stats.rowCount.isEmpty)
    } finally srv.close()
  }

  test("SupportsRuntimeFiltering: a post-planning filter() folds into " +
      "the wire predicate and the scan decodes only matching rows") {
    val srv = new MockMaxScaleServer(Schema,
      (1L to 100L).map(i =>
        event(i, if (i % 10 == 0) "delete" else "insert", i.toInt, s"n$i")))
    try {
      val df = reader(srv).option("endGtid", "0-1-100").load()
      val scanExec = df.queryExecution.executedPlan.collectLeaves().head
        .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      val scan = scanExec.scan
        .asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
      assert(scan.filterAttributes().map(_.describe()).contains("event_type"))
      // what a DPP subquery delivers after the other join side evaluates;
      // BatchScanExec's own post-filter sequence is filter() then a FRESH
      // planInputPartitions() on the batch (the planning-time partitions
      // and reader factory are stale by contract — the runtime predicate
      // rides the re-planned partitions)
      scan.filter(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.EqualTo("event_type", "delete")))
      assert(graft.sources.cdc.CdcPushdownProbe.lastBatchRuntimeFilters
        .exists(_.contains("event_type")))
      val batch = scan.toBatch()
      val parts = batch.planInputPartitions()
      val factory = batch.createReaderFactory()
      var n = 0
      parts.foreach { p =>
        val r = factory.createReader(p)
        try while (r.next()) n += 1
        finally r.close()
      }
      assert(n == 10, s"runtime filter not applied: $n of 100 rows dropped")
    } finally srv.close()
  }

  test("GTID-less (synthetic) batch: driver-decoded single partition, " +
      "session-local endGtid bounds respected, quiet-below-bound completes") {
    // no domain/server_id/sequence → no server-side resume token: rows
    // flow through the driver probe (the documented degraded mode)
    val schema =
      """{"namespace":"MaxScaleChangeDataSchema.avro","type":"record",""" +
        """"name":"ChangeRecord","fields":[""" +
        """{"name":"id","type":"int","real_type":"int","length":-1},""" +
        """{"name":"name","type":"string","real_type":"varchar","length":64}]}"""
    def ev(id: Int) = s"""{"id":$id,"name":"n$id"}"""
    val srv = new MockMaxScaleServer(schema, (1 to 8).map(ev))
    try {
      val base = spark.read.format("maxscale-cdc")
        .option("host", "127.0.0.1").option("port", srv.port)
        .option("user", "u").option("password", "p")
        .option("table", "db.t").option("timeoutSeconds", 1)
      val all = base.load()
      assert(all.rdd.getNumPartitions == 1)
      assert(all.collect().map(_.getAs[Int]("id")).sorted.toSeq == (1 to 8))
      // synthetic positions are session-local 0-0-N: a bound slices them
      assert(base.option("endGtid", "0-0-5").load().count() == 5)
      // bound past the tail: quiet completes with what exists
      assert(base.option("endGtid", "0-0-100").load().count() == 8)
    } finally srv.close()
  }

  test("SQL-first consumption: CREATE TABLE USING maxscale-cdc, then SELECT") {
    val srv = new MockMaxScaleServer(Schema,
      (1L to 12L).map(i => event(i, "insert", i.toInt, s"n$i")))
    try {
      spark.sql("DROP TABLE IF EXISTS cdc_sql_t")
      spark.sql(
        s"""CREATE TABLE cdc_sql_t USING `maxscale-cdc` OPTIONS (
           |  host '127.0.0.1', port '${srv.port}',
           |  user 'u', password 'p', table 'db.t', timeoutSeconds '1')
           |""".stripMargin)
      try {
        val n = spark.sql(
          "SELECT count(*) AS n FROM cdc_sql_t WHERE event_type = 'insert'")
          .head.getLong(0)
        assert(n == 12)
        val top = spark.sql(
          "SELECT id, name FROM cdc_sql_t ORDER BY sequence DESC LIMIT 1")
          .head
        assert(top.getInt(0) == 12 && top.getString(1) == "n12")
      } finally spark.sql("DROP TABLE IF EXISTS cdc_sql_t")
    } finally srv.close()
  }

  test("batch and stream agree: same mock backlog, same rows") {
    val srv = new MockMaxScaleServer(Schema,
      (1L to 50L).map(i => event(i, if (i % 2 == 0) "update_after" else "insert",
        (i % 7).toInt, s"n$i")))
    try {
      val batch = reader(srv).load().orderBy("sequence").collect()

      val q = spark.readStream.format("maxscale-cdc")
        .option("host", "127.0.0.1").option("port", srv.port)
        .option("user", "u").option("password", "p")
        .option("table", "db.t").option("timeoutSeconds", 1)
        .load()
        .writeStream.format("memory").queryName("cdc_batch_vs_stream")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val streamed = spark.table("cdc_batch_vs_stream")
          .orderBy("sequence").collect()
        assert(batch.length == 50 && streamed.length == 50)
        assert(batch.map(_.toSeq).toSeq == streamed.map(_.toSeq).toSeq)
      } finally q.stop()
    } finally srv.close()
  }
}
