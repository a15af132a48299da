package graft.sources.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Gap-free bootstrap: snapshot the changelog as a batch, then follow it
  * as a stream from exactly where the snapshot ended.
  *
  * The classic CDC consumer bootstrap — "process the history, then stay
  * current" — has a seam bug when written by hand: a plain batch read
  * anchors at SOME position, but the anchor lives inside the scan (and
  * re-anchors on every action), so the follow-up stream's `startingGtid`
  * is a guess, and a guess is either a gap (events lost between anchor
  * and stream start) or an overlap (events processed twice). The fix is
  * to pick the anchor FIRST, outside any scan:
  *
  *   1. [[anchor]] probes the table to its first quiet moment and
  *      returns the last produced GTID — a stable position, chosen once.
  *   2. The snapshot is a batch read bounded by `endGtid = anchor`
  *      (exact, repeatable: every action re-reads the same closed range).
  *   3. The stream starts at `startingGtid = anchor` — the batch bound
  *      is inclusive and the stream's start is exclusive (reference
  *      resume semantics, cdc_connector.cpp:199-213), so the two
  *      partition the changelog with no gap and no overlap.
  *
  * {{{
  * val (snapshot, follow) = CdcBootstrap.snapshotAndFollow(spark, Map(
  *   "host" -> h, "port" -> "4001", "user" -> u, "password" -> pw,
  *   "table" -> "db.t"))
  * snapshot.write.parquet(dir)                  // history, exactly once
  * follow.writeStream.foreachBatch(...).start() // everything after
  * }}}
  */
object CdcBootstrap {

  /** The table's current position: tail from `startingGtid` (or the
    * stream start) until the server first goes quiet, and return the
    * last produced GTID — `None` for an empty changelog. This is the
    * same "now" that `Trigger.AvailableNow` and the unbounded batch
    * scan anchor on, reified so callers can hold it stable across the
    * snapshot/follow seam. Requires the GTID metadata columns (without
    * a server-side resume token there is no seam to coordinate). */
  def anchor(options: Map[String, String]): Option[String] = {
    val opts = parse(options)
    require(opts.allTables.size == 1,
      "anchor() probes one table; multi-table setups use anchors()")
    probeAnchor(opts, opts.table)._2.map(_.toString)
  }

  /** Per-table anchors for a multi-table (or single-table) setup, in
    * `tables` order — each table probed to its own quiet point, probes
    * running concurrently (independent connections; sequential probing
    * would cost N tables × quiet-wait). */
  def anchors(options: Map[String, String]): Seq[(String, Option[String])] = {
    val opts = parse(options)
    anchorsOf(opts).map { case (t, (_, g)) => t -> g.map(_.toString) }
  }

  private def anchorsOf(
      opts: CdcOptions): Seq[(String, (Seq[CdcField], Option[Gtid]))] =
    CdcConcurrent.map(opts.allTables)(t => t -> probeAnchor(opts, t))

  private def parse(options: Map[String, String]): CdcOptions = {
    val o = CdcOptions(new org.apache.spark.sql.util
      .CaseInsensitiveStringMap(scala.jdk.CollectionConverters
        .MapHasAsJava(options).asJava))
    // the bootstrap's seam is a single anchor GTID per table; an
    // interleaved multi-domain changelog has no single-triple anchor —
    // fail at the API boundary, not with a confusing parse error deep
    // in the snapshot's endGtid plumbing
    require(!o.domainVector,
      "maxscale-cdc: CdcBootstrap does not support domainMode=vector — " +
        "the snapshot/follow seam anchors on a single GTID; bootstrap " +
        "per domain, or start the vector stream from stream start")
    o
  }

  /** One probe pass per table: the schema pre-read AND the quiet-point
    * anchor. The fields feed `spark.read.schema(...)` downstream so the
    * snapshot/follow loads skip their inference connections. */
  private def probeAnchor(
      opts: CdcOptions, table: String): (Seq[CdcField], Option[Gtid]) = {
    val start = opts.startFor(table)
    val fields = CdcProbe.schemaFields(opts, table)
    val tailer = new CdcTailer(opts.host, opts.port, opts.user,
      opts.password, table, fields, start, opts.timeoutMs)
    if (!tailer.hasGtidColumns) throw new CdcProtocolException(
      s"$table has no domain/server_id/sequence columns — no " +
        "server-side position exists to anchor a snapshot/follow seam on")
    tailer.start()
    try {
      // drain as we wait: a backlog larger than the tailer's buffer
      // would otherwise hit backpressure and never reach quiet (the
      // same bounded-memory walk the batch planner's probe does)
      val deadline =
        System.nanoTime() + math.max(60000L, 4L * opts.timeoutMs) * 1000000L
      while (!tailer.wentQuiet && System.nanoTime() < deadline) {
        tailer.checkFatal()
        tailer.drainPositions()
        Thread.sleep(10)
      }
      tailer.checkFatal()
      (fields, tailer.latest)
    } finally tailer.shutdown()
  }

  /** One stable anchor, two DataFrames: the bounded snapshot batch
    * `(startingGtid, anchor]` and the follow stream starting at the
    * anchor. An empty changelog yields an empty-range snapshot (bounded
    * at `startingGtid`, or unbounded-empty at stream start) and a
    * stream from the same position — still seam-free. */
  def snapshotAndFollow(
      spark: SparkSession,
      options: Map[String, String]): (DataFrame, DataFrame) = {
    val opts = parse(options)
    if (opts.allTables.size > 1) return snapshotAndFollowMulti(spark, options)
    val (fields, a0) = probeAnchor(opts, opts.table)
    val a = a0.map(_.toString)
    // the probe's schema rides spark.read.schema(...): the snapshot and
    // follow loads open no inference connections of their own
    val struct = CdcProbe.outputSchema(opts, Seq(opts.table -> fields))
    val snapshot = a match {
      case Some(g) =>
        // the anchor was OBSERVED, so the snapshot range is known to
        // exist in full — strict stall semantics, never quiet-truncation
        spark.read.format("maxscale-cdc").schema(struct)
          .options(options + ("endGtid" -> g) +
            ("endGtidObserved" -> "true")).load()
      case None =>
        // nothing existed at anchor time; an UNbounded batch would
        // re-anchor per action and overlap the stream — the seam-free
        // snapshot of an empty changelog is a pinned-empty DataFrame
        // with the source's schema
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), struct)
    }
    val follow = spark.readStream.format("maxscale-cdc").schema(struct)
      .options(a.fold(options)(g => options + ("startingGtid" -> g))).load()
    (snapshot, follow)
  }

  /** Multi-table seam: each table anchors independently, composed via
    * the composite GTID forms. A table empty at anchor time snapshots
    * as the pinned-empty `endGtid = 0-0-0` slice ([[Gtid.Floor]]) and
    * streams from its configured start — per table, the same
    * no-gap/no-overlap partition as the single-table path.
    *
    * With `schemaMode=normalized` the same seam carries N
    * DIFFERENT-schema tables: the per-table probes feed the normalized
    * shape's validation instead of the uniform same-schema check, and
    * both sides of the seam emit the normalized changelog — the
    * whole-database bootstrap ("snapshot every table's history, then
    * stay current") as one batch DataFrame plus one stream. */
  private def snapshotAndFollowMulti(
      spark: SparkSession,
      options: Map[String, String]): (DataFrame, DataFrame) = {
    val opts = parse(options)
    val probed = anchorsOf(opts)
    // the per-table probes double as the schema validation the
    // inference path would have done (the user-specified schema below
    // skips it): same-schema for uniform mode, metadata-column
    // validation for normalized mode
    val struct =
      CdcProbe.outputSchema(opts, probed.map { case (t, (f, _)) => t -> f })
    val as = probed.map { case (t, (_, a)) => t -> a }
    val endComposite = as.map { case (t, a) =>
      s"$t=${a.getOrElse(Gtid.Floor)}"
    }.mkString(",")
    val startComposite = as.map { case (t, a) =>
      val pos = a.orElse(opts.startFor(t))
      s"$t=${pos.map(_.toString).getOrElse(GtidOffset.StartJson)}"
    }.mkString(",")
    // anchors were OBSERVED (floor entries never touch the wire), so the
    // snapshot ranges are known to exist in full — strict stall semantics
    val snapshot = spark.read.format("maxscale-cdc").schema(struct)
      .options(options + ("endGtid" -> endComposite) +
        ("endGtidObserved" -> "true")).load()
    val follow = spark.readStream.format("maxscale-cdc").schema(struct)
      .options(options + ("startingGtid" -> startComposite)).load()
    (snapshot, follow)
  }
}
