package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

case class EvV(event_id: Long, user_id: Long, ts: Timestamp,
    grp: String, value: Double)

class CdcAggViewSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private def freshDir(): String = {
    val d = java.nio.file.Files
      .createTempDirectory(SparkSpec.localDir.toPath, "aggview-")
    java.nio.file.Files.delete(d)
    d.toString
  }

  private def recompute(stateDir: String) =
    CdcSink.readState(spark, stateDir)
      .groupBy(col("grp").as("g"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(28, 2))).cast(DecimalType(28, 2)).as("s1"),
        sum((col("value").cast(DecimalType(28, 2)) *
          col("value").cast(DecimalType(28, 2))).cast(DecimalType(38, 4)))
          .cast(DecimalType(38, 4)).as("s2"))

  private def viewSet(aggDir: String) =
    CdcAggView.read(spark, aggDir)
      .select("g", "n", "s1", "s2")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).toPlainString, r.getDecimal(3).toPlainString)).toSet

  private def apply(b: Seq[EvV], id: Long, st: String, ag: String): Unit =
    CdcAggView.applyBatch(b.toDF(), id, st, ag,
      "user_id", Seq("ts", "event_id"), "grp", "value")

  test("view tracks inserts and group-moving updates, exactly") {
    val st = freshDir(); val ag = freshDir()
    apply(Seq(
      EvV(1, 1, ts(0), "a", 10.50), EvV(2, 2, ts(1), "a", 2.25),
      EvV(3, 3, ts(2), "b", 4.00)), 0L, st, ag)
    // update moves user 2 from group a to b and changes its value
    apply(Seq(
      EvV(4, 2, ts(5), "b", 7.75), EvV(5, 4, ts(6), "a", 1.00)), 1L, st, ag)

    val expect = recompute(st)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).toPlainString, r.getDecimal(3).toPlainString)).toSet
    assert(viewSet(ag) == expect)
    // and the moved mass is where it should be
    val byG = CdcAggView.read(spark, ag).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byG == Map("a" -> 2L, "b" -> 2L))
  }

  test("foreachBatch retry (same batchId) leaves the view untouched") {
    val st = freshDir(); val ag = freshDir()
    apply(Seq(EvV(1, 1, ts(0), "a", 3.00)), 0L, st, ag)
    val b2 = Seq(EvV(2, 1, ts(3), "b", 5.00), EvV(3, 2, ts(4), "a", 1.50))
    apply(b2, 1L, st, ag)
    val after = viewSet(ag)
    apply(b2, 1L, st, ag) // retry: marker skips the view, state re-merge idempotent
    assert(viewSet(ag) == after)
    assert(viewSet(ag) == recompute(st).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString,
        r.getDecimal(3).toPlainString)).toSet)
  }

  test("writer adapter maintains state + view through a real stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val st = freshDir(); val ag = freshDir()
    val in = MemoryStream[EvV](spark)
    val q = in.toDF().writeStream
      .foreachBatch(CdcAggView.writer(
        st, ag, "user_id", Seq("ts", "event_id"), "grp", "value"))
      .start()
    try {
      in.addData(EvV(1, 1, ts(0), "a", 2.00), EvV(2, 2, ts(1), "b", 3.00))
      q.processAllAvailable()
      in.addData(EvV(3, 1, ts(4), "b", 6.00))
      q.processAllAvailable()
      val view = CdcAggView.read(spark, ag).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2).doubleValue))
        .toMap
      assert(view == Map("b" -> ((2L, 9.0))))
      assert(CdcSink.readState(spark, st).count() == 2)
    } finally q.stop()
  }

  test("replaying an already-merged batch under a NEW id is a natural no-op") {
    // diffs are computed against current state; a row equal to its stored
    // version wins nothing, so even without the marker the view is safe
    val st = freshDir(); val ag = freshDir()
    val b1 = Seq(EvV(1, 1, ts(0), "a", 3.00), EvV(2, 2, ts(1), "b", 4.00))
    apply(b1, 0L, st, ag)
    val after = viewSet(ag)
    apply(b1, 99L, st, ag)
    assert(viewSet(ag) == after)
  }

  test("view stays exact while the state's batches land as deltas") {
    val st = freshDir(); val ag = freshDir()
    val groups = Vector("a", "b", "c")
    // a 1,200-key base, so the small batches below land as delta files
    apply((1L to 1200L).map(k =>
      EvV(k, k, ts(0), groups((k % 3).toInt), (k % 100) + 0.25)), 0L, st, ag)
    def exact(): Set[(String, Long, String, String)] = recompute(st)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).toPlainString, r.getDecimal(3).toPlainString)).toSet
    val batches = Seq(
      // group-moving updates
      Seq(EvV(2001, 1, ts(1), "c", 9.75), EvV(2002, 2, ts(1), "a", 1.50)),
      // user 1 again (its stored row is now a delta row) and a new user
      Seq(EvV(2003, 1, ts(2), "a", 3.00), EvV(2004, 1300, ts(2), "b", 7.25)),
      // newer than user 2's base row, older than its delta row: no change
      Seq(EvV(1500, 2, ts(0), "c", 5.00)),
      Seq(EvV(2005, 3, ts(3), "b", 0.50), EvV(2006, 4, ts(3), "b", 12.00)))
    batches.zipWithIndex.foreach { case (b, i) =>
      apply(b, i + 1L, st, ag)
      assert(CdcSink.generation(st).deltas.size == i + 1,
        s"batch $i did not land as a delta")
      assert(viewSet(ag) == exact(), s"view diverged after batch $i")
    }
  }
}
