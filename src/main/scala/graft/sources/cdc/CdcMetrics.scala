package graft.sources.cdc

import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}

/** DSv2 custom metrics for the CDC scan — the pushdown work is only
  * trustworthy if it is measurable ("measure, don't guess"): the SQL UI
  * / metrics listeners see, per micro-batch, how many wire rows the
  * pushed predicate dropped before decode vs how many were decoded and
  * emitted. Aggregation is a plain sum over task updates. */
final class CdcWireFilteredRowsMetric extends CustomSumMetric {
  override def name(): String = CdcMetrics.FilteredRows
  override def description(): String =
    "wire rows dropped by the pushed predicate before decode"
}

final class CdcDecodedRowsMetric extends CustomSumMetric {
  override def name(): String = CdcMetrics.DecodedRows
  override def description(): String =
    "wire rows decoded and emitted by the CDC readers"
}

/** Rows that did not come out of the replay reader's byte-level decode
  * ([[CdcRowDecoder]]): emitted rows materialised, in whole or in part,
  * from wire strings through [[SqlTypes.cast]] or the raw/normalized
  * string codecs. A positional replay of well-formed rows keeps it at 0,
  * so a silent fall back shows up in the SQL UI. */
final class CdcSlowPathRowsMetric extends CustomSumMetric {
  override def name(): String = CdcMetrics.SlowPathRows
  override def description(): String =
    "rows emitted through the wire-string path instead of the typed decode"
}

/** Bytes each replay task framed off the wire, newlines included, over
  * all its connections: with [[CdcDecodedRowsMetric]] the wire cost per
  * emitted row, and the input a decode rate is measured against. */
final class CdcWireBytesMetric extends CustomSumMetric {
  override def name(): String = CdcMetrics.WireBytes
  override def description(): String = "bytes framed off the wire by the CDC replay readers"
}

/** Executor-side per-task value (shipped back with task completion). */
final case class CdcTaskMetric(metricName: String, metricValue: Long)
    extends CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = metricValue
}

object CdcMetrics {
  val FilteredRows = "cdcWireFilteredRows"
  val DecodedRows = "cdcDecodedRows"
  val SlowPathRows = "cdcSlowPathRows"
  val WireBytes = "cdcWireBytes"
  def supported: Array[CustomMetric] =
    Array(new CdcWireFilteredRowsMetric, new CdcDecodedRowsMetric,
      new CdcSlowPathRowsMetric, new CdcWireBytesMetric)
}
