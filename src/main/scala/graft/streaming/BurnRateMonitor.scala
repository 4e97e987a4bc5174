package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.ts.TimeSeriesOps

/** Continuous SLO burn-rate monitoring — the streaming face of the
  * batch multi-window burn report (TimeSeriesOps.burnRate): per
  * (stream, grid window), the bad-event fraction over the error budget,
  * emitted in append mode once the watermark closes the window. The
  * batch operator answers "what burned last month" from parquet; an
  * alert needs the same number DURING the window's week, continuously,
  * without re-aggregating history per micro-batch — which is exactly a
  * watermarked windowed aggregation (bounded state: open windows only).
  *
  * Arithmetic contract: the batch operator's — exact long counts, then
  * the same two float divisions (TimeSeriesOps.burnCols), so a closed
  * streaming window equals the batch row for that window bit-for-bit
  * (spec-gated). Windows align to the epoch grid
  * (timestamp_micros(0) origin) like every batch grid with start=0;
  * callers align `start` accordingly in batch comparisons.
  *
  * Late data beyond the watermark is dropped by Structured Streaming —
  * the monitoring trade (a closed alert window never reopens); the
  * batch report over the same data remains the ground truth for
  * backfill.
  */
object BurnRateMonitor {

  /** `points`: a streaming Dataset of RawPoint (uuid, time µs, value).
    * Emits (uuid, w_start, n_events, n_bad, bad_frac, burn) per closed
    * window of `widthUs`, bad = value > badGt.
    */
  def burn(points: Dataset[RawPoint], widthUs: Long, badGt: Double, slo: Double,
           watermarkDelayMs: Long = 0L): DataFrame = {
    require(widthUs > 0, s"width must be positive, got $widthUs")
    require(slo > 0 && slo < 1, s"slo must be in (0,1), got $slo")
    eventTime(points, s"$watermarkDelayMs milliseconds")
      .groupBy(col("uuid"), window(col("ts"), s"$widthUs microseconds"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("value") > badGt, 1L).otherwise(0L)).as("n_bad"))
      .select(Seq(col("uuid"), unix_micros(col("window.start")).as("w_start"),
        col("n_events"), col("n_bad")) ++ TimeSeriesOps.burnCols(slo): _*)
  }
}
