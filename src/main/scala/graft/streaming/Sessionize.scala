package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming sessionization of the ingest stream — the continuous
  * counterpart of TimeSeriesOps.sessionize, built on Structured
  * Streaming's native session_window (merging event-time sessions in the
  * state store, per stream key, closed and emitted once the watermark
  * passes the session end). State is partitioned by uuid exactly like
  * Deadband's — each executor owns its key range, nothing global.
  *
  * Session-boundary semantics: session_window extends a session while the
  * next event arrives strictly within `gapUs` of the previous one, so a
  * dt of exactly `gapUs` SPLITS here but does not split in the batch
  * operator (which starts a new session only when dt > gap). Real
  * telemetry timestamps don't land on the boundary; the spec pins
  * equality away from it.
  *
  * Same code path runs on a batch Dataset (session_window is a plain
  * grouping expression there) — used by the spec to cross-check.
  */
object Sessionize {

  def sessions(points: Dataset[RawPoint], gapUs: Long,
               watermarkDelay: String = "0 seconds"): DataFrame =
    eventTime(points, watermarkDelay)
      .groupBy(col("uuid"), session_window(col("ts"), s"$gapUs microseconds"))
      .agg(
        min(col("time")).as("s_start"),
        max(col("time")).as("s_end"),
        count(lit(1)).as("n_events"),
        graft.Quant.mean6(sum(graft.Quant.us6(col("value"))), count(lit(1))).as("v_mean"))
      .select(col("uuid"), col("s_start"), col("s_end"), col("n_events"),
        col("v_mean"), (col("s_end") - col("s_start")).as("duration_us"))
}
