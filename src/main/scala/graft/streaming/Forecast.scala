package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col

/** One aligned window's mean for a stream — the unit the online
  * forecaster consumes (produced upstream by windowed ingest aggregation
  * or read back from a rollup level).
  */
case class WindowMean(uuid: String, w_start: Long, v_mean: Double)

private case class HwState(l: Double, b: Double, ring: List[Double],
                           lastW: Long, n: Long, nDropped: Long)

/** Online Holt-Winters — the continuous counterpart of
  * TimeSeriesOps.holtWinters: per-stream (level, trend, seasonal-ring)
  * state in a keyed scan, updated with EXACTLY the batch
  * operator's float recurrence (same Scala doubles the SQL fold
  * evaluates, same association order), so a stream fed the same window
  * means in order reproduces the batch output bit-for-bit — the spec
  * pins it. Each emitted row also carries the one-step-ahead forecast
  * (l + b + s_{t+1−p}), i.e. holtWintersForecast at h = 1, continuously.
  *
  * State is BOUNDED by construction: level, trend, and the last `period`
  * seasonals per stream — no point history. Windows arriving at or
  * before the last applied w_start are DROPPED (the recurrence is
  * order-sensitive; upstream watermarked window aggregation only emits
  * finalized windows in event-time order per key, which is the supported
  * contract) — and the drop is LOUD: every emitted row carries the
  * stream's cumulative `n_dropped`, and each drop logs a warning with
  * the offending (w_start, lastW), so an upstream that violates the
  * in-order contract is visible in both the output and the executor
  * logs instead of silently bending the recurrence (the r13 parity-race
  * lesson: a mid-write micro-batch fed windows out of order and the
  * only symptom was a subtly different level three windows later).
  * Keys partition across executors like every other streaming op
  * here — nothing global.
  *
  * STATE-SCHEMA COMPATIBILITY: adding `nDropped` to HwState (r14)
  * changed the flatMapGroupsWithState state encoder schema, so a query
  * restarted against a checkpoint written by the pre-r14 operator fails
  * Spark's state-store schema check (by design — with the check
  * disabled it would misread state). Deploying this version over an
  * existing stream requires a NEW checkpoint directory; the batch-fold
  * parity contract makes the cutover cheap (re-seed by replaying the
  * finalized window means through the batch operator, or simply restart
  * the stream from the earliest retained window).
  */
object Forecast {

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.streaming.Forecast")

  def holtWinters(means: Dataset[WindowMean], period: Int, alpha: Double,
                  beta: Double, gamma: Double): DataFrame = {
    require(period >= 2, s"period must be at least 2 windows, got $period")
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(beta >= 0 && beta <= 1, s"beta must be in [0, 1], got $beta")
    require(gamma >= 0 && gamma <= 1, s"gamma must be in [0, 1], got $gamma")
    val spark = means.sparkSession
    import spark.implicits._
    val ia = 1.0 - alpha
    val ib = 1.0 - beta
    val ig = 1.0 - gamma
    keyedScan(means, (m: WindowMean) => m.uuid, (m: WindowMean) => (m.w_start, m.v_mean)) {
      (uuid: String, prev: Option[HwState], m: WindowMean) =>
        val st = prev.getOrElse(HwState(0.0, 0.0, Nil, Long.MinValue, 0L, 0L))
        if (m.w_start <= st.lastW) {
          val dropped = st.copy(nDropped = st.nDropped + 1)
          log.warn(s"dropped out-of-order window for stream $uuid: " +
            s"w_start=${m.w_start} <= lastW=${st.lastW} " +
            s"(${dropped.nDropped} dropped so far — upstream violates the " +
            "in-order contract; the recurrence is order-sensitive)")
          (Some(dropped), None)
        } else {
          val (l, b, s) =
            if (st.n == 0L) (m.v_mean, 0.0, 0.0)
            else {
              val sPrev =
                if (st.ring.length >= period) st.ring(st.ring.length - period)
                else 0.0
              val lNew = alpha * (m.v_mean - sPrev) + ia * (st.l + st.b)
              val bNew = beta * (lNew - st.l) + ib * st.b
              val sNew = gamma * (m.v_mean - lNew) + ig * sPrev
              (lNew, bNew, sNew)
            }
          val ring = (st.ring :+ s).takeRight(period)
          // one-step-ahead: s_{t+1−p} is the OLDEST retained seasonal
          // once the ring is full (h = 1 of holtWintersForecast)
          val sNext = if (ring.length >= period) ring.head else 0.0
          (Some(HwState(l, b, ring, m.w_start, st.n + 1, st.nDropped)),
            Some((uuid, m.w_start, m.v_mean, l, b, s, l + 1.0 * b + sNext, st.nDropped)))
        }
    }
      .toDF("uuid", "w_start", "v_mean", "level", "trend", "seasonal",
        "forecast_next", "n_dropped")
      .select(col("uuid"), col("w_start"), col("v_mean"),
        graft.Quant.q6(col("level")).as("level"),
        graft.Quant.q6(col("trend")).as("trend"),
        graft.Quant.q6(col("seasonal")).as("seasonal"),
        graft.Quant.q6(col("forecast_next")).as("forecast_next"),
        col("n_dropped"))
  }
}
