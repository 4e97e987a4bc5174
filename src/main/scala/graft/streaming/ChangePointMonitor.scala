package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col

/** One aligned window's exact micro-unit sum for a stream — the unit the
  * online change-point monitor consumes (the same (Σus6, n) pair the
  * batch operator aggregates per window, so the two-sample statistic
  * weighs points, not windows).
  */
case class WindowSum(uuid: String, w_start: Long, sum_us: Long, n: Long)

private case class CpState(ring: List[(Long, Long, Long)], lastW: Long)

/** Online mean-shift change-point monitor — the continuous counterpart
  * of TimeSeriesOps.changePoints: per stream, the trailing 2k+2 window
  * summaries ride a keyed scan's state and every arriving window
  * recomputes the boundary scores with EXACTLY the batch arithmetic
  * (exact µ-unit side sums → rounded-integer side means → integer
  * |shift| and apex comparisons), so the emitted flags are bit-identical
  * to the batch operator over the same finalized windows — the spec pins
  * it.
  *
  * The apex rule needs one window of lookahead (a flag at boundary w
  * compares score(w) against score(w+1)), so decisions emit ONE WINDOW
  * LATE by construction; the batch operator's end-of-range decision
  * (next_score NULL → pass) has no streaming analogue — a stream never
  * ends — so parity is over boundaries with a defined successor, the
  * documented deviation.
  *
  * State is bounded at 2k+2 (sum, n) pairs per stream; out-of-order or
  * duplicate windows (w_start ≤ the last applied) are dropped — the
  * upstream watermarked window aggregation emits finalized windows in
  * event-time order per key, the supported contract. Consecutive ring
  * positions are consecutive NON-EMPTY windows, exactly like the batch
  * frame (rows-between, not range-between).
  */
object ChangePointMonitor {

  def changePoints(windows: Dataset[WindowSum], k: Int,
                   minShiftUs: Long): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(minShiftUs >= 0, s"minShiftUs must be non-negative, got $minShiftUs")
    val spark = windows.sparkSession
    import spark.implicits._
    val cap = 2 * k + 2
    // the batch round(CAST(sum AS DOUBLE)/n, 0): shortest-repr BigDecimal
    // HALF_UP — away from zero for negative halves, where math.round
    // would flip toward +∞ and break bit parity
    def rnd(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    // score at ring position p (0-based from the OLDEST retained window):
    // left = windows [p−k, p−1], right = [p, p+k−1]; defined only with
    // full context on both sides — the batch l_cnt/r_cnt guard
    def scoreAt(ring: Vector[(Long, Long, Long)], p: Int): Option[(Long, Long)] =
      if (p - k < 0 || p + k - 1 >= ring.length) None
      else {
        val l = ring.slice(p - k, p)
        val r = ring.slice(p, p + k)
        val lm = rnd(l.map(_._2).sum.toDouble / l.map(_._3).sum)
        val rm = rnd(r.map(_._2).sum.toDouble / r.map(_._3).sum)
        Some((lm, rm))
      }
    keyedScan(windows, (w: WindowSum) => w.uuid, (w: WindowSum) => (w.w_start, w.sum_us)) {
      (uuid: String, prev: Option[CpState], w: WindowSum) =>
        val st = prev.getOrElse(CpState(Nil, Long.MinValue))
        if (w.w_start <= st.lastW) (Some(st), None)
        else {
          val ring = (st.ring :+ ((w.w_start, w.sum_us, w.n))).takeRight(cap)
          val rv = ring.toVector
          // newest decidable boundary: needs k right windows AND its
          // successor's score (one more right window) — position
          // len−1−k relative to the ring
          val p = rv.length - 1 - k
          val flag = for {
            (lm, rm) <- if (p >= 0) scoreAt(rv, p) else None
            score = math.abs(rm - lm)
            if score >= minShiftUs
            prevOk = scoreAt(rv, p - 1).forall { case (a, b) =>
              score > math.abs(b - a) }
            if prevOk
            (na, nb) <- scoreAt(rv, p + 1)
            if score >= math.abs(nb - na)
          } yield (uuid, rv(p)._1,
            lm.toDouble / 1e6 + 0d, rm.toDouble / 1e6 + 0d,
            (rm - lm).toDouble / 1e6 + 0d)
          (Some(CpState(ring, w.w_start)), flag)
        }
    }
      .toDF("uuid", "w_start", "mean_before", "mean_after", "shift")
      .select(col("uuid"), col("w_start"), col("mean_before"),
        col("mean_after"), col("shift"))
  }
}
