package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** One event of the merged as-of input: a left probe row or a right
  * reference sample, distinguished so the state fold can route them.
  */
case class AsofEvent(uuid: String, time: Long, value: Double, isLeft: Boolean)

/** A left row enriched with the as-of match (None = no reference yet, or
  * the match is older than the staleness tolerance).
  */
case class AsofMatch(uuid: String, time: Long, l_value: Double,
                     asof_t: Option[Long], asof_value: Option[Double])

/** Streaming as-of join — the batch asofJoin run continuously: each left
  * row is enriched with the latest right value at/before its timestamp,
  * with the "latest right sample" carried across micro-batches in keyed
  * state (O(1) state per key — this is the whole point: a stream-stream
  * interval join would buffer a watermark's worth of BOTH sides).
  *
  * Semantics pinned to the batch operator (TimeSeriesOps.asofJoin):
  * right-at-t is visible to left-at-t (<= inclusive), duplicate right
  * timestamps resolve last-write-wins to the max value, and a
  * `toleranceUs` staleness bound nulls matches older than the window.
  * A keyed scan per uuid in (time, isLeft, value) order: rights sort
  * before lefts at equal timestamps, and ascending value makes the
  * max-value right the one that sticks.
  */
object AsofStream {

  def joined(left: Dataset[RawPoint], right: Dataset[RawPoint],
             toleranceUs: Option[Long] = None): Dataset[AsofMatch] = {
    implicit val ee = Encoders.product[AsofEvent]
    implicit val ke = Encoders.STRING
    implicit val se = Encoders.product[LastPoint]
    implicit val me = Encoders.product[AsofMatch]
    val events =
      left.map(p => AsofEvent(p.uuid, p.time, p.value, isLeft = true))
        .union(right.map(p => AsofEvent(p.uuid, p.time, p.value, isLeft = false)))
    keyedScan(events, (e: AsofEvent) => e.uuid, (e: AsofEvent) => (e.time, e.isLeft, e.value)) {
      (_: String, st: Option[LastPoint], e: AsofEvent) =>
        if (!e.isLeft) (Some(LastPoint(e.time, e.value)), None)
        else {
          // never match a FUTURE reference: under out-of-order delivery
          // the state may already hold a later sample than this probe —
          // emitting it would be anti-causal (the batch operator, which
          // sees all data, would have matched the older reference this
          // state has already discarded)
          val m = st.filter(s => s.lastTime <= e.time &&
            toleranceUs.forall(e.time - s.lastTime <= _))
          (st, Some(AsofMatch(e.uuid, e.time, e.value, m.map(_.lastTime), m.map(_.lastValue))))
        }
    }
  }
}
