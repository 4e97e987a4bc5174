package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** A raw ingest point (mirrors Store's point schema, pre-versioning). */
case class RawPoint(uuid: String, time: Long, value: Double)

/** Per-stream continuation state: the last point a scan kept (Deadband's
  * last emitted point, CounterRate's last sample, AsofStream's latest
  * reference). The field names and types are the state-store schema.
  */
case class LastPoint(lastTime: Long, lastValue: Double)

/** Deadband compression on the ingest stream — the classic TSDB write-path
  * reducer: a point is emitted only when it moves at least `epsilon` away
  * from the LAST EMITTED value of its stream; everything in between is
  * dropped. The reference's tree stores every inserted point, but deadband
  * pre-filters are the standard front-end for high-rate telemetry sources
  * feeding stores like it.
  *
  * A keyed scan per uuid in (time, value) order, state = the last emitted
  * point; the spec cross-checks streaming output against the batch result.
  */
object Deadband {

  def compress(points: Dataset[RawPoint], epsilon: Double): Dataset[RawPoint] = {
    implicit val ke = Encoders.STRING
    implicit val se = Encoders.product[LastPoint]
    implicit val pe = Encoders.product[RawPoint]
    keyedScan(points, (p: RawPoint) => p.uuid, (p: RawPoint) => (p.time, p.value)) {
      (_: String, st: Option[LastPoint], p: RawPoint) =>
        if (st.forall(s => math.abs(p.value - s.lastValue) >= epsilon))
          (Some(LastPoint(p.time, p.value)), Some(p))
        else (st, None)
    }
  }
}
