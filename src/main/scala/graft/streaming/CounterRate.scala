package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** A counter sample's reset-aware increase since the previous sample. */
case class Increase(uuid: String, time: Long, value: Double, inc: Double)

/** Streaming counter-increase extraction — the PromQL increase()/rate()
  * front half, continuous: per stream, each arriving sample's positive
  * delta against the PREVIOUS sample (a drop means the counter reset, and
  * the new absolute value IS the increase), with the previous sample
  * carried across micro-batches in keyed state. The first sample of a
  * stream has no predecessor → inc = NULL-like NaN is avoided by emitting
  * nothing for it (matching the batch operator, which lags a null).
  *
  * Downstream, the increases aggregate into windows with an ordinary
  * watermarked groupBy (Ingest.statStream shape) — increases are
  * order-independent micro-unit sums, which is exactly why the batch
  * operator (TimeSeriesOps.counterRate) sums them per window too.
  *
  * A keyed scan per uuid in (time, value) order, state = the last sample.
  */
object CounterRate {

  def increases(points: Dataset[RawPoint]): Dataset[Increase] = {
    implicit val ke = Encoders.STRING
    implicit val se = Encoders.product[LastPoint]
    implicit val ie = Encoders.product[Increase]
    keyedScan(points, (p: RawPoint) => p.uuid, (p: RawPoint) => (p.time, p.value)) {
      (_: String, st: Option[LastPoint], p: RawPoint) =>
        // first sample: no predecessor, nothing emitted
        val inc = st.map(s => if (p.value >= s.lastValue) p.value - s.lastValue else p.value)
        (Some(LastPoint(p.time, p.value)), inc.map(Increase(p.uuid, p.time, p.value, _)))
    }
  }
}
