package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A detected telemetry silence for one stream. `resumedAt == -1` marks an
  * OPEN outage (raised by an event-time timer while the stream is still
  * silent); a later sample closes it with the actual resume time.
  */
case class GapEvent(uuid: String, silenceStart: Long, resumedAt: Long, open: Boolean)

/** Per-stream monitor state: when the stream was last heard from, and
  * whether the current silence has already been alerted (one open alert
  * per outage, not one per trigger).
  */
case class GapState(lastSeen: Long, alerted: Boolean)

/** RawPoint plus its event-time column: the watermark attribute must be
  * IN the stateful operator's input for event-time timeouts (a projection
  * dropping it fails Spark's unsupported-operation check).
  */
private[streaming] case class TimedPoint(uuid: String, time: Long, value: Double,
                                         ts: java.sql.Timestamp)

/** Continuous dead-sensor detection — the streaming front half of the
  * batch gaps()/outages() queries, with the one thing batch can't give:
  * an alert while the outage is STILL IN PROGRESS. Per-stream keyed state
  * holds the last-seen event time; an EVENT-TIME TIMER (set to
  * lastSeen + gap, fired by watermark progress) raises the open alert
  * without any data arriving for that stream — polling the whole store
  * for absence is exactly what doesn't scale, and processing-time timers
  * would mis-fire on replay/backfill where event time races ahead of the
  * clock. A sample arriving after silence > gap closes the outage with
  * the resume time (emitted even if the open alert never fired, e.g.
  * when the watermark lagged the gap — the batch-equivalent record).
  *
  * keyedScan's in-order contract, on its own flatMapGroupsWithState for
  * the timer: within a batch the group iterator is sorted by
  * (time, value).
  */
object GapMonitor {

  /** `watermarkDelay` is the out-of-orderness bound (Spark duration
    * string); alerts fire once the watermark passes lastSeen + gapUs.
    */
  def monitor(points: Dataset[RawPoint], gapUs: Long,
              watermarkDelay: String = "0 seconds"): Dataset[GapEvent] = {
    require(gapUs > 0, s"gapUs must be positive, got $gapUs")
    implicit val ke = Encoders.STRING
    implicit val pe = Encoders.product[TimedPoint]
    eventTime(points, watermarkDelay).as[TimedPoint]
      .groupByKey(_.uuid)
      .flatMapGroupsWithState[GapState, GapEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uuid: String, it: Iterator[TimedPoint], state: GroupState[GapState]) =>
          val out = Vector.newBuilder[GapEvent]
          val sorted = it.toIndexedSeq.sortBy(p => (p.time, p.value))
          if (sorted.isEmpty && state.hasTimedOut) {
            // silence exceeded the gap with no data: raise the open alert
            // once; no new timer — the next event re-arms monitoring
            val s = state.get
            if (!s.alerted) out += GapEvent(uuid, s.lastSeen, -1L, open = true)
            state.update(s.copy(alerted = true))
          } else if (sorted.nonEmpty) {
            var st = state.getOption
            sorted.foreach { p =>
              st.foreach { s =>
                if (p.time - s.lastSeen > gapUs)
                  out += GapEvent(uuid, s.lastSeen, p.time, open = false)
              }
              if (st.forall(_.lastSeen < p.time)) st = Some(GapState(p.time, alerted = false))
            }
            state.update(st.get)
            // arm the silence timer; a timer must sit past the current
            // watermark (late data can leave lastSeen + gap behind it)
            val target = st.get.lastSeen / 1000 + gapUs / 1000 + 1
            state.setTimeoutTimestamp(math.max(target, state.getCurrentWatermarkMs() + 1))
          }
          out.result().iterator
      }(Encoders.product[GapState], Encoders.product[GapEvent])
  }
}
