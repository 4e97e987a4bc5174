package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

package object streaming {

  /** The keyed in-order scan — the one stateful shape of this package:
    * rows group by `key`, and each key's rows fold through `step` in
    * `order`, carrying the key's state across micro-batches in the state
    * store (checkpoint-durable, hash-partitioned by key: each executor
    * owns its key range's state, nothing global). A step sees the key,
    * the state so far (None before the key's first step) and one row, and
    * returns the state after it plus at most one output row; the last
    * state of a batch is stored (a step never clears it).
    *
    * In-order delivery contract: within a micro-batch a group's iterator
    * is unordered, so its rows are sorted by `order` before the fold (a
    * stable sort: equal keys keep arrival order). ACROSS batches the fold
    * is correct only if each batch carries a key's later rows, which a
    * watermarked/ordered source, or per-batch file atomicity as in Ingest,
    * provides. The same scan runs unchanged on a batch Dataset (one group
    * call per key, empty initial state), so a stream over chunks can be
    * cross-checked against one batch call.
    *
    * Append output, no timeout: an operator that needs a timer or
    * re-emits a per-group snapshot (GapMonitor, TopK, StreamSample)
    * writes its own flatMapGroupsWithState.
    */
  private[streaming] def keyedScan[I, K: Encoder, S: Encoder, O: Encoder, B: Ordering](
      rows: Dataset[I], key: I => K, order: I => B)(
      step: (K, Option[S], I) => (Option[S], Option[O])): Dataset[O] =
    rows.groupByKey(key)
      .flatMapGroupsWithState[S, O](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: K, it: Iterator[I], state: GroupState[S]) =>
          var st = state.getOption
          val out = Vector.newBuilder[O]
          it.toIndexedSeq.sortBy(order).foreach { row =>
            val (next, o) = step(k, st, row)
            st = next
            out ++= o
          }
          st.foreach(state.update)
          out.result().iterator
      }

  /** The event-time column of a point stream: `ts` =
    * timestamp_micros(time), watermarked `delay` behind (a Spark duration
    * string). Windows built on it align to the epoch grid.
    */
  private[streaming] def eventTime(points: Dataset[RawPoint], delay: String): DataFrame =
    points.toDF()
      .withColumn("ts", timestamp_micros(col("time")))
      .withWatermark("ts", delay)
}
