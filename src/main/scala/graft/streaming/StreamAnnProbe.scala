package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.sim.IvfIndex

/** Continuous ANN serving — the streaming complement of the persisted
  * IvfIndex: each micro-batch of arriving query vectors
  * (vec_id, embedding) is probed against the index exactly as a batch
  * caller would (IvfIndex.query — centroids broadcast once per batch,
  * candidate scan pruned to the nProbe cell partitions, exact-cosine
  * rerank). The per-query top-k is a rank over the batch's candidates,
  * which append-mode streaming aggregation can't express, so the probe
  * runs inside foreachBatch — the standard stream-static enrichment
  * shape; arrivals never touch each other, so any micro-batch slicing
  * yields the same per-query answers as one batch call.
  *
  * The index is re-read per batch through the DataFrame handles, so a
  * concurrently REBUILT index (IvfIndex.build to the same dir) is picked
  * up on the next micro-batch without restarting the stream.
  */
object StreamAnnProbe {

  /** Wire `queries` (streaming) through the index; `sink(result,
    * batchId)` receives each micro-batch's (q_id, n_id, rank, cos_sim).
    * Against an index built with IvfIndex.build(byLabel = true), arriving
    * (vec_id, embedding, label) queries get the filtered answer
    * (q_id, n_id, label, rank, cos_sim) the same way: IvfIndex.query
    * reads the layout, and per-query answers still depend only on the
    * index (the spec pins chunked streaming == the fused batch
    * emb_ann_filtered path).
    * Returns the un-started writer so the caller owns checkpoint/trigger.
    */
  def probe(queries: DataFrame, index: IvfIndex, k: Int, nProbe: Int = 4)
           (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    queries.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(index.query(batch, k, nProbe), batchId)
    }
}
