package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A document on the ingest stream, reduced to identity + dedup key. */
case class DocKey(doc_id: Long, fp: String)

/** First-seen verdict for a streamed document. */
case class DedupVerdict(doc_id: Long, fp: String, keep_id: Long, is_dup: Boolean)

/** Streaming exact deduplication — the continuous form of
  * graft.text.Dedup.exact: as documents arrive, each fingerprint group
  * keeps the first-seen doc_id as its canonical representative and every
  * later arrival is flagged a duplicate of it. This is how a training-data
  * pipeline dedups an APPEND-ONLY corpus without re-scanning history:
  * state = one (fp → keep_id) entry per distinct document seen, carried
  * across micro-batches by the state store (checkpoint-durable, hash-
  * partitioned by fingerprint — each executor owns its key range, so state
  * size scales out with the cluster, and lookups never touch the corpus).
  *
  * Within a micro-batch the group iterator is unordered; arrivals are
  * ordered by doc_id so the canonical id is the minimum of the batch —
  * making the output deterministic and, when the stream delivers doc_ids
  * in order, identical to the batch Dedup.exact verdicts.
  *
  * The same function runs unchanged on a batch Dataset (one group call per
  * key, empty initial state) — the spec cross-checks streaming output
  * against the batch result.
  */
object StreamDedup {

  /** Normalize + fingerprint a raw documents frame into the keyed input. */
  def keyed(docs: DataFrame): Dataset[DocKey] = {
    implicit val e = Encoders.product[DocKey]
    docs.select(col("doc_id").cast("long").as("doc_id"),
        graft.text.TextFunctions.exactFp(graft.text.TextFunctions.norm).as("fp"))
      .as[DocKey]
  }

  def dedup(docs: Dataset[DocKey]): Dataset[DedupVerdict] = {
    implicit val ke = Encoders.STRING
    implicit val ve = Encoders.product[DedupVerdict]
    docs
      .groupByKey(_.fp)
      .flatMapGroupsWithState[Long, DedupVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (fp: String, it: Iterator[DocKey], state: GroupState[Long]) =>
          val arrivals = it.toIndexedSeq.sortBy(_.doc_id)
          var keep = state.getOption
          val out = Vector.newBuilder[DedupVerdict]
          arrivals.foreach { d =>
            keep match {
              case None =>
                keep = Some(d.doc_id)
                out += DedupVerdict(d.doc_id, fp, d.doc_id, is_dup = false)
              case Some(k) =>
                out += DedupVerdict(d.doc_id, fp, k, is_dup = true)
            }
          }
          keep.foreach(state.update)
          out.result().iterator
      }(Encoders.scalaLong, Encoders.product[DedupVerdict])
  }
}
