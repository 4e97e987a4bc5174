package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

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
  * across micro-batches by the state store (hash-partitioned by
  * fingerprint, so state size scales out with the cluster, and lookups
  * never touch the corpus).
  *
  * Within a micro-batch arrivals are ordered by doc_id so the canonical id
  * is the minimum of the batch — making the output deterministic and, when
  * the stream delivers doc_ids in order, identical to the batch
  * Dedup.exact verdicts (the spec cross-checks the two).
  */
object StreamDedup {

  /** Normalize + fingerprint a raw documents frame into the keyed input. */
  def keyed(docs: DataFrame): Dataset[DocKey] = {
    implicit val e = Encoders.product[DocKey]
    docs.select(col("doc_id").cast("long").as("doc_id"),
        graft.text.TextFunctions.exactFp(graft.text.TextFunctions.norm).as("fp"))
      .as[DocKey]
  }

  def dedup(docs: Dataset[DocKey]): Dataset[DedupVerdict] =
    firstSeen(docs, (d: DocKey) => d.fp, (d: DocKey) => d.doc_id) { (d, keep, dup) =>
      DedupVerdict(d.doc_id, d.fp, keep, dup)
    }(Encoders.product[DedupVerdict])

  /** The first-seen rule: a keyed scan per fingerprint in id order whose
    * state is the group's first id; `verdict(row, keep id, is_dup)` is
    * each arrival's output, a dup iff its group already had a keeper.
    */
  private[streaming] def firstSeen[I, O: Encoder](docs: Dataset[I], fp: I => String,
      id: I => Long)(verdict: (I, Long, Boolean) => O): Dataset[O] = {
    implicit val ke = Encoders.STRING
    implicit val se = Encoders.scalaLong
    keyedScan(docs, fp, id) { (_: String, keep: Option[Long], d: I) =>
      val k = keep.getOrElse(id(d))
      (Some(k), Some(verdict(d, k, keep.isDefined)))
    }
  }
}
