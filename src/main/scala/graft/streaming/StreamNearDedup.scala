package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** A document fanned out to one LSH band bucket, carrying its full
  * signature.
  */
case class BandDoc(band: Int, bv: Long, doc_id: Long, sig: Seq[Long])

/** One first-seen (unmatched-on-arrival) document in a bucket's index. */
case class IndexedSig(doc_id: Long, sig: Seq[Long])

/** A bucket's signature index, carried across micro-batches. */
case class BucketIndex(docs: Seq[IndexedSig])

/** A band-level near-dup hit: `doc_id` agreed >= minAgree with `match_id`
  * in this band's bucket.
  */
case class BandHit(doc_id: Long, band: Int, match_id: Long, agree: Double)

/** Streaming NEAR deduplication — the continuous form of
  * graft.text.Dedup.minhashPairs: as documents arrive, each is minhashed
  * once and fanned out to its LSH band buckets; every bucket keeps the
  * signatures of the documents it has indexed (a keyed scan per
  * (band, bucket) — each executor owns a key range, so the index scales
  * out with the cluster and an arriving document only ever compares
  * against its own buckets' residents, never the corpus).
  *
  * Per-bucket rule (applied in doc_id order within a batch, so the output
  * is deterministic and batch == streaming): an arrival whose full-
  * signature agreement with some indexed resident reaches `minAgree`
  * (agreement fraction estimates Jaccard, the MinHash property) emits a
  * BandHit against its best match and is NOT indexed in that bucket;
  * otherwise it joins the index. A document is a corpus-level near-dup
  * iff it hits in at least one band — bands are independent (no cross-
  * band coordination, the property that lets the index shard freely), so
  * the corpus verdict is a downstream per-doc aggregation of hits.
  *
  * State is O(first-seen docs × bands), each entry one 64-long signature
  * — the standard persistent LSH index, checkpoint-durable. On a
  * long-running stream that is unbounded, so `maxPerBucket` (default off,
  * exact semantics) caps it: a bucket holding that many residents stops
  * indexing NEW ones (arrivals beyond the cap still match against
  * residents, but can no longer catch their OWN later near-dups — the
  * recall trade). The spec pins streaming-over-chunks == one-shot batch
  * == a sequential reference fold.
  *
  * STATE-SCHEMA COMPATIBILITY: the bucket key is the batch band value,
  * xxhash64 (a Long); it was a 32-bit hash before, so the state key
  * schema changed and a query restarted against a checkpoint written by
  * the 32-bit operator fails Spark's state-store schema check. Deploying
  * this version over an existing near-dedup stream requires a NEW
  * checkpoint directory (re-seed by replaying the corpus through it).
  */
object StreamNearDedup {

  /** Fan a raw documents frame out to its LSH band buckets: one codegen'd
    * MinHashSig pass per document, then one row per band with the bucket
    * key — the batch band keys (Dedup.bandKeys), so the stream buckets
    * exactly like Dedup.minhashBuckets.
    */
  def keyed(docs: DataFrame, n: Int = 3, numHashes: Int = 64,
            bandRows: Int = 2): Dataset[BandDoc] = {
    val sigd = docs.select(col("doc_id").cast("long").as("doc_id"),
        graft.plans.TextHashes.minhashSig(
          graft.plans.TextHashes.normText(col("text")), n, numHashes)
          .as("sig"))
      .filter(col("sig").isNotNull)
    implicit val e = Encoders.product[BandDoc]
    sigd.select(col("doc_id"), col("sig"),
        explode(graft.text.Dedup.bandKeys(numHashes, bandRows)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.bv").as("bv"),
        col("doc_id"), col("sig"))
      .as[BandDoc]
  }

  /** `cappedCounter` (optional) makes the maxPerBucket recall trade
    * OBSERVABLE: it counts arrivals that were unique (no hit emitted) but
    * arrived at a full bucket and were NOT indexed — the docs whose later
    * near-dups this band can no longer catch. Without it an over-cap
    * unique arrival is indistinguishable from an indexed one at runtime.
    * Pass `spark.sparkContext.longAccumulator("...")` and read it per
    * batch (e.g. from a StreamingQueryListener) to monitor recall decay.
    */
  def bandHits(bandDocs: Dataset[BandDoc],
               minAgree: Double = 0.5,
               maxPerBucket: Int = Int.MaxValue,
               cappedCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[BandHit] = {
    require(maxPerBucket > 0, s"maxPerBucket must be positive, got $maxPerBucket")
    implicit val ke = Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong)
    implicit val se = Encoders.product[BucketIndex]
    implicit val he = Encoders.product[BandHit]
    keyedScan(bandDocs, (d: BandDoc) => (d.band, d.bv), (d: BandDoc) => d.doc_id) {
      (key: (Int, Long), st: Option[BucketIndex], d: BandDoc) =>
        // a Vector from the batch's first step on, so each append is cheap
        val idx = st.fold(Vector.empty[IndexedSig])(_.docs.toVector)
        var bestAgree = -1.0
        var bestId = Long.MaxValue
        idx.foreach { s =>
          var m = 0
          var i = 0
          val k = d.sig.length
          while (i < k) { if (d.sig(i) == s.sig(i)) m += 1; i += 1 }
          val a = m.toDouble / k
          if (a > bestAgree || (a == bestAgree && s.doc_id < bestId)) {
            bestAgree = a; bestId = s.doc_id
          }
        }
        if (bestAgree >= minAgree) (st, Some(BandHit(d.doc_id, key._1, bestId, bestAgree)))
        else {
          val full = idx.size >= maxPerBucket
          if (full) cappedCounter.foreach(_.add(1L))
          (Some(BucketIndex(if (full) idx else idx :+ IndexedSig(d.doc_id, d.sig))), None)
        }
    }
  }
}
