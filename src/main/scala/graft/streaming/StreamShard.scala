package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}

/** A document with its stateless shard-gate signals attached. */
case class ShardDoc(doc_id: Long, fp: String, is_en: Boolean,
                    quality_ok: Boolean, has_pii: Boolean)

/** The continuous shard verdict for one document. */
case class ShardVerdict(doc_id: Long, is_en: Boolean, quality_ok: Boolean,
                        has_pii: Boolean, is_dup: Boolean, keep: Boolean)

/** Streaming shard gate — the continuous front half of
  * TextFunctions.corpusShard: every arriving document gets its keep/drop
  * verdict the moment it lands. The language / quality / PII signals are
  * the SAME fused one-projection pass as the batch shard
  * (TextFunctions.shardSignals — stateless, so it streams unchanged);
  * only the exact-dedup gate needs state: StreamDedup's first-seen rule,
  * one (fingerprint → first-seen doc_id) entry per distinct document.
  * keep = en ∧ quality ∧ ¬PII ∧ ¬dup.
  *
  * The per-stratum token-budget fill stays a BATCH finalization over the
  * accumulated keeps (a global running sum is order-defined and would
  * serialize the stream); in production the verdict stream lands in the
  * shard staging table and the budget cut runs once per shard ship.
  */
object StreamShard {

  /** Attach the fused gate signals (one normalized scan, stateless). */
  def keyed(docs: DataFrame, minQuality: Double = 0.5): Dataset[ShardDoc] = {
    import org.apache.spark.sql.functions.col
    implicit val e = Encoders.product[ShardDoc]
    graft.text.TextFunctions.shardSignals(docs)
      .select(col("doc_id"), col("fp"), col("is_en"),
        (col("quality_score") >= minQuality).as("quality_ok"), col("has_pii"))
      .as[ShardDoc]
  }

  def verdicts(docs: Dataset[ShardDoc]): Dataset[ShardVerdict] =
    StreamDedup.firstSeen(docs, (d: ShardDoc) => d.fp, (d: ShardDoc) => d.doc_id) {
      (d, _, dup) =>
        ShardVerdict(d.doc_id, d.is_en, d.quality_ok, d.has_pii, is_dup = dup,
          keep = d.is_en && d.quality_ok && !d.has_pii && !dup)
    }(Encoders.product[ShardVerdict])
}
