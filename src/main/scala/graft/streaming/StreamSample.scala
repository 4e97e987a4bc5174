package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.text.TextFunctions

/** An arriving document reference: stratum (e.g. source) + id. */
case class DocArrival(stratum: String, docId: Long)

/** A current sample member; `nSeen` is the stratum's arrival count at
  * emission (monotone — the latest sample is the one with max nSeen).
  */
case class SampledDoc(stratum: String, docId: Long, rankKey: String, nSeen: Long)

private[streaming] case class KeptDoc(rankKey: String, docId: Long)
private[streaming] case class SampleState(keep: Seq[KeptDoc], n: Long)

/** Continuous bounded uniform sampling — the streaming face of the
  * deterministic hash samples (sampleFixed / sampleBalanced): keep the
  * `n` smallest (rank key, doc_id) keys per stratum in keyed state, the
  * rank key being the batch samplers' own (TextFunctions.rankKey).
  * Because the batch samples are DEFINED as a hash-order prefix, the
  * streaming sample is not merely statistically equivalent to the batch
  * cut — it is BIT-IDENTICAL to sampleBalanced over whatever arrived,
  * regardless of arrival order or chunking (a min-n set is an
  * order-free fold), and stays so forever as the stream grows. A
  * classical reservoir sample gives none of that: RNG-dependent,
  * order-dependent, and irreproducible across engines.
  *
  * State is exactly n keys per stratum — bounded for life. Emission:
  * every touched stratum re-emits its full current sample per
  * micro-batch (n rows, Update mode) — a downstream sink overwrites by
  * (stratum, max nSeen).
  */
object StreamSample {

  def balancedSample(docs: Dataset[DocArrival], n: Int): Dataset[SampledDoc] = {
    require(n > 0, s"n must be positive, got $n")
    implicit val se = Encoders.product[SampledDoc]
    implicit val ke = Encoders.STRING
    // (stratum, rank key, docId): the batch samplers' hash order, one
    // projection before the keyed state
    implicit val ae = Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.scalaLong)
    docs.select(col("stratum"), TextFunctions.rankKey(col("docId")), col("docId"))
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SampleState, SampledDoc](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[(String, String, Long)], state: GroupState[SampleState]) =>
          val prev = state.getOption.getOrElse(SampleState(Seq.empty, 0L))
          val arrivals = it.toIndexedSeq
          val merged = (prev.keep ++ arrivals.map { case (_, h, id) => KeptDoc(h, id) })
            .distinct
            .sortBy(k => (k.rankKey, k.docId))
            .take(n)
          val total = prev.n + arrivals.size
          state.update(SampleState(merged, total))
          merged.map(k => SampledDoc(g, k.docId, k.rankKey, total)).iterator
      }(Encoders.product[SampleState], se)
  }
}
