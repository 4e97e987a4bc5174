package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measurement probe for the TEXT/MM pair-graph family's scaling: the r15
  * decade campaign left exactly three superlinear-or-heavy rows, all on
  * this side — corpus_shard (548 s / 12.2× at 1000×), corpus_funnel
  * (388 s / 9.7×), mm_dedup_clusters (101 s / 12.4×) — and none of them
  * was attributed to a stage, so "prescreen the verify join-back" was a
  * guess, not a diagnosis. This probe times each stage in isolation,
  * builds only SHARED stage builders (Dedup.minhashBase/minhashBuckets/
  * minhashCand/minhashVerifyJoin — private[graft], the same code the
  * queries run), and prices the hamming grid with Dedup.hammingLoad, so
  * the decomposition cannot silently desync from the benchmarks.
  *
  * Stage groups (arg 2, default all):
  *   sig    — each corpus_shard signal priced on the normalize+split base
  *   shard  — corpusShard: signals scan / fp window / budget prefix sum
  *   funnel — corpusVerdict components + the minhash pair graph stages
  *   mm     — phash signature pass, hamming grid price, pair join, CC
  * Usage: runMain graft.text.ShardProbe <sfDir> [sig|shard|funnel|mm|all]
  * Session: GraftConf.local (SPARK_GRAFT_CPUS, _SHUFFLE, _INITIAL_PARTITIONS)
  */
object ShardProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/tmp/sf10"
    val group = if (args.length > 1) args(1) else "all"
    val spark = graft.GraftConf.local()
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[shardprobe] ${(System.nanoTime() - t0) / 1e9}%8.2f s  $label"); r
    }
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val nDocs = docs.count()
    println(s"[shardprobe] n_docs=$nDocs sf=$sfDir shuffle=${graft.GraftConf.shufflePartitions} group=$group")

    if (group == "sig") {
      // micro-attribution INSIDE shardSignals: each signal timed on top
      // of the shared normalize+split base, so the delta over G0/G1
      // prices that signal's own arithmetic
      val base = TextFunctions.withBase(docs)
      time("G0 scan + norm (sum length)")(
        base.agg(sum(length(col("norm")))).head())
      time("G1 + split w (sum size)")(
        base.agg(sum(size(col("w"))), sum(length(col("norm")))).head())
      time("G2 stopword countIn (filter HOF)")(
        base.agg(sum(TextFunctions.countIn(TextFunctions.stopEn))).head())
      val markers = TextFunctions.langMarkers.map { case (_, ws) =>
        sum(TextFunctions.countIn(ws)) }
      time("G3 lang markers (4 countIn)")(
        base.agg(markers.head, markers.tail: _*).head())
      time("G4 punct byte scan [^a-z0-9 ]")(
        base.agg(sum(TextFunctions.punctCount)).head())
      TextFunctions.piiPatterns.zipWithIndex.foreach { case ((name, p), i) =>
        time(s"G${5 + i} $name regex")(
          base.agg(sum(regexp_count(col("norm"), lit(p)))).head())
      }
      time("G8 md5 fp + rank_key")(
        base.agg(max(TextFunctions.exactFp()),
          max(TextFunctions.rankKey(col("doc_id")))).head())
    }

    if (group == "shard" || group == "all") {
      // ---- corpus_shard: signals scan → fp window → budget prefix sum
      // stage S1: the fused signal projection alone (normalize + regex
      // gates + fingerprints). Aggregates CONSUME every signal so column
      // pruning can't skip the work a count() would.
      val sig = TextFunctions.shardSignals(docs)
      time("S1 shardSignals (normalize + quality/lang/pii regex + md5)")(
        sig.agg(sum(col("n_tokens")), sum(col("quality_score")),
          sum(when(col("is_en"), 1L)), sum(when(col("has_pii"), 1L)),
          max(col("fp")), max(col("rank_key"))).head())
      // stage S2: + the exact-dup window (shuffle on fp) + the gates
      val survivors = sig
        .withColumn("is_dup", TextFunctions.isDup())
        .filter(col("is_en") && col("quality_score") >= 0.5 &&
          !col("has_pii") && !col("is_dup"))
        .select(col("doc_id"), col("stratum"), col("n_tokens"), col("rank_key"))
      val nSurv = time("S2 + fp dedup window + gates (survivors)")(survivors.count())
      // stage S3: + phase-1 of the budget prefix sum (range exchange +
      // slice partials; the range sampler re-runs the upstream reduce)
      val ranged = TextFunctions.rangedBySlice(survivors)
      time("S3 + range exchange + slice partials")(
        TextFunctions.sliceTokenAgg(ranged).agg(sum(col("slice_tokens"))).head())
      // stage S4: the full operator
      val nShard = time("S4 FULL corpusShard")(
        TextFunctions.corpusShard(docs, 0.5, 3000L).count())
      println(s"[shardprobe] shard rows: survivors=$nSurv manifest=$nShard")
    }

    if (group == "funnel" || group == "all") {
      // ---- corpusVerdict components (each rescans the corpus today)
      time("F1 quality() pass")(
        TextFunctions.quality(docs).agg(sum(col("quality_score"))).head())
      time("F2 piiScan() pass")(
        TextFunctions.piiScan(docs).agg(sum(when(col("has_pii"), 1L))).head())
      time("F3 Dedup.exact() pass")(
        Dedup.exact(docs).agg(sum(when(col("is_dup"), 1L))).head())
      // ---- the minhash pair graph, stage by stage (shared builders)
      val base = time("F4 minhashBase materialize (sig + shingles, localCheckpoint)")(
        Dedup.minhashBase(docs, 3, 64))
      val buckets = Dedup.minhashBuckets(base, 64, 2)
      time("F5 band buckets (explode over checkpoint, count)")(buckets.count())
      val rawCand = buckets.select(col("doc_id").as("id_a"), col("band"), col("bv"))
        .join(buckets.select(col("doc_id").as("id_b"), col("band"), col("bv")),
          Seq("band", "bv"))
        .filter(col("id_a") < col("id_b"))
      val nRaw = time("F6 band self-join (raw candidates, pre-distinct)")(rawCand.count())
      val cand = Dedup.minhashCand(buckets)
      val nCand = time("F7 + key-only distinct")(cand.count())
      val nVer = time("F8 + verify join-back (shingle arrays attach)")(
        Dedup.minhashVerifyJoin(cand, base).count())
      val nPairs = time("F9 FULL minhashPairs (jaccard >= 0.8)")(
        Dedup.minhashPairs(docs, 3, 64, 2, 0.8).count())
      println(s"[shardprobe] funnel pair rows: raw_cand=$nRaw distinct=$nCand " +
        s"verify_joined=$nVer pairs=$nPairs " +
        f"cand_per_doc=${nRaw.toDouble / nDocs}%.2f")
      time("F10 keepBest over the pair graph")(
        Dedup.keepBest(docs, Dedup.minhashPairs(docs, 3, 64, 2, 0.8))
          .agg(sum(when(col("kept"), 1L))).head())
      time("F11 FULL corpusVerdict")(
        TextFunctions.corpusVerdict(docs, 0.5).agg(count(lit(1))).head())
      time("F12 FULL corpusFunnel")(
        TextFunctions.corpusFunnel(docs, 0.5).collect())
    }

    if (group == "mm" || group == "all") {
      val assets = graft.mm.Multimodal.syntheticAssets(
        spark, graft.Tables.rebalance(docs))
      // stage M1: the signature pass alone
      val signed = assets.toDF()
        .select(col("asset_id").as("doc_id"),
          graft.plans.TextHashes.phashSig(col("payload").cast("string")).as("sig"))
        .filter(col("sig").isNotNull)
      time("M1 phash signature pass")(signed.agg(max(col("sig"))).head())
      // stage M2: the priced hamming grid — the exact candidate mass the
      // pigeonhole join will feed the verify (Σ C(load,2) per chunk)
      val loadRows = time("M2 hammingLoad (priced grid)")(
        Dedup.hammingLoad(signed, 3).collect())
      loadRows.sortBy(_.getLong(0)).foreach(r =>
        println(s"[shardprobe]   chunk=${r.getLong(0)} n=${r.getLong(1)} " +
          s"buckets=${r.getLong(2)} max_load=${r.getLong(3)} " +
          s"cand_pairs=${r.getLong(4)}"))
      // stage M3: the pair join end-to-end (join + xor verify + distinct)
      val nPairs = time("M3 hammingPairs (join + bit_count verify)")(
        graft.mm.Multimodal.phashPairs(assets).count())
      // stage M4: + connected components
      val nCc = time("M4 FULL mm_dedup_clusters (pairs + CC)")(
        Dedup.clusters(
          assets.toDF().select(col("asset_id").as("doc_id")),
          graft.mm.Multimodal.phashPairs(assets)
            .select(col("id_a"), col("id_b"))).count())
      println(s"[shardprobe] mm rows: pairs=$nPairs cc_rows=$nCc " +
        s"grid_cand=${loadRows.map(_.getLong(4)).sum}")
    }
    spark.stop()
  }
}
