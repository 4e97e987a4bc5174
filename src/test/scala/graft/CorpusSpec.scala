package graft

import org.apache.spark.sql.functions._
import graft.sim.Vectors
import graft.text.{Dedup, TextFunctions => TF}

/** The training-data operator stacks over the real tables, and the
  * fused-shard drift guard.
  */
class CorpusSpec extends SparkSuite {

  test("phrases scores the word2vec discounted lift from exact counts") {
    import spark.implicits._
    // "x y" × 12 → N = 24 tokens, n_x = n_y = 12, n_xy = 12, n_yx = 11
    // score(x,y) = (12−5)·24/144 = 7/6; score(y,x) = (11−5)·24/144 = 1.0
    val d = Seq((1L, Seq.fill(12)("x y").mkString(" "))).toDF("doc_id", "text")
    val p = TF.phrases(d).orderBy(col("score").desc).collect()
    assert(p.length == 2, p.mkString(", "))
    assert(p(0).getString(0) == "x" && p(0).getString(1) == "y")
    assert(p(0).getLong(2) == 12L && p(0).getLong(3) == 12L && p(0).getLong(4) == 12L)
    assert(math.abs(p(0).getDouble(5) - 7.0 / 6) < 1e-6)
    assert(p(1).getString(0) == "y" && p(1).getDouble(5) == 1.0)
  }

  test("zipfCurve emits exactly the power-of-two ranks with exact counts") {
    import spark.implicits._
    // frequencies: w1×8, w2×5, w3×3, w4×2, w5×1 → ranks 1,2,4 survive
    val text = (Seq.fill(8)("w1") ++ Seq.fill(5)("w2") ++ Seq.fill(3)("w3")
      ++ Seq.fill(2)("w4") ++ Seq("w5")).mkString(" ")
    val d = Seq((1L, text)).toDF("doc_id", "text")
    val r = TF.zipfCurve(d, maxRank = 4).orderBy("rank").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2))).toSeq
    assert(r == Seq((1L, "w1", 8L), (2L, "w2", 5L), (4L, "w4", 2L)))
  }

  test("qualitySweep counts survivors and word mass per cut in one row") {
    import spark.implicits._
    // stopword-free short docs score 0.3·(1 − punct) + 0.3·min(n/100, 1):
    // both docs land strictly between 0.3 and 0.4 → survive the 0.2
    // cut only; cuts at 0.4+ keep nothing
    val d = Seq((1L, "aa bb cc"), (2L, "dd ee")).toDF("doc_id", "text")
    val r = TF.qualitySweep(d, Seq(0.2, 0.4)).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      == ((2L, 5L, 0L, 0L)))
  }

  test("fused corpus_shard equals the composed gate pipeline") {
    val docs = Tables.load(spark, sfDir, "documents")
    // the composition corpusShard fuses: per-gate operators chained by
    // doc_id joins, budget over the survivors — any arithmetic drift in
    // the fused plan shows up as a row diff here
    val lang = TF.langId(docs).select(col("doc_id"), col("lang_pred"))
    val keep = TF.corpusFilter(docs, 0.5).select(col("doc_id"), col("keep"))
    val composed = TF.tokenBudget(
        docs.join(lang, "doc_id").join(keep, "doc_id")
          .filter(col("lang_pred") === "en" && col("keep")),
        "source", 3000L)
      .orderBy("doc_id").collect()
    val fused = TF.corpusShard(docs, 0.5, 3000L).orderBy("doc_id").collect()
    assert(composed.length == fused.length && composed.nonEmpty)
    composed.zip(fused).foreach { case (c, f) => assert(c == f) }
  }

  test("weighted sampling keeps every doc when rate x quality reaches 1.0") {
    import spark.implicits._
    // 100 stopwords, no punctuation → quality_score exactly 1.0; at rate
    // 1.0 the threshold saturates past 4 hex chars, and the short-circuit
    // must keep ALL of them (the h = 'ffff' corner would otherwise drop
    // ~1/65536 deterministically)
    val perfect = Seq.fill(100)("the").mkString(" ")
    val docs = (1 to 64).map(i => (i.toLong, perfect)).toDF("doc_id", "text")
    assert(TF.sampleWeighted(docs, 1.0).count() == 64)
    // and rate 0 keeps nothing
    assert(TF.sampleWeighted(docs, 0.0).count() == 0)
  }

  test("near-dup shard keeps only cluster representatives") {
    import spark.implicits._
    // doc 2 is a NEAR copy of doc 1 (one word appended → 3-shingle
    // Jaccard 12/13), so the exact-fingerprint shard keeps both but the
    // near-dup shard must drop it; doc 3 is unrelated and survives
    val base = "the quick brown fox jumps over the lazy dog and runs far away today"
    val docs = Seq(
      (1L, base),
      (2L, base + " tonight"),
      (3L, "the weather and the sea and the sky look calm before the storm")
    ).toDF("doc_id", "text").withColumn("source", lit("s"))
    val pairs = graft.text.Dedup.minhashPairs(docs, 3, 64, 2, 0.8)
    val near = TF.corpusShardNear(docs, pairs, 0.0, 100000L)
      .select("doc_id").as[Long].collect().toSet
    assert(near == Set(1L, 3L), s"$near")
    val exact = TF.corpusShard(docs, 0.0, 100000L)
      .select("doc_id").as[Long].collect().toSet
    assert(exact == Set(1L, 2L, 3L), s"$exact")
  }

  test("identical docs under n words survive the near-dup shard, not the exact one") {
    import spark.implicits._
    // two identical 2-word docs have no 3-shingles, so no minhash pair
    // links them: corpusShardNear keeps both, corpusShard only the first
    val docs = Seq(
      (1L, "the cat"),
      (2L, "the cat"),
      (3L, "the weather and the sea and the sky look calm before the storm")
    ).toDF("doc_id", "text").withColumn("source", lit("s"))
    val pairs = graft.text.Dedup.minhashPairs(docs, 3, 64, 2, 0.8)
    assert(pairs.isEmpty)
    val near = TF.corpusShardNear(docs, pairs, 0.0, 100000L)
      .select("doc_id").as[Long].collect().toSet
    assert(near == Set(1L, 2L, 3L), s"$near")
    val exact = TF.corpusShard(docs, 0.0, 100000L)
      .select("doc_id").as[Long].collect().toSet
    assert(exact == Set(1L, 3L), s"$exact")
  }

  test("sequence packing is the contiguous token stream cut at capacity") {
    import spark.implicits._
    // three docs of 3/4/2 tokens in one stratum; hash order is by
    // md5(doc_id) so compute the expected order the same way
    val docs = Seq((1L, "a b c"), (2L, "d e f g"), (3L, "h i"))
      .toDF("doc_id", "text").withColumn("source", lit("s"))
    val got = TF.tokenPack(docs, "source", 4L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val order = Seq(1L, 2L, 3L).sortBy(id =>
      (java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString, id))
    val n = Map(1L -> 3L, 2L -> 4L, 3L -> 2L)
    var cum = 0L
    order.foreach { id =>
      val start = cum
      assert(got(id) == (n(id), start / 4, start % 4), s"doc $id: ${got(id)}")
      cum += n(id)
    }
    // a doc starting mid-pack with n_tokens + offset > capacity crosses
    // into the next pack — the loader contract the docstring promises
    assert(got.values.exists { case (nt, _, off) => off + nt > 4 })
  }

  test("corpus TVFs answer from SQL like the operators") {
    val docs = Tables.load(spark, sfDir, "documents")
    docs.createOrReplaceTempView("tvf_docs")
    val viaSql = spark.sql(
        "SELECT * FROM graft_shard('tvf_docs', 0.5, 3000) ORDER BY doc_id")
      .collect().toSeq
    val direct = TF.corpusShard(docs, 0.5, 3000L).orderBy("doc_id").collect().toSeq
    assert(viaSql == direct && viaSql.nonEmpty)
    assert(spark.sql("SELECT * FROM graft_dedup_exact('tvf_docs')").count()
      == docs.count())
  }

  test("bigram LM score equals the hand-computed inverse probabilities") {
    import graft.text.TextFunctions
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    // corpus bigrams: (a,b):3 (b,a):1 (b,c):1; starts: a:3 b:2
    // doc 1 terms: 3/3, 2/1, 3/3 -> mean 4/3; doc 2: 3/3, 2/1 -> mean 3/2
    val full = TextFunctions.lmScore(docs, vocab = 1024)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(full == Set((1L, 3L, 0L, 1.333333), (2L, 2L, 0L, 1.5)), s"$full")
    // vocab 1: only 'a' survives (count tie with 'b' broken word-asc),
    // b and c collapse to the OOV token; same arithmetic over (a,T,...)
    val capped = TextFunctions.lmScore(docs, vocab = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(capped == Set((1L, 3L, 2L, 1.333333), (2L, 2L, 2L, 1.5)), s"$capped")
  }

  test("token mixture allocates sqrt-smoothed budgets and fills in md5 order") {
    import spark.implicits._
    // stratum a: 9 docs × 4 tokens = 36; stratum b: 1 doc × 4 = 4.
    // sqrt shares 6 / 2 over denom 8 → budgets floor(32·6/8) = 24 (six
    // a-docs) and floor(32·2/8) = 8 (the one b-doc) — the tail source
    // gets 25% of the budget for 10% of the mass
    val docs = ((1 to 9).map(i => (i.toLong, "a", "w x y z")) :+
      (10L, "b", "w x y z")).toDF("doc_id", "source", "text")
    val got = TF.tokenMixture(docs, "source", 32L).collect()
    val byStratum = got.groupBy(_.getString(1))
    assert(byStratum("a").length == 6 && byStratum("b").length == 1, s"${got.toSeq}")
    assert(byStratum("a").head.getLong(4) == 24L && byStratum("b").head.getLong(4) == 8L)
    // the six a-docs are the first six in (md5(doc_id), doc_id) order
    val expA = docs.filter(col("source") === "a")
      .withColumn("rk", md5(col("doc_id").cast("string")))
      .orderBy("rk", "doc_id").limit(6)
      .collect().map(_.getLong(0)).toSet
    assert(byStratum("a").map(_.getLong(0)).toSet == expA)
  }

  test("token epochs reports shares, targets, and the repeat factor") {
    import spark.implicits._
    // same masses as the mixture test: a = 36 tokens (9 docs), b = 4
    // tokens (1 doc); sqrt shares 6/8 and 2/8 → targets 24 and 8;
    // epochs 24/36 (subsampled) and 8/4 = 2.0 (two repeats needed)
    val docs = ((1 to 9).map(i => (i.toLong, "a", "w x y z")) :+
      (10L, "b", "w x y z")).toDF("doc_id", "source", "text")
    val got = TF.tokenEpochs(docs, "source", 32L).orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5)))
    assert(got.toSeq == Seq(
      ("a", 9L, 36L, 0.75, 24L, 0.666667),
      ("b", 1L, 4L, 0.25, 8L, 2.0)), s"${got.toSeq}")
  }

  test("splitLeakage counts eval docs with a near-dup in train") {
    import spark.implicits._
    // at valFrac = 0.5 the frozen md5 split puts ids 1,2 in train and
    // 5,6 in val (md5("split|id")[0:4] < '8000' → val). 5 ≈ 1 (train
    // neighbor → leaked); 6 ≈ nothing (clean); 2 ≈ 1 is train-internal
    // and must not count
    val a = (1 to 40).map(i => s"a$i").mkString(" ")
    val b = (1 to 40).map(i => s"b$i").mkString(" ")
    val d = Seq(
      (1L, a), (2L, a + " x"), (5L, a + " y"), (6L, b))
      .toDF("doc_id", "text")
    val r = TF.splitLeakage(d, 0.5, 0.0).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    assert(r.toSeq == Seq(("val", 2L, 1L, 0.5)))
  }

  test("operators expose the stacks over the real tables") {
    val docs = Tables.load(spark, sfDir, "documents")
    val nDocs = docs.count()
    assert(TF.quality(docs).count() == nDocs)
    assert(Dedup.exact(docs).count() == nDocs)
    val pairs = Dedup.minhashPairs(docs)
    assert(Dedup.clusters(docs, pairs).count() == nDocs)
    assert(TF.corpusShard(docs).count() > 0)
    assert(TF.corpusShardNear(docs, Dedup.minhashPairs(docs, 3, tau = 0.8)).count() > 0)
    assert(TF.tokenPack(docs, "source", 512L).count() == nDocs)
    assert(TF.tokenMixture(docs, "source", 10000L).count() > 0)
    assert(TF.sampleSplit(docs, 0.2, 0.1).count() == nDocs)
    assert(TF.sampleSplitClustered(docs, 0.2, 0.1).count() == nDocs)
    assert(TF.corpusVerdict(docs).count() == nDocs)
    assert(TF.corpusFunnel(docs).count() > 0)
    assert(TF.temperatureMixture(docs, "source", 10000L).count() > 0)
    assert(TF.repProfile(docs).count() == nDocs)
    val emb = Tables.load(spark, sfDir, "embeddings")
    val nVecs = emb.count()
    assert(Vectors.norms(emb).count() == nVecs)
    assert(Vectors.centroidSim(emb).count() == nVecs)
    assert(Vectors.outliers(emb, 2.0).count() < nVecs)
    // semantic-dedup clusters: Dedup.clusters over the cosine pair graph,
    // vec_id renamed to doc_id and back (emb_clusters' composition)
    val embClusters = Dedup.clusters(
        emb.select(col("vec_id").as("doc_id")),
        Vectors.cosinePairs(emb, 0.4).select(col("id_a"), col("id_b")))
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
    assert(embClusters.count() == nVecs)
    assert(Vectors.annTopK(emb, 5, 10).count() == 50)
    assert(Vectors.annRecallIvfPq(emb, 5, 10).count() == 1)
    assert(Vectors.ivfProbeCurve(emb, 5, 10).count() == 5)
    assert(Vectors.pqRerankCurve(emb, 5, 10).count() == 4)
    assert(Vectors.pqBalance(emb).count() == 128)
    assert(Vectors.knnPurity(emb, 0.4, 3).count() > 0)
  }

  test("split assignment is stable under corpus growth and partitions everything") {
    val docs = Tables.load(spark, sfDir, "documents")
    val full = TF.sampleSplit(docs, 0.05, 0.1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // every doc gets exactly one label; all three labels appear at these rates
    assert(full.size == docs.count())
    assert(Set("train", "val", "test").subsetOf(full.values.toSet))
    // a HALF corpus assigns the same splits to its docs — growing the
    // corpus later never moves an existing document between splits
    val half = TF.sampleSplit(docs.filter(col("doc_id") % 2 === 0), 0.05, 0.1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    half.foreach { case (id, s) => assert(full(id) == s, s"doc $id moved to $s") }
    // independence from the sampling hashes: the split fraction of the
    // weighted-sample survivors stays near the global cut (domain tag)
    val nVal = full.count(_._2 == "val").toDouble / full.size
    assert(nVal > 0.01 && nVal < 0.12, s"val fraction $nVal")
  }

  test("sampleSplitClustered co-splits a near-dup group, singletons unmoved") {
    import spark.implicits._
    // same plant as the splitLeakage spec: 1 ≈ 2 ≈ 5 is one near-dup
    // cluster, 6 is clean. The frozen per-DOC md5 split at (0.5, 0.0)
    // puts 1,2 in train and 5,6 in val — i.e. doc 5 leaks. The clustered
    // split hashes cluster_id = 1 for the whole group, so 5 MOVES to
    // train with its duplicates; singleton 6 keeps its sampleSplit label.
    val a = (1 to 40).map(i => s"a$i").mkString(" ")
    val b = (1 to 40).map(i => s"b$i").mkString(" ")
    val d = Seq(
      (1L, a), (2L, a + " x"), (5L, a + " y"), (6L, b))
      .toDF("doc_id", "text")
    val r = TF.sampleSplitClustered(d, 0.5, 0.0).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getString(2)))).toMap
    assert(r(1L) == ((1L, "train")) && r(2L) == ((1L, "train")) &&
      r(5L) == ((1L, "train")), s"cluster group split: $r")
    assert(r(6L) == ((6L, "val")), s"singleton moved: ${r(6L)}")
    // and the remediation closes the leak the document split had
    assert(TF.splitLeakage(d, 0.5, 0.0).collect()
      .map(x => x.getLong(2)).sum == 1L)              // doc split: 1 leak
  }

  test("splitLeakageClustered reads zero over the clustered split") {
    import spark.implicits._
    // same plant as the splitLeakage spec (which reads 1 leak at the
    // document split): clustered, docs 1,2,5 co-split into train via
    // cluster_id 1, so the eval side is just clean singleton 6
    val a = (1 to 40).map(i => s"a$i").mkString(" ")
    val b = (1 to 40).map(i => s"b$i").mkString(" ")
    val d = Seq(
      (1L, a), (2L, a + " x"), (5L, a + " y"), (6L, b))
      .toDF("doc_id", "text")
    val r = TF.splitLeakageClustered(d, 0.5, 0.0).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    assert(r.toSeq == Seq(("val", 1L, 0L, 0.0)), r.toSeq)
  }

  test("temperatureMixture allocates exact quarter-power shares") {
    import spark.implicits._
    // masses 16 and 1 make every quarter-power weight exact: 2/4/8/16
    // against 1 — shares, targets, and epoch factors all hand-checkable
    val d = Seq(
      (1L, (1 to 16).map(i => s"t$i").mkString(" "), "a"),
      (2L, "u1", "b"))
      .toDF("doc_id", "text", "source")
    val r = TF.temperatureMixture(d, "source", 900L).orderBy("source", "tau")
      .collect()
      .map(x => (x.getString(0), x.getDouble(1), x.getLong(3), x.getDouble(4),
        x.getLong(5), x.getDouble(6)))
    assert(r.toSeq == Seq(
      ("a", 0.25, 16L, 0.666667, 600L, 37.5),
      ("a", 0.5, 16L, 0.8, 720L, 45.0),
      ("a", 0.75, 16L, 0.888889, 800L, 50.0),
      ("a", 1.0, 16L, 0.941176, 847L, 52.9375),
      ("b", 0.25, 1L, 0.333333, 300L, 300.0),
      ("b", 0.5, 1L, 0.2, 180L, 180.0),
      ("b", 0.75, 1L, 0.111111, 100L, 100.0),
      ("b", 1.0, 1L, 0.058824, 52L, 52.0)), r.toSeq)
  }

  test("blocklist counts hits exactly and flags any-hit docs") {
    import spark.implicits._
    val d = Seq(
      (1L, "slow query slow"),            // 2 of 3 flagged
      (2L, "fast clean scan"),            // clean
      (3L, "dup"))                        // single flagged word
      .toDF("doc_id", "text")
    val r = TF.blocklist(d, Seq("slow", "dup")).orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3),
        x.getBoolean(4)))
    assert(r.toSeq == Seq(
      (1L, 3L, 2L, 0.666667, true),
      (2L, 3L, 0L, 0.0, false),
      (3L, 1L, 1L, 1.0, true)), r.toSeq)
  }

  test("chunk slides fixed windows with overlap, tail unpadded") {
    import spark.implicits._
    val words80 = (1 to 80).map(i => s"w$i")
    val d = Seq(
      (1L, words80.mkString(" ")),
      (2L, "a b c d e"))                  // shorter than one chunk
      .toDF("doc_id", "text")
    val r = TF.chunk(d, 10, 2).orderBy("doc_id", "chunk_idx").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getString(4)))
    // 80 words at size 10 / stride 8: 1 + ceil(70/8) = 10 chunks
    val d1 = r.filter(_._1 == 1L)
    assert(d1.length == 10, s"${d1.length} chunks")
    assert(d1.head == ((1L, 0L, 1L, 10L, words80.take(10).mkString(" "))))
    assert(d1(1)._3 == 9L)                // overlap 2 ⇒ next start = 9
    // last chunk starts at 73 and keeps the 8-word tail unpadded
    assert(d1.last == ((1L, 9L, 73L, 8L, words80.drop(72).mkString(" "))))
    // short doc: exactly one whole-doc chunk
    assert(r.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 1L, 5L, "a b c d e")))
    // every word position is covered by at least one chunk
    assert(d1.map(c => (c._3, c._3 + c._4 - 1)).sliding(2)
      .forall(p => p(1)._1 <= p(0)._2 + 1))
  }

  test("temperatureMixture at tau=0.5 reproduces tokenEpochs exactly") {
    // the sqrt allocator is the τ=0.5 point of the temperature sweep —
    // same weights, same order-fixed denominator, same floor arithmetic
    val docs = Tables.load(spark, sfDir, "documents")
    val eps = TF.tokenEpochs(docs, "source", 10000L)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3), r.getLong(4),
        r.getDouble(5)))
    val tmp = TF.temperatureMixture(docs, "source", 10000L, Seq(0.5))
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(3), r.getDouble(4), r.getLong(5),
        r.getDouble(6)))
    assert(eps.toSeq == tmp.toSeq)
  }

  test("repProfile pins the three gram widths on planted repetition") {
    import spark.implicits._
    val d = Seq(
      (1L, "a a a a a"),                // 5 identical words
      (2L, "w1 w2 w3 w4 w5"),           // all-distinct words
      (3L, "x y"))                      // too short for n = 3, 4
      .toDF("doc_id", "text")
    val r = TF.repProfile(d).orderBy("doc_id").collect()
    // doc 1: every width has ONE gram holding every position
    assert(r(0).getLong(1) == 4L && r(0).getDouble(2) == 1.0 &&
      r(0).getDouble(3) == 1.0)                       // n=2
    assert(r(0).getLong(4) == 3L && r(0).getDouble(5) == 1.0 &&
      r(0).getDouble(6) == 1.0)                       // n=3
    assert(r(0).getLong(7) == 2L && r(0).getDouble(8) == 1.0 &&
      r(0).getDouble(9) == 1.0)                       // n=4
    // doc 2: all grams distinct — top holds 1/total, nothing duplicated
    assert(r(1).getLong(1) == 4L && r(1).getDouble(2) == 0.25 &&
      r(1).getDouble(3) == 0.0)
    assert(r(1).getLong(4) == 3L && r(1).getDouble(5) == 0.333333 &&
      r(1).getDouble(6) == 0.0)
    assert(r(1).getLong(7) == 2L && r(1).getDouble(8) == 0.5 &&
      r(1).getDouble(9) == 0.0)
    // doc 3: one bigram; the wider widths have no positions → null
    assert(r(2).getLong(1) == 1L && r(2).getDouble(2) == 1.0 &&
      r(2).getDouble(3) == 0.0)
    assert(r(2).isNullAt(4) && r(2).isNullAt(7))
  }
}
