package graft

import org.apache.spark.sql.functions._
import graft.text.Dedup
import graft.sim.Vectors

/** Property checks for the probabilistic dedup/ANN paths against their
  * exact counterparts on the real test corpus.
  */
class DedupSimSpec extends SparkSuite {

  private lazy val docs = Tables.load(spark, sfDir, "documents").cache()
  private lazy val emb = Tables.load(spark, sfDir, "embeddings").cache()

  test("pq codes a seed-identical vector exactly and ties to the smaller code") {
    import spark.implicits._
    // seeds 0..15 are constant vectors (seed i = all-i); the codebook IS
    // their subvectors, so a vector equal to seed 3 codes 3 in every
    // subspace with zero error; one perturbed dim moves only sub 0's SSE;
    // the all-2.5 vector is equidistant from seeds 2 and 3 → code 2
    val rows =
      (0 until 16).map(i => (i.toLong, Seq.fill(64)(i.toFloat))) ++ Seq(
        (100L, Seq.fill(64)(3.0f)),
        (101L, Seq.tabulate(64)(d => if (d == 0) 3.5f else 3.0f)),
        (102L, Seq.fill(64)(2.5f)))
    val emb = rows.toDF("vec_id", "embedding")
    val r = Vectors.pqAudit(emb).filter(col("vec_id") >= 100).orderBy("vec_id").collect()
    assert(r(0).getString(1) == Seq.fill(8)("3").mkString("-") && r(0).getDouble(2) == 0.0)
    assert(r(1).getString(1) == Seq.fill(8)("3").mkString("-"))
    assert(r(1).getDouble(2) == 0.003906) // q6 of 0.25/64
    assert(r(2).getString(1) == Seq.fill(8)("2").mkString("-") && r(2).getDouble(2) == 0.25)
  }

  test("containment flags a short doc embedded in a long one that Jaccard misses") {
    import spark.implicits._
    // doc 2 starts with doc 1's full text: every one of doc 1's eight
    // 3-grams is inside doc 2 → contain_a = 1.0, but Jaccard = 8/18 < 0.5
    val d = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j k l m n o p q r s t"),
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10")).toDF("doc_id", "text")
    val p = Dedup.containmentPairs(d, 3, 0.5).collect()
    assert(p.length == 1, p.mkString(", "))
    assert(p(0).getLong(0) == 1L && p(0).getLong(1) == 2L)
    assert(p(0).getLong(2) == 8L)                 // inter
    assert(p(0).getDouble(3) == 1.0)              // contain_a: A ⊆ B
    assert(math.abs(p(0).getDouble(4) - 8.0 / 18) < 1e-6)
    assert(Dedup.ngramJaccardPairs(d, 3, 0.5).isEmpty) // Jaccard misses it
  }

  test("minhash-LSH + exact verify equals the exact Jaccard pair set") {
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashPairs(docs, 3, 64, 2, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    assert(lsh == exact)
  }

  test("simhash finds the planted near-duplicates") {
    val nearDups = Dedup.ngramJaccardPairs(docs, 3, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashPairs(docs, 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // J≈0.99 dups share almost all tokens → tiny Hamming distance
    val recall = (sim intersect nearDups).size.toDouble / nearDups.size
    assert(recall >= 0.5, s"simhash recall $recall on planted dups")
  }

  test("simhash audit scores identical docs 1.0 and shingle-less pairs NULL") {
    import spark.implicits._
    val planted = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (3L, "hi there"),                                    // < 3 words: no shingles
      (4L, "hi there"))                                    // identical short doc
      .toDF("doc_id", "text")
    val out = Dedup.simhashAudit(planted, 3, 3)
      .orderBy("id_a", "id_b").collect()
    val byPair = out.map(r => ((r.getLong(0), r.getLong(1)),
      (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    // identical long docs: distance 0, exact Jaccard 1.0
    assert(byPair((1L, 2L)) == (0L, Some(1.0)))
    // identical short docs collide at distance 0 but have nothing to
    // overlap on — the audit surfaces them with a NULL score, not 1.0
    assert(byPair((3L, 4L)) == (0L, None))
    // pair counts on the real corpus match the raw pair generator: the
    // audit annotates, never filters
    assert(Dedup.simhashAudit(docs).count() == Dedup.simhashPairs(docs, 3).count())
  }

  test("dup sweep counts are threshold-monotone and anchored at the pair graph") {
    val r = SparkEntry.queries("emb_dup_sweep")(spark, sfDir).collect()(0)
    // the conditional sums are NULL (not 0) over an empty pair graph
    val Seq(n80, n90, n95, n99) =
      (0 until 4).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
    assert(n80 >= n90 && n90 >= n95 && n95 >= n99, r.toString)
    assert(n80 == Vectors.cosinePairsLshAuto(emb, 0.8).count())
  }

  test("LSH ANN reaches usable recall vs brute force at equal k") {
    val brute = Vectors.annTopK(emb, 5, 10)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Vectors.annLsh(emb, 5, 10)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (lsh intersect brute).size.toDouble / brute.size
    assert(recall >= 0.3, s"ANN recall@10 was $recall")
  }

  test("annRecall counts exactly the exact-top-k neighbors the LSH path misses") {
    import spark.implicits._
    val ones = Array.fill(64)(1.0f)
    val e = Seq(
      (0L, ones),                    // the probe query
      (1L, ones.map(_ * 2)),         // same direction → same buckets, cos 1
      (2L, ones.map(_ * 3)),         // same direction, cos 1
      (3L, ones.map(-_)))            // NEGATED: every plane sign flips, so its
                                     // bucket differs in all 4 bits of every
                                     // table — 1-bit multiprobe can't reach it
      .toDF("vec_id", "embedding")
    val r = Vectors.annRecall(e, 1, 3, ks = Seq(1, 3)).collect().head
    // exact top-3 = {1, 2, 3} (cos 1, 1, −1); LSH candidates = {1, 2}
    assert(r.getLong(0) == 1L)                       // n_q
    assert(r.getLong(1) == 1L && r.getDouble(2) == 1.0)  // hits_1, recall_1
    assert(r.getLong(3) == 2L && r.getDouble(4) == 0.666667) // hits_3, recall_3
  }

  test("clusters: driver union-find and distributed propagation agree") {
    import spark.implicits._
    val pairs = Dedup.minhashPairs(docs, 3, 64, 2, 0.8).cache()
    assert(pairs.count() > 1, "fixture must have >1 edge so limit=1 forces the distributed regime")
    val viaDriver = Dedup.clusters(docs, pairs)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    // limit 1 < |pairs| forces the distributed regime (≤ 0 now means
    // "derive from driver heap", which on the test JVM takes the driver path)
    val viaSpark = Dedup.clusters(docs, pairs, driverEdgeLimit = 1L)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(viaDriver == viaSpark, "the two clustering regimes must agree")
  }

  test("derivedEdgeLimit stays within [1M, 16M] and honors the per-call override") {
    val l = Dedup.derivedEdgeLimit
    assert(l >= 1000000L && l <= 16000000L, s"derived $l")
    // on this test JVM (multi-GB heap) the quarter-heap budget at
    // 96 B/edge should admit well over the floor
    assert(l > 1000000L, s"expected heap-scaled limit above the floor, got $l")
    // the per-call limit routes a 2-edge graph into the distributed regime
    import spark.implicits._
    val docs2 = Seq((1L, "x"), (2L, "x"), (3L, "x")).toDF("doc_id", "text")
    val pairs2 = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val cl = Dedup.clusters(docs2, pairs2, driverEdgeLimit = 1L).orderBy("doc_id")
      .as[(Long, Long)].collect().toSeq
    assert(cl == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("shingle-posting operators agree with each other and with set truth") {
    import spark.implicits._
    // doc 3 repeats its shingles (9 positions, 3 distinct 3-grams), doc 4
    // is shorter than n = 3 and has none, doc 6 shares nothing
    val texts = Seq(
      1L -> "a b c d e f g h",
      2L -> "a b c d e f x y",
      3L -> "a b c a b c a b c",
      4L -> "a b",
      5L -> "c d e f g h z",
      6L -> "q r s t")
    val d = texts.toDF("doc_id", "text")
    val grams = texts.map { case (id, t) =>
      id -> t.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet }.toMap
    val truth = (for {
      (a, ga) <- grams; (b, gb) <- grams
      if a < b && (ga & gb).nonEmpty
    } yield (a, b) -> (ga & gb).size.toLong).toMap
    val shared = Dedup.sharedNgramPairs(d, 3).as[(Long, Long, Long)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    val inter = Dedup.containmentPairs(d, 3, 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(shared.size == 5 && shared((1L, 2L)) == 4L && shared((1L, 3L)) == 1L, s"$shared")
    assert(shared == truth && inter == shared, s"shared $shared inter $inter")
    // ngramJaccardPairs at tau 0: every sharing pair, Jaccard over the
    // distinct-shingle counts
    val jac = Dedup.ngramJaccardPairs(d, 3, 0.0).as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(jac.keySet == shared.keySet)
    shared.foreach { case ((a, b), c) =>
      val want = c.toDouble / (grams(a).size + grams(b).size - c)
      assert(math.abs(jac((a, b)) - want) < 1e-6, s"($a, $b): ${jac((a, b))} vs $want")
    }
    // across a train/bench split, the cross operators equal the self
    // operators' cross pairs, oriented (train_id, bench_id)
    val benchIds = Set(1L, 4L, 6L)
    val train = d.filter(!col("doc_id").isin(benchIds.toSeq: _*))
    val bench = d.filter(col("doc_id").isin(benchIds.toSeq: _*))
    def cross[V](m: Map[(Long, Long), V]): Map[(Long, Long), V] = m.collect {
      case ((a, b), v) if benchIds(a) != benchIds(b) =>
        (if (benchIds(a)) (b, a) else (a, b)) -> v }
    val contam = Dedup.contamination(train, bench, 3).as[(Long, Long, Long)].collect()
      .map { case (t, b, c) => (t, b) -> c }.toMap
    assert(contam.nonEmpty && contam == cross(shared), s"$contam")
    val crossJac = Dedup.crossJaccardPairs(train, bench, 3, 0.0)
      .as[(Long, Long, Double)].collect().map { case (t, b, j) => (t, b) -> j }.toMap
    assert(crossJac == cross(jac), s"$crossJac")
  }

  test("clusters: labels are component minima, closed under the pair edges") {
    import spark.implicits._
    val pairs = Dedup.minhashPairs(docs, 3, 64, 2, 0.8).cache()
    val cl = Dedup.clusters(docs, pairs).cache()
    assert(cl.count() == docs.count(), "every doc gets a cluster")
    assert(cl.filter(col("cluster_id") > col("doc_id")).count() == 0, "label <= own id")
    // both endpoints of every edge share a label
    val lbl = cl.as[(Long, Long)].collect().toMap
    pairs.select("id_a", "id_b").as[(Long, Long)].collect().foreach { case (a, b) =>
      assert(lbl(a) == lbl(b), s"edge ($a,$b) splits clusters")
    }
    // a known transitive case: label equals min over the whole component,
    // verified by union-find on the driver over the (small) edge list
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.select("id_a", "id_b").as[(Long, Long)].collect().foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    lbl.foreach { case (v, l) => assert(l == find(v), s"doc $v: $l != ${find(v)}") }
  }

  test("IVF ANN reaches usable recall vs brute force at equal k") {
    val brute = Vectors.annTopK(emb, 5, 10)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Vectors.annIvf(emb, 5, 10)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf intersect brute).size.toDouble / brute.size
    assert(recall >= 0.3, s"IVF recall@10 was $recall")
    // structural: at most k results per query, ranks contiguous from 1
    val byQ = Vectors.annIvf(emb, 5, 10).select("q_id", "rank").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).sorted.toSeq)
    byQ.foreach { case (q, ranks) =>
      assert(ranks == (1L to ranks.length), s"query $q ranks $ranks")
    }
  }

  test("PQ-ADC ANN: recall vs brute force, contiguous ranks, exact re-rank order") {
    val brute = Vectors.annTopK(emb, 5, 10)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Vectors.annPq(emb, 5, 10)
    val got = pq.select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got intersect brute).size.toDouble / brute.size
    assert(recall >= 0.3, s"PQ-ADC recall@10 was $recall")
    val rows = pq.collect()
    // ranks contiguous from 1 per query
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.map(_.getLong(2)).sorted.toSeq == (1L to rs.length),
        s"query $q ranks ${rs.map(_.getLong(2)).toSeq}")
    }
    // within a query, rank order IS exact cosine order (re-rank contract)
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val byRank = rs.sortBy(_.getLong(2)).map(_.getDouble(4)).toSeq
      assert(byRank == byRank.sortBy(-_), s"query $q not cosine-ordered: $byRank")
    }
  }

  test("LSH cosine pairs are a subset of exact pairs with identical similarities") {
    val exact = Vectors.cosinePairs(emb, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Vectors.cosinePairsLsh(emb, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.nonEmpty, "corpus should contain cosine-similar pairs")
    // no false positives, and every surviving pair carries the exact-path
    // quantized cosine bit-for-bit
    lsh.foreach { case (pair, cs) =>
      assert(exact.get(pair).contains(cs), s"pair $pair: lsh=$cs exact=${exact.get(pair)}")
    }
    // the 0.4 floor sits close to the random-pair background on this
    // corpus — LSH recall there is bounded by the collision-probability
    // gap, not implementation quality; pin the analytic floor
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall (${lsh.size}/${exact.size})")
  }

  test("auto LSH picks occupancy-bounded bits and keeps planted-dup recall") {
    // the autoBits rule itself: floor 8, ceil(log2(n/occ)) above it, cap
    // 28 — at the default occupancy of 4 (the multiprobe-aware budget;
    // see autoBits' doc for why 32 was an ENOSPC at the 1000× decade)
    assert(Vectors.autoBits(100) == 8)
    assert(Vectors.autoBits(4L * 256) == 8)
    assert(Vectors.autoBits(4L * 256 + 1) == 9)
    assert(Vectors.autoBits(4L * (1L << 12)) == 12)
    assert(Vectors.autoBits(Long.MaxValue / 2) == 28)
    assert(Vectors.autoBits(1000, targetOccupancy = 32) == 8)
    assert(Vectors.autoBits(32L * 256 + 1, targetOccupancy = 32) == 9)
    // the fractional-bit budget (what cosinePairsLshAuto actually runs):
    // nUp tables at b0+1 bits pin the mean collision rate at 1/⌈n/4⌉ —
    // degenerate (uniform) exactly at the driver gate SFs, split at the
    // campaign scales (the r13 decade's occupancy drift 3.05 → 3.81 was
    // this sawtooth)
    assert(Vectors.autoBitsFrac(100) == ((8, 0)))           // floor regime
    assert(Vectors.autoBitsFrac(500) == ((8, 0)))           // sf0.001/sf0.01: ≡ b=8
    assert(Vectors.autoBitsFrac(2000) == ((8, 16)))         // sf0.1: ≡ b=9
    assert(Vectors.autoBitsFrac(200000) == ((15, 11)))      // 100×: 11@16 + 5@15
    assert(Vectors.autoBitsFrac(2000000) == ((18, 15)))     // 1000×: 15@19 + 1@18
    assert(Vectors.autoBitsFrac(4L * (1L << 12)) == ((12, 0))) // exact power: uniform
    assert(Vectors.autoBitsFrac(Long.MaxValue / 2) == ((28, 0))) // cap: uniform
    // mean per-table collision rate within 3% of 1/u across two decades
    (1 to 40).foreach { i =>
      val n = 1000L * i * i * i
      val (b0, nUp) = Vectors.autoBitsFrac(n)
      val u = (n + 3) / 4
      if (u > 256) {
        val rate = (nUp / math.pow(2.0, b0 + 1) + (16 - nUp) / math.pow(2.0, b0)) / 16
        assert(math.abs(rate * u - 1.0) < 0.03, s"n=$n rate·u=${rate * u}")
      }
    }
    // a corpus big enough to push b to 9: planted near-dup pairs must
    // still surface through the wider buckets (subset contract holds at
    // any b; recall rides the per-table union bound)
    val rnd = new scala.util.Random(991)
    def unitish(): Array[Float] = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)
    val planted = (0 until 30).flatMap { c =>
      val base = unitish()
      Seq((900000L + c * 2, base),
        (900001L + c * 2, base.map(x => x + (rnd.nextDouble() * 0.02 - 0.01).toFloat)))
    }
    val filler = (0 until 1440).map(i => (i.toLong, unitish()))
    val df = spark.createDataFrame(filler ++ planted).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    assert(Vectors.autoBits(filler.size + planted.size) == 9, "corpus sized for b=9")
    // the frac rule splits this corpus 10@9 + 6@8 — recall can only be
    // ≥ the uniform b=9 it replaces (6 tables collide MORE)
    assert(Vectors.autoBitsFrac(filler.size + planted.size) == ((8, 10)))
    val auto = Vectors.cosinePairsLshAuto(df, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val plantedPairs = (0 until 30).map(c => (900000L + c * 2, 900001L + c * 2)).toSet
    val found = (auto intersect plantedPairs).size
    assert(found >= 29, s"recall on planted dups at b=9: $found/30")
  }

  test("LSH cosine pairs recall ~100% of true near-duplicates (cos >= 0.8)") {
    // planted clusters: base vectors plus small perturbations — the
    // actual near-dup workload shape (the real corpus tops out near
    // cos 0.55, so high-similarity recall needs synthetic clusters)
    val rnd = new scala.util.Random(4213)
    def unitish(): Array[Float] = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)
    val rows = (0 until 40).flatMap { c =>
      val base = unitish()
      (0 until 5).map { j =>
        val v = base.zipWithIndex.map { case (x, _) =>
          x + (rnd.nextDouble() * 0.06 - 0.03).toFloat }
        (c * 5L + j, v)
      }
    }
    val df = spark.createDataFrame(rows).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val exact = Vectors.cosinePairs(df, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Vectors.cosinePairsLsh(df, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 100, s"should plant many near-dup pairs, got ${exact.size}")
    assert(lsh.subsetOf(exact))
    val recall = (lsh intersect exact).size.toDouble / exact.size
    assert(recall >= 0.99, s"near-dup recall $recall (${lsh.size}/${exact.size})")
  }

  test("one-flip regime (b >= 16): banded recall at the 1000x campaign config") {
    // the 1000x decade runs 15@19+1@18 bits — flips = min(b, max(1,
    // 16-b)) = 1 (the r16 one-flip floor; r15's hard zero measured 0.39
    // in the 0.80-0.90 band), so per-table collision is
    // p^b + p^(b-1)(1-p), p = 1 - acos(cos)/pi, union over tables.
    // No occupancy or corpus-size term enters that probability, so the
    // regime is measurable on a small corpus: plant pairs at controlled
    // cosines, run the generator AT the campaign widths, and gate each
    // band. One-flip theory at the band floors: cos 0.99 -> 0.98,
    // 0.95 -> 0.94, 0.90 -> 0.64, 0.80 -> 0.23 (the mid band remains
    // the documented gap, lifted from the zero-flip 0.19).
    val rnd = new scala.util.Random(0x19F1)
    def unitish(): Array[Float] = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)
    // deltas chosen so cos(x, x + d*z) ~ 1/sqrt(1+d^2) lands inside each
    // band; exact cosine is measured per pair below, never assumed
    val deltas = Seq(0.10, 0.12, 0.30, 0.34, 0.44, 0.50, 0.60, 0.72)
    val planted = deltas.zipWithIndex.flatMap { case (d, g) =>
      (0 until 80).flatMap { j =>
        val x = unitish()
        val z = unitish()
        val y = x.zip(z).map { case (a, b) => (a + d * b).toFloat }
        val ida = 100000L + g * 1000 + j * 2
        Seq((ida, x), (ida + 1, y))
      }
    }
    val filler = (0 until 1500).map(i => (i.toLong, unitish()))
    val df = spark.createDataFrame(filler ++ planted).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    // exact cosine per planted pair, driver-side, same index-ordered
    // double accumulation as the engine
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var num = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < 64) {
        num += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      num / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = planted.toMap
    val plantedCos = planted.grouped(2).map { case Seq((ida, x), (idb, y)) =>
      (ida, idb) -> cos(x, y)
    }.toMap
    val found = Vectors.cosinePairsLshBits(df, 0.795, 16, 18, 15, 64)
      .filter(col("id_a") >= 100000L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bands = Seq((0.99, 1.01), (0.95, 0.99), (0.90, 0.95), (0.80, 0.90))
    val recalls = bands.map { case (lo, hi) =>
      val inBand = plantedCos.filter { case (_, c) => c >= lo && c < hi }
      val got = inBand.keys.count(found)
      val r = got.toDouble / inBand.size
      info(f"band [$lo%.2f, $hi%.2f): $got/${inBand.size} recall=$r%.3f")
      assert(inBand.size >= 40, s"band [$lo,$hi) under-populated: ${inBand.size}")
      (lo, r)
    }.toMap
    // gates sit just under the r16 one-flip measurements
    // (1.00 / 0.97 / 0.78 / 0.46) so a silent regression toward the
    // zero-flip bands (… / 0.69 / 0.39) or below trips them
    assert(recalls(0.99) >= 0.97, s"near-dup band recall ${recalls(0.99)}")
    assert(recalls(0.95) >= 0.85, s"high band recall ${recalls(0.95)}")
    assert(recalls(0.90) >= 0.60, s"0.90 band recall ${recalls(0.90)}")
    // the mid band REMAINS the documented gap (the linear-candidate-mass
    // trade); it is now also SURFACED as emb_dup_sweep's exp_recall_*
    // columns so a campaign reader sees the under-count in-band
    assert(recalls(0.80) >= 0.40, s"mid band recall ${recalls(0.80)}")
    assert(byId.size == planted.size) // ids unique (guards the generator above)
  }

  test("cross-corpus LSH pairs are a subset of exact cross pairs") {
    val src = Tables.load(spark, sfDir, "documents").select(col("doc_id"), col("source"))
    val tagged = emb.join(src, emb("vec_id") === src("doc_id")).drop("doc_id")
    def side(pred: org.apache.spark.sql.Column) =
      tagged.filter(pred).drop("source")
    val lsh = Vectors.crossCosinePairsLsh(
        side(col("source") =!= "src0"), side(col("source") === "src0"), 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // exact cross cosines, driver-side (the spec-scale corpus is tiny)
    def vecs(pred: org.apache.spark.sql.Column): Map[Long, Array[Double]] =
      side(pred).select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val train = vecs(col("source") =!= "src0")
    val bench = vecs(col("source") === "src0")
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val exact = (for ((ta, va) <- train; (ba, vb) <- bench; c = cos(va, vb)
      if c >= 0.3) yield (ta, ba) -> c).toMap
    assert(exact.nonEmpty, "corpus should contain cross-similar pairs at tau 0.3")
    lsh.foreach { case (pair, cs) =>
      assert(exact.contains(pair), s"false positive $pair")
      assert(math.abs(exact(pair) - cs) < 1e-6, s"$pair: $cs vs ${exact(pair)}")
    }
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall (${lsh.size}/${exact.size})")
  }

  test("LSH-served knn graph matches exact knn on the near-dup neighborhood") {
    val g = Vectors.knnGraphLsh(emb, 0.4, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val gx = Vectors.knnGraph(emb, 0.4, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(g.nonEmpty)
    // candidate recall < 1 can only DROP neighbors (shifting later ranks
    // up), never invent them — shared edges must agree, and the served
    // graph stays within the exact graph's vertex set
    assert(g.map(_._1).subsetOf(gx.map(_._1)))
    val agree = (g intersect gx).size.toDouble / g.size
    assert(agree >= 0.85, s"knn agreement $agree")
  }

  test("exact dedup maps every doc to the minimal id of its hash group") {
    val d = Dedup.exact(docs)
    assert(d.count() == docs.count())
    assert(d.filter(col("keep_id") > col("doc_id")).count() == 0)
  }

  test("knn graph is symmetric in candidates and cut at k per vector") {
    import graft.sim.Vectors
    val emb = Tables.load(spark, sfDir, "embeddings")
    val g = Vectors.knnGraph(emb, 0.4, 3)
    val byV = g.collect().groupBy(_.getLong(0))
    assert(byV.nonEmpty)
    byV.foreach { case (v, rows) =>
      val ranks = rows.map(_.getLong(2)).sorted.toSeq
      assert(ranks == (1L to ranks.length), s"vector $v ranks $ranks")
      assert(ranks.length <= 3)
    }
    // every edge (v → n) has its mirror candidate: n must list v unless v
    // fell below n's top-3 cut — so the UNDIRECTED pair count matches the
    // thresholded pair set
    val pairs = Vectors.cosinePairs(emb, 0.4).count()
    val undirected = g.select("vec_id", "nbr_id").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .distinct.length
    assert(undirected <= pairs)
  }

  test("fixed-size sample is exactly n, stable, and disjoint from rate logic") {
    import graft.text.TextFunctions
    val a = TextFunctions.sampleFixed(docs, 50).collect().map(_.getLong(0)).sorted.toSeq
    val b = TextFunctions.sampleFixed(docs, 50).collect().map(_.getLong(0)).sorted.toSeq
    assert(a.length == 50 && a == b)               // exact size, reproducible
    val sup = TextFunctions.sampleFixed(docs, 100).collect().map(_.getLong(0)).toSet
    assert(a.forall(sup.contains))                 // prefix property: n=50 ⊂ n=100
  }

  test("token budget keeps the hash-order prefix per stratum") {
    import spark.implicits._
    import graft.text.TextFunctions
    val d = Seq((1L, "a b c", "s1"), (2L, "d e", "s1"), (3L, "f", "s2"))
      .toDF("doc_id", "text", "source")
    val all = TextFunctions.tokenBudget(d, "source", 100L).collect()
    assert(all.length == 3) // generous budget keeps everything
    assert(all.map(_.getLong(2)).sum == 6L)
    val none = TextFunctions.tokenBudget(d, "source", 0L).count()
    assert(none == 0L)
    // monotone in the budget: a smaller budget keeps a subset
    val small = TextFunctions.tokenBudget(d, "source", 2L).collect()
      .map(_.getLong(0)).toSet
    val big = TextFunctions.tokenBudget(d, "source", 3L).collect()
      .map(_.getLong(0)).toSet
    assert(small.subsetOf(big))
    // cum_tokens within each stratum never exceeds the budget
    assert(TextFunctions.tokenBudget(d, "source", 3L)
      .filter(col("cum_tokens") > 3).count() == 0)
  }

  test("vocab counts document frequency, not term frequency") {
    import spark.implicits._
    val d = Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text")
    val v = graft.text.TextFunctions.vocab(d, 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // 'a' appears twice in doc 1 but its doc_freq is 1; ties alphabetical
    assert(v == Seq(("b", 2L), ("a", 1L), ("c", 1L)))
  }

  test("fertility reports tokens per word and chars per token exactly") {
    import spark.implicits._
    // norm "ab cd. e": 3 whitespace words, 4 BPE-ish tokens [ab][cd][.][e],
    // 8 chars → 4/3 → 1.333333 (MEAN6 round), 8/4 = 2.0
    val d = Seq((1L, "Ab  cd. e", "en", "web")).toDF("doc_id", "text", "lang", "source")
    val r = graft.text.TextFunctions.fertility(d).collect().head
    assert(r.getLong(2) == 1L && r.getLong(3) == 4L, r)
    assert(r.getDouble(4) == 1.333333 && r.getDouble(5) == 2.0, r)
  }

  test("length histogram buckets whitespace tokens by DIV") {
    import spark.implicits._
    val d = Seq((1L, ("x " * 3).trim, "a"), (2L, ("x " * 64).trim, "a"),
      (3L, ("x " * 130).trim, "a"), (4L, "y", "b"))
      .toDF("doc_id", "text", "source")
    val h = graft.text.TextFunctions.lengthHistogram(d, 64)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(1))).toSet
    // 3 → bucket 0; 64 → bucket 64; 130 → bucket 128; b's 1-token doc → 0
    assert(h == Set(("a", 0L, 1L), ("a", 64L, 1L), ("a", 128L, 1L), ("b", 0L, 1L)), h)
  }

  test("keywords rank by tf times linear idf with total tiebreaks") {
    import spark.implicits._
    // N=3; doc 1: 'x' tf=2 df=1 → 6.0 beats 'a' tf=3 df=3 → 3.0;
    // 'b'/'c' tie at 1.5 and break word-asc
    val d = Seq((1L, "a x a x a b c"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val k = graft.text.TextFunctions.keywords(d, 3).orderBy("doc_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(5)))
    assert(k.take(3).toSeq == Seq((1L, 1L, "x", 6.0), (1L, 2L, "a", 3.0),
      (1L, 3L, "b", 1.5)), k.toSeq)
    // a doc shorter than k emits only its own vocabulary
    assert(k.count(_._1 == 2L) == 2)
  }

  test("lexical diversity: types, hapax, and ratios on a known doc") {
    import spark.implicits._
    val d = Seq((1L, "a b a c")).toDF("doc_id", "text")
    val r = graft.text.TextFunctions.lexicalDiversity(d).collect().head
    // 4 tokens, 3 types, hapax = {b, c}
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == (4L, 3L, 2L))
    assert(r.getDouble(4) == 0.75)
    assert(math.abs(r.getDouble(5) - 2.0 / 3.0) < 1e-6)
  }

  test("dup ngrams reports only cross-corpus repeated passages") {
    import spark.implicits._
    val d = Seq(
      (1L, "x y z w"), (2L, "a x y z w b"), // share the 4-gram "x y z w"
      (3L, "p q r s")).toDF("doc_id", "text")
    val g = graft.text.TextFunctions.dupNgrams(d, 4, 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(g == Seq(("x y z w", 2L)))
  }

  test("cross-source overlap counts exact-dup pairs per source pair") {
    import spark.implicits._
    val d = Seq(
      (1L, "same text", "s1"), (2L, "same text", "s2"), (3L, "same text", "s2"),
      (4L, "other", "s1"), (5L, "unique", "s3"))
      .toDF("doc_id", "text", "source")
    val o = graft.text.TextFunctions.crossSourceOverlap(d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    // s1 doc 1 matches both s2 copies → 2 pairs over 1 distinct text
    assert(o == Seq(("s1", "s2", 2L, 1L)))
  }

  test("vector norms match the sequential index-order reduction") {
    val got = Vectors.norms(emb).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val ref = emb.select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val v = r.getSeq[Float](1)
        var s = 0.0
        v.foreach(x => s += x.toDouble * x.toDouble)
        r.getLong(0) -> (v.length.toLong, math.sqrt(s))
      }.toMap
    assert(got.keySet == ref.keySet)
    got.foreach { case (id, (n, norm)) =>
      assert(n == ref(id)._1)
      assert(math.abs(norm - ref(id)._2) < 1e-6, s"vec $id")
    }
  }

  test("dim stats: exact micro-unit means and float-exact extrema per dim") {
    val got = Vectors.dimStats(emb).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toMap
    val vecs = emb.select(col("embedding")).collect().map(_.getSeq[Float](0))
    val dims = vecs.head.length
    (0 until dims).foreach { d =>
      val xs = vecs.map(_(d).toDouble)
      val us = xs.map(x => BigInt(math.round(x * 1e6)))
      // HALF_UP = half away from zero (math.round is half toward +inf,
      // which differs on negative half-boundary means)
      val q = us.sum.toDouble / xs.length
      val mean = math.signum(q) * math.round(math.abs(q)) / 1e6
      val (gMin, gMean, gMax, gN) = got(d.toLong)
      assert(gN == xs.length && gMin == xs.min && gMax == xs.max)
      assert(math.abs(gMean - mean) < 1e-12, s"dim=$d")
    }
  }

  test("word-length stats: the no-explode sum identity holds") {
    import spark.implicits._
    val d = Seq((1L, "  alpha  bb    c "), (2L, "xyz")).toDF("doc_id", "text")
    val r = graft.text.TextFunctions.wordLengthStats(d).orderBy("doc_id").collect()
    // doc 1: words alpha/bb/c → 3 words, max 5, mean (5+2+1)/3
    assert((r(0).getLong(1), r(0).getLong(2)) == (3L, 5L))
    assert(math.abs(r(0).getDouble(3) - math.round(8e6 / 3.0) / 1e6) < 1e-12)
    assert((r(1).getLong(1), r(1).getLong(2), r(1).getDouble(3)) == (1L, 3L, 3.0))
  }

  test("df-capped jaccard pairs are a subset of exact with bounded scores") {
    val exact = graft.text.Dedup.ngramJaccardPairs(docs, 3, 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val capped = graft.text.Dedup.ngramJaccardPairs(docs, 3, 0.2, maxDf = Some(3))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.nonEmpty)
    // lossy knob: never a new pair, never a higher score
    capped.foreach { case (pair, j) =>
      assert(exact.contains(pair), s"capped invented pair $pair")
      assert(j <= exact(pair) + 1e-9, s"capped raised jaccard for $pair")
    }
  }

  test("persisted IVF index answers identically to the fused annIvf") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    val fused = rows(graft.sim.Vectors.annIvf(emb, 5, 10))
    val idx = graft.sim.IvfIndex.build(
      emb.filter(col("vec_id") >= 5), tmpDir("ivf_idx"))
    val got = rows(idx.query(emb.filter(col("vec_id") < 5), 10))
    assert(got.nonEmpty && got == fused)
    // reopening from disk serves the same answers (nothing driver-resident)
    val reopened = graft.sim.IvfIndex(spark, idx.dir)
    assert(rows(reopened.query(emb.filter(col("vec_id") < 5), 10)) == fused)
    // the layout decides, not the query schema: an index built without
    // labels serves the unfiltered answer to a query frame carrying label
    val plain = graft.sim.IvfIndex.build(
      emb.filter(col("vec_id") >= 5).select("vec_id", "embedding"), tmpDir("ivf_idx_nolabel"))
    val labeled = emb.filter(col("vec_id") < 5)
    assert(labeled.columns.contains("label"))
    val res = plain.query(labeled, 10)
    assert(res.columns.toSeq == Seq("q_id", "n_id", "rank", "cos_sim"))
    assert(rows(res) == fused)
  }

  test("IVF-PQ: full probe equals annPq bit-for-bit; pruned probe keeps recall") {
    val emb2 = Tables.load(spark, sfDir, "embeddings")
    val queries = emb2.filter(col("vec_id") < 5)
    val idx = graft.sim.IvfIndex.build(
        emb2.filter(col("vec_id") >= 5), tmpDir("ivfpq_idx"), nCells = 16)
      .buildPq()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._3)).toSeq
    // probing EVERY cell degenerates to the flat PQ-ADC scan: identical
    // codebook (lowest-id seeds), codes, tables, and re-rank
    val full = rows(idx.queryPq(queries, 10, nProbe = 16))
    val flat = rows(graft.sim.Vectors.annPq(emb2, 5, 10))
    assert(full.nonEmpty && full == flat)
    // pruned probing still reaches usable recall vs brute force
    val brute = graft.sim.Vectors.annTopK(emb2, 5, 10)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = idx.queryPq(queries, 10, nProbe = 4)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (pruned intersect brute).size.toDouble / brute.size
    assert(recall >= 0.3, s"IVF-PQ recall@10 was $recall")
  }

  test("centroid similarity flags the vector pointing away from the mass") {
    import spark.implicits._
    // three clustered vectors and one anti-aligned outlier
    val emb = Seq(
      (1L, Array(1.0f, 0.1f)),
      (2L, Array(0.9f, 0.2f)),
      (3L, Array(1.0f, 0.0f)),
      (4L, Array(-1.0f, -0.1f))).toDF("vec_id", "embedding")
    val sims = graft.sim.Vectors.centroidSim(emb)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(Seq(1L, 2L, 3L).forall(sims(_) > 0.9), s"$sims")
    assert(sims(4L) < 0, s"$sims")
    // identical vectors sit exactly on the centroid
    val same = (1 to 3).map(i => (i.toLong, Array(0.6f, 0.8f)))
      .toDF("vec_id", "embedding")
    graft.sim.Vectors.centroidSim(same).collect()
      .foreach(r => assert(r.getDouble(1) == 1.0, s"$r"))
  }

  test("embedding outliers flag exactly the anti-aligned vector") {
    import spark.implicits._
    // twenty near-identical vectors and one anti-aligned: only the
    // latter's centroid cosine sits beyond 2σ of the distribution
    val emb = ((1 to 20).map(i => (i.toLong, Array(1.0f, (i % 5) * 0.01f))) :+
      (99L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = graft.sim.Vectors.outliers(emb, 2.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out.keySet == Set(99L), s"flagged: $out")
    assert(out(99L) < -2.0, s"outlier z not negative-extreme: $out")
  }

  test("pca power iteration recovers a planted direction exactly") {
    import spark.implicits._
    // all variance along (1,1,0,0): after centering (means 3,3,0,0) the
    // direction locks to v = (1e6,1e6,0,0) in one step and the variance
    // share is EXACTLY 1.0 — num/(den·trace) cancels algebraically
    val emb = (1 to 5).map(a => (a.toLong, Array(a.toFloat, a.toFloat, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val r = graft.sim.Vectors.pcaPower(emb, 4).orderBy("dim").collect()
    val l = 1e6 / math.sqrt(2e12)
    assert(r.map(_.getDouble(1)).toSeq == Seq(3.0, 3.0, 0.0, 0.0), r.toSeq)
    assert(r.map(_.getDouble(2)).toSeq == Seq(l, l, 0.0, 0.0), r.toSeq)
    assert(r.forall(_.getDouble(3) == 1.0), r.toSeq)
    // a direction orthogonal to the all-ones seed is invisible to the
    // audit by construction: Gv₀ = 0 → the degenerate guard emits zeros
    // instead of NaNs
    val orth = (1 to 5).map(a => (a.toLong, Array(a.toFloat, -a.toFloat, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val r2 = graft.sim.Vectors.pcaPower(orth, 4).orderBy("dim").collect()
    assert(r2.forall(x => x.getDouble(2) == 0.0 && x.getDouble(3) == 0.0), r2.toSeq)
  }

  test("label cohesion and separation: tight orthogonal classes read as such") {
    import spark.implicits._
    // label 0 along +x, label 1 along +y — each internally identical
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(1.0f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f), 1), (4L, Array(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val coh = graft.sim.Vectors.labelCohesion(emb)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(coh == Map(0 -> (2L, 1.0), 1 -> (2L, 1.0)), s"$coh")
    val sim = graft.sim.Vectors.labelCentroidSim(emb)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(sim((0, 0)) == 1.0 && sim((1, 1)) == 1.0, s"$sim")
    assert(sim((0, 1)) == 0.0 && sim((1, 0)) == 0.0, s"$sim")
  }

  test("sq8 audit reconstructs grid points exactly and bounds the rest") {
    import spark.implicits._
    // dim 0 range [0, 255] → scale 1: integer coords reconstruct exactly;
    // dim 1 constant → scale 0, zero error by the degenerate rule
    val exact = Seq(
      (1L, Array(0.0f, 5.0f)),
      (2L, Array(255.0f, 5.0f)),
      (3L, Array(17.0f, 5.0f))).toDF("vec_id", "embedding")
    graft.sim.Vectors.sq8Audit(exact).collect().foreach { r =>
      assert(r.getDouble(1) == 0.0 && r.getDouble(2) == 0.0, s"$r")
    }
    // off-grid value: range [0, 2.55] → scale 0.01; 1.005 sits mid-cell
    // so |err| ≤ scale/2 and > 0
    val off = Seq(
      (1L, Array(0.0f)), (2L, Array(2.55f)), (3L, Array(1.005f)))
      .toDF("vec_id", "embedding")
    val e3 = graft.sim.Vectors.sq8Audit(off)
      .filter($"vec_id" === 3).head().getDouble(2)
    assert(e3 > 0 && e3 <= 0.005 + 1e-9, s"$e3")
  }

  test("char entropy matches the sequential frequency fold") {
    import spark.implicits._
    val d = Seq((1L, "aaaa"), (2L, "abab"), (3L, "abcd")).toDF("doc_id", "text")
    val got = graft.text.TextFunctions.charEntropy(d).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // constant → 0 bits; two symbols 50/50 → 1 bit; four uniform → 2 bits
    assert(got == Seq((1L, 4L, 1L, 0.0), (2L, 4L, 2L, 1.0), (3L, 4L, 4L, 2.0)), s"$got")
    // and on the real corpus: agrees with a driver-side reference fold
    val sample = docs.filter(col("doc_id") < 20)
    val ref = sample.select(col("doc_id"),
        lower(trim(regexp_replace(col("text"), "\\s+", " "))).as("norm"))
      .collect().map { r =>
        val cs = r.getString(1).groupBy(identity).toSeq
          .map { case (ch, g) => (ch.toString, g.length) }.sortBy(_._1)
        val n = r.getString(1).length.toDouble
        val ent = cs.foldLeft(0.0) { case (acc, (_, c)) =>
          acc - (c / n) * (math.log(c / n) / math.log(2.0)) }
        r.getLong(0) -> ent
      }.toMap
    graft.text.TextFunctions.charEntropy(sample).collect().foreach { r =>
      assert(math.abs(r.getDouble(3) - ref(r.getLong(0))) < 1e-6, s"doc ${r.getLong(0)}")
    }
  }

  test("prefix groups flag exactly the docs sharing a k-word opening") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d suffix one"), (2L, "a b c d other tail"), // shared 4-prefix
      (3L, "a b c x y z"), // diverges at word 4
      (4L, "short")) // under k words → exempt
      .toDF("doc_id", "text")
    val g = Dedup.prefixGroups(d, 4).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
    assert(g == Seq((1L, 1L, 2L), (2L, 1L, 2L)))
  }

  test("dupSpanStats counts every duplicated position, within- and cross-doc") {
    import spark.implicits._
    val run = "p1 p2 p3 p4 p5 p6 p7 p8" // the shared 8-gram
    val d = Seq(
      (1L, run + " a1 a2 a3"),            // 4 positions, 1 duplicated
      (2L, "b1 b2 " + run),               // 3 positions, 1 duplicated
      (3L, run + " " + run),              // the run repeated: inner grams
                                          // duplicate ONLY via doc 1/2
      (4L, "c1 c2 c3 c4 c5 c6 c7 c8 c9"), // unique grams only
      (5L, "tiny doc"))                   // < 8 words → exempt
      .toDF("doc_id", "text")
    val r = Dedup.dupSpanStats(d).orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    // doc 3: 16 words → 9 positions; positions 1 and 9 are `run`
    // (cnt 2, df 3); the 7 straddling grams are unique to doc 3
    assert(r == Seq((1L, 4L, 1L), (2L, 3L, 1L), (3L, 9L, 2L), (4L, 2L, 0L)))
  }

  test("minhashTune: nested candidate sets, identical docs survive every config") {
    import spark.implicits._
    val t1 = "w1 w2 w3 w4 w5 w6 w7 w8"
    val d = Seq(
      (1L, t1), (2L, t1),                       // identical → J=1 true pair,
                                                // all 64 signatures equal
      (3L, "w1 w2 w3 x4 x5 x6 x7 x8"),          // shares a prefix with doc 1
      (4L, "z1 z2 z3 z4 z5 z6 z7 z8"))          // unrelated
      .toDF("doc_id", "text")
    val r = Dedup.minhashTune(d).orderBy("rows_per_band").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4))).toSeq
    assert(r.map(_._1) == Seq(1L, 2L, 4L))
    assert(r.map(_._2) == Seq(64L, 32L, 16L))
    // r-row bands nest: a matching 4-row band implies its 2-row halves
    // match, which imply their single rows match → candidates shrink
    assert(r(0)._3 >= r(1)._3 && r(1)._3 >= r(2)._3)
    // the identical pair has equal signatures → candidate at EVERY r,
    // and it is the only Jaccard ≥ 0.5 pair
    assert(r.forall(_._4 == 1L) && r.forall(_._5 == 1L))
  }

  test("minhashTune idLimit scopes signatures, candidates, and the truth set") {
    import spark.implicits._
    val t1 = "w1 w2 w3 w4 w5 w6 w7 w8"
    val d = Seq(
      (1L, t1), (2L, t1),                       // identical pair inside the cut
      (3L, "w1 w2 w3 x4 x5 x6 x7 x8"),          // shares a prefix with doc 1 —
                                                // r=1 band-collides when unscoped
      (4L, "z1 z2 z3 z4 z5 z6 z7 z8"))
      .toDF("doc_id", "text")
    // unscoped: the doc-1/doc-3 prefix makes r=1 see >1 candidate
    val full = Dedup.minhashTune(d).orderBy("rows_per_band").collect()
    assert(full(0).getLong(2) > 1L)
    // doc_id < 3 cut: only the identical pair exists anywhere — candidate
    // set AND exact truth set both scoped to the slice
    val r = Dedup.minhashTune(d, idLimit = Some(3L)).orderBy("rows_per_band").collect()
      .map(x => (x.getLong(0), x.getLong(2), x.getLong(3), x.getLong(4))).toSeq
    assert(r == Seq((1L, 1L, 1L, 1L), (2L, 1L, 1L, 1L), (4L, 1L, 1L, 1L)))
  }

  test("ngramNovelty credits each gram's positions to the minimum doc_id") {
    import spark.implicits._
    val run = "p1 p2 p3 p4 p5 p6 p7 p8" // the shared 8-gram
    val d = Seq(
      (1L, run + " a1 a2 a3"),            // 4 positions, all first-seen → novel
      (2L, "b1 b2 " + run),               // 3 positions, `run` owned by doc 1
      (3L, run + " " + run),              // both copies of `run` owned by doc 1;
                                          // the 7 straddling grams are doc 3's own
      (4L, "c1 c2 c3 c4 c5 c6 c7 c8 c9"), // unique grams → fully novel
      (5L, "tiny doc"))                   // < 8 words → exempt
      .toDF("doc_id", "text")
    val r = Dedup.ngramNovelty(d).orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    // doc 3: 9 positions; the 2 `run` positions belong to doc 1 → 7 novel
    assert(r == Seq((1L, 4L, 4L), (2L, 3L, 2L), (3L, 9L, 7L), (4L, 2L, 2L)))
  }

  test("spanRemoval excises later copies of owned spans, first copy intact") {
    import spark.implicits._
    val run = "p1 p2 p3 p4 p5 p6 p7 p8"
    val d = Seq(
      (1L, run + " a1 a2"),   // owns every gram → passes through whole
      (2L, "b1 b2 " + run),   // the copied run covers positions 3..10
      (3L, run + " a1 a2"),   // exact copy of doc 1 → fully excised
      (4L, "tiny doc"))       // < 8 words → no grams, passes whole
      .toDF("doc_id", "text")
    val r = Dedup.spanRemoval(d).orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getString(3))).toSeq
    assert(r == Seq(
      (1L, 10L, 0L, run + " a1 a2"),
      (2L, 10L, 8L, "b1 b2"),
      (3L, 10L, 10L, ""),
      (4L, 2L, 0L, "tiny doc")))
  }

  test("keepBest keeps the longest doc per cluster, singletons keep themselves") {
    import spark.implicits._
    // docs 1 & 2: doc 2 extends doc 1 by one word → Jaccard 8/9 ≥ 0.8,
    // doc 2 longer → doc 2 survives; doc 3 is an unrelated singleton
    val t1 = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val d = Seq(
      (1L, t1), (2L, t1 + " w11"),
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val r = Dedup.keepBest(d, Dedup.minhashPairs(d, 3, 64, 2, 0.8))
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getBoolean(2))).toSeq
    assert(r == Seq((1L, 1L, false), (2L, 1L, true), (3L, 3L, true)))
    // a bare (doc_id, text) frame derives n_chars — same answer
    val bare = Dedup.keepBest(d.drop("n_chars"), Dedup.minhashPairs(d, 3, 64, 2, 0.8))
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getBoolean(2))).toSeq
    assert(bare == r)
  }

  test("corpusVerdict assigns drop reasons in pipeline precedence order") {
    import spark.implicits._
    // 18 stopword-rich words → quality ≈ 0.58 (kept-eligible); trigram
    // Jaccard doc1↔doc3 = 16/19 ≈ 0.84 ≥ 0.8 → one cluster {1,2,3}
    val t = "the cat is on the mat and the dog is in the den of the big red barn"
    val d = Seq(
      (1L, t),          // cluster loser (doc 3 longer) → near_dup
      (2L, t),          // exact copy AND cluster loser → exact_dup wins
      (3L, t + " now"), // longest of the cluster, quality ok → kept
      (4L, "contact john@example.com about more of the offer and the deal is in it"), // pii
      (5L, "xx1 yy2 zz3 @@@@ #### $$$$"), // no stopwords, punct-heavy → low_quality
      (6L, "the house is in the town and a tree is of note by the road to it")) // kept
      .toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    val r = graft.text.TextFunctions.corpusVerdict(d, 0.5).orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getBoolean(2))).toSeq
    assert(r == Seq(
      (1L, "near_dup", false), (2L, "exact_dup", false), (3L, "kept", true),
      (4L, "pii", false), (5L, "low_quality", false), (6L, "kept", true)))
  }

  test("corpusFunnel rolls the verdict into staged doc and token mass") {
    import spark.implicits._
    // the corpusVerdict plant: one doc per reason (plus two kept), so
    // every funnel row is pinned — stage order, masses, and fractions
    val t = "the cat is on the mat and the dog is in the den of the big red barn"
    val d = Seq(
      (1L, t), (2L, t), (3L, t + " now"),
      (4L, "contact john@example.com about more of the offer and the deal is in it"),
      (5L, "xx1 yy2 zz3 @@@@ #### $$$$"),
      (6L, "the house is in the town and a tree is of note by the road to it"))
      .toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    val r = graft.text.TextFunctions.corpusFunnel(d, 0.5).orderBy("stage").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3))).toSeq
    // tokens: t=18, t+now=19, pii=13, junk=6, kept6=17
    assert(r == Seq(
      (1L, "exact_dup", 1L, 18L), (2L, "near_dup", 1L, 18L),
      (3L, "pii", 1L, 13L), (4L, "low_quality", 1L, 6L),
      (5L, "kept", 2L, 36L)))
  }

  test("mrlAudit measures the exact prefix-energy fractions") {
    import spark.implicits._
    // vec 0: 3 in lane 1, 4 in lane 9 → ‖v‖=5, frac(8)=0.6, frac(16..)=1
    // vec 1: all energy in lane 1 → every prefix fraction is 1.0
    val e = Seq(
      (0L, Seq.tabulate(64)(d => if (d == 0) 3f else if (d == 8) 4f else 0f)),
      (1L, Seq.tabulate(64)(d => if (d == 0) 2f else 0f)))
      .toDF("vec_id", "embedding")
    val r = Vectors.mrlAudit(e).orderBy("dim").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getDouble(3), x.getLong(4)))
    assert(r(0) == ((8L, 2L, 0.8, 0.6, 1L)))   // mean (0.6+1)/2, one lossy
    assert(r.drop(1).forall(x => x._3 == 1.0 && x._4 == 1.0 && x._5 == 0L))
  }

  test("annRecallIvf reads exactly 1.0 when every cell is probed") {
    import spark.implicits._
    // nProbe = nCells ⇒ the cell-pruned path scans the whole corpus and
    // both sides rank by the identical (cos DESC, n_id) order — recall
    // must be exactly 1.0 at every cutoff
    val e = Seq.tabulate(40)(i =>
      (i.toLong, Seq.tabulate(64)(d => math.sin(i * 64.0 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val r = Vectors.annRecallIvf(e, 3, 5, Seq(1, 5), nCells = 4, nProbe = 4)
      .collect()(0)
    assert(r.getLong(0) == 3L)                       // n_q
    assert(r.getDouble(2) == 1.0 && r.getDouble(4) == 1.0)
    // a corpus of 3 vectors under k = 5: the exact side has only 3 rows
    // per query, and the complete answer must still read 1.0 (an n_q·c
    // denominator would read 3/5)
    val tiny = Vectors.annRecallIvf(e.filter(col("vec_id") < 4), 1, 5, Seq(1, 5),
      nCells = 2, nProbe = 2).collect()(0)
    assert(tiny.getLong(0) == 1L && tiny.getLong(3) == 3L, s"$tiny")
    assert(tiny.getDouble(2) == 1.0 && tiny.getDouble(4) == 1.0, s"$tiny")
  }

  test("annIvfFiltered pre-filter finds admissible neighbors a post-filter would lose") {
    import spark.implicits._
    // query 0 has label 1; the corpus's nearest vectors to it are all
    // label 0 (clones of the query), while the label-1 vectors are far
    // (orthogonal-ish). An unfiltered top-3 is all label-0 — post-
    // filtering it would return NOTHING — but the pre-filtered path must
    // return exactly the three admissible label-1 vectors.
    val q = Seq.tabulate(64)(d => if (d == 0) 1f else 0f)
    val far = Seq.tabulate(64)(d => if (d == 1) 1f else 0f)
    val near = (1L to 20L).map(i => (i, q, 0))           // label-0 clones
    val admissible = (21L to 23L).map(i => (i, far, 1))  // label-1, far
    val e = ((0L, q, 1) +: (near ++ admissible)).toDF("vec_id", "embedding", "label")
    val unfiltered = Vectors.annIvf(e, 1, 3, nCells = 2, nProbe = 2, lloydIters = 0)
      .collect().map(_.getLong(1)).toSet
    assert(unfiltered.forall(_ <= 20L))                  // post-filter would lose all
    val filtered = Vectors.annIvf(e, 1, 3, nCells = 2, nProbe = 2, lloydIters = 0, byLabel = true)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(filtered.map(_._1).toSet == Set(21L, 22L, 23L))
    assert(filtered.forall(_._2 == 1L))
  }

  test("annIvfFiltered with every cell probed equals the exact filtered top-k") {
    import spark.implicits._
    val e = Seq.tabulate(40)(i =>
      (i.toLong, Seq.tabulate(64)(d => math.sin(i * 64.0 + d).toFloat), i % 3))
      .toDF("vec_id", "embedding", "label")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSeq
    assert(rows(Vectors.annIvf(e, 3, 5, nCells = 4, nProbe = 4, lloydIters = 0,
      byLabel = true)) ==
      rows(Vectors.annTopK(e, 3, 5, byLabel = true)))
    val r = Vectors.annRecallIvf(e, 3, 5, Seq(1, 5), nCells = 4, nProbe = 4,
      byLabel = true)
      .collect()(0)
    assert(r.getLong(0) == 3L)
    assert(r.getDouble(2) == 1.0 && r.getDouble(4) == 1.0)
  }

  test("adaptiveProbe pins the selectivity→nProbe map") {
    // |labels| = 1 ⇒ no thinning ⇒ the unfiltered budget verbatim
    assert(Vectors.adaptiveProbe(16, 4, 1) == 4)
    // probe count scales linearly with the filter's cardinality
    assert(Vectors.adaptiveProbe(16, 4, 3) == 12)
    // saturation at nCells = exhaustive-within-label, the honest
    // small-index limit (16 cells cannot serve a 10%-selective filter)
    assert(Vectors.adaptiveProbe(16, 4, 10) == 16)
    // deployment scale: a 4096-cell index still probes a ~1% fraction
    assert(Vectors.adaptiveProbe(4096, 4, 10) == 40)
    // high-cardinality filters saturate instead of overflowing Int
    assert(Vectors.adaptiveProbe(4096, 8, Int.MaxValue.toLong * 4) == 4096)
    intercept[IllegalArgumentException](Vectors.adaptiveProbe(16, 4, 0))
  }

  test("filtered ANN self-scales its probes: the adaptive config recovers what a fixed 4/16 lost") {
    // sfDir embeddings carry 10 labels: adaptiveProbe(16, 4, 10) = 16 ⇒
    // the registered config probes every cell and the filtered gate must
    // read exactly 1.0 — the r12 gate read 0.30 at the FIXED 4/16
    val emb = Tables.load(spark, sfDir, "embeddings")
    val r = Vectors.annRecallIvf(emb, 5, 10, byLabel = true).collect()(0)
    assert(r.getLong(0) == 5L) // n_q
    assert(r.getDouble(2) == 1.0 && r.getDouble(4) == 1.0 && r.getDouble(6) == 1.0,
      s"adaptive filtered recall must be 1.0 at this index size, got $r")
  }

  test("filtered recall denominator is Σ min(c, admissible): sparse label classes can reach 1.0") {
    import spark.implicits._
    // the query's label class has only TWO admissible corpus vectors and
    // k = 5: the served path returns the complete admissible set, so
    // recall must read 1.0 — the old n_q·c denominator capped it at 2/5
    // and suggested probe growth that cannot help (r12 ADVICE)
    val q = Seq.tabulate(64)(d => if (d == 0) 1f else 0f)
    val e = ((0L, q, 1) +:
      ((1L to 20L).map(i => (i, Seq.tabulate(64)(d =>
        math.sin(i * 64.0 + d).toFloat), 0)) ++
       Seq((21L, q, 1), (22L, Seq.tabulate(64)(d => if (d == 1) 1f else 0f), 1))))
      .toDF("vec_id", "embedding", "label")
    val r = Vectors.annRecallIvf(e, 1, 5, Seq(1, 5), nCells = 4, nProbe = 4,
      byLabel = true)
      .collect()(0)
    assert(r.getLong(0) == 1L)                                  // n_q
    assert(r.getLong(3) == 2L, s"hits_5: $r")                   // both admissible found
    assert(r.getDouble(4) == 1.0, s"recall_5 must be 1.0: $r")
  }

  test("filtered IvfIndex: label-partitioned layout answers the fused operator, incl. after reopen") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._4)).toSeq
    val fused = rows(graft.sim.Vectors.annIvf(emb, 5, 10, lloydIters = 0,
      byLabel = true))
    val dir = tmpDir("ivf_filtered_idx")
    val idx = graft.sim.IvfIndex.build(emb.filter(col("vec_id") >= 5), dir,
      lloydIters = 0, byLabel = true)
    // the layout claim: assignment files are physically partitioned by
    // (cell, label) — the filter IS parquet partition pruning
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cellDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/assigned"))
      .filter(_.getPath.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty)
    assert(cellDirs.forall(c => fs.listStatus(c.getPath)
      .exists(_.getPath.getName.startsWith("label="))), "missing label= subdirs")
    val got = rows(idx.query(emb.filter(col("vec_id") < 5), 10))
    assert(got.nonEmpty && got == fused)
    val reopened = graft.sim.IvfIndex(spark, dir)
    assert(rows(reopened.query(emb.filter(col("vec_id") < 5), 10)) == fused)
  }

  test("filtered IvfIndex past maxLabelDirs: bounded hash-bucket dirs, identical answers") {
    import spark.implicits._
    // 40 labels with maxLabelDirs = 8: the plain grid would be
    // nCells·40 directories and grows with cardinality; the bucketed
    // grid is capped at nCells·8 and a query prunes to its (cell, lbk)
    // share, filtering the exact label inside it
    val e = Seq.tabulate(200)(i => (i.toLong,
        Seq.tabulate(64)(d => math.sin(i * 64.0 + d).toFloat), i % 40))
      .toDF("vec_id", "embedding", "label")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._4)).toSeq
    val fused = rows(graft.sim.Vectors.annIvf(e, 5, 10,
      nCells = 4, lloydIters = 0, byLabel = true))
    val dir = tmpDir("ivf_bucketed_idx")
    val idx = graft.sim.IvfIndex.build(e.filter(col("vec_id") >= 5), dir,
      nCells = 4, lloydIters = 0, byLabel = true, maxLabelDirs = 8)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cellDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/assigned"))
      .filter(_.getPath.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty)
    val sub = cellDirs.flatMap(c => fs.listStatus(c.getPath).map(_.getPath.getName))
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
    assert(sub.forall(_.startsWith("lbk=")), s"expected lbk= dirs, got ${sub.take(3).toSeq}")
    assert(sub.length <= 4 * 8, s"dir grid must be bounded at nCells·maxLabelDirs: ${sub.length}")
    // the layout's pruning promise, asserted on the scan itself: a
    // (lbk, label) predicate reads ONLY that bucket's directories
    val one = spark.read.parquet(s"$dir/assigned")
      .filter(col("lbk") === org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64(lit(7L)), lit(8L)).cast("int") &&
        col("label") === 7)
    one.collect()
    val scans = one.queryExecution.executedPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty &&
      scans.head.metrics("numFiles").value < sub.length,
      "the bucket predicate must prune directories, not scan the grid")
    // identical answers through the bucketed layout, incl. after reopen
    val got = rows(idx.query(e.filter(col("vec_id") < 5), 10))
    assert(got.nonEmpty && got == fused)
    assert(rows(graft.sim.IvfIndex(spark, dir)
      .query(e.filter(col("vec_id") < 5), 10)) == fused)
    // the lbk contract is TYPE-insensitive within the integral family:
    // a query batch whose label column is a different integral width
    // than the corpus's must derive the same bucket — lbk hashes the
    // canonical LONG form on both sides (xxhash64 over the raw column
    // hashes int and long differently; that bug returns zero/wrong
    // candidates with no error)
    val longLabels = e.filter(col("vec_id") < 5)
      .withColumn("label", col("label").cast("long"))
    assert(rows(idx.query(longLabels, 10)) == fused,
      "bucketed filtered query must tolerate a coercible label type change")
    // n_labels is served from the meta file, not a data scan (the meta
    // row also carries the dir count) — pin the values plus the
    // layout-version stamp and the persisted label family
    val meta = spark.read.parquet(s"$dir/meta").head
    assert(meta.getAs[Int]("n_label_dirs") == 8)
    assert(meta.getAs[Long]("n_labels") == 40L)
    assert(meta.getAs[Int]("layout_version") ==
      graft.sim.IvfIndex.BucketedLayoutVersion)
    assert(meta.getAs[String]("label_kind") == "integral")
    // a cross-FAMILY query batch (string labels against the integral
    // index) must fail with the named error, not silently prune to
    // wrong lbk directories
    val strLabels = e.filter(col("vec_id") < 5)
      .withColumn("label", col("label").cast("string"))
    val exFam = intercept[IllegalArgumentException](
      idx.query(strLabels, 10).collect())
    assert(exFam.getMessage.contains("family"), exFam.getMessage)
    // an unsupported label type (double) is rejected at build, never
    // hashed into a silently wrong bucket grid
    val exTyp = intercept[IllegalArgumentException](
      graft.sim.IvfIndex.build(
        e.withColumn("label", col("label").cast("double")),
        tmpDir("ivf_bucketed_bad_type"), nCells = 4, lloydIters = 0, byLabel = true,
        maxLabelDirs = 8))
    assert(exTyp.getMessage.contains("integral or string"), exTyp.getMessage)
    // an index written by an OLDER build (meta without layout_version)
    // fails at open with the named rebuild error, not an opaque
    // missing-column exception
    spark.range(1).select(lit(8).as("n_label_dirs"), lit(40L).as("n_labels"))
      .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/meta")
    val exOld = intercept[IllegalStateException](
      graft.sim.IvfIndex(spark, dir)
        .query(e.filter(col("vec_id") < 5), 10))
    assert(exOld.getMessage.contains("older graft version"), exOld.getMessage)
  }

  test("fused annIvfPq with every cell probed equals annPq exactly") {
    import spark.implicits._
    // nProbe = nCells ⇒ cell pruning drops nothing, so the fused IVF-PQ
    // composition must reproduce the pure-PQ path row-for-row
    val e = Seq.tabulate(45)(i =>
      (i.toLong, Seq.tabulate(64)(d => math.sin(i * 64.0 + d).toFloat)))
      .toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getDouble(4))).toSeq
    assert(rows(Vectors.annIvfPq(e, 3, 5, nCells = 4, nProbe = 4)) ==
      rows(Vectors.annPq(e, 3, 5)))
  }

  test("ivfProbeCurve is monotone in probe depth and exact at full probe") {
    import spark.implicits._
    val e = Seq.tabulate(40)(i =>
      (i.toLong, Seq.tabulate(64)(d => math.sin(i * 64.0 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val r = Vectors.ivfProbeCurve(e, 3, 5, nCells = 4,
        probes = Seq(1, 2, 4), ks = Seq(1, 5))
      .orderBy("n_probe").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(3), x.getDouble(5)))
    assert(r.map(_._1).toSeq == Seq(1L, 2L, 4L))
    assert(r.forall(_._2 == 3L))                     // n_q at every depth
    // recall never decreases as more cells are probed (candidate sets
    // are nested), and probing every cell IS the exact top-k
    assert(r.sliding(2).forall(p => p(0)._3 <= p(1)._3 && p(0)._4 <= p(1)._4))
    assert(r.last._3 == 1.0 && r.last._4 == 1.0)
  }

  test("sourceOverlap pins near-dup pairs to unordered source cells") {
    import spark.implicits._
    // near-identical long docs: 1≈2 crosses crawlB→crawlA (one off-
    // diagonal cell), 3≈4 stays inside crawlB (one diagonal cell);
    // doc 5 is unrelated and must appear nowhere
    val baseW = (1 to 40).map(i => s"w$i").mkString(" ")
    val baseY = (1 to 40).map(i => s"y$i").mkString(" ")
    val d = Seq(
      (1L, baseW, "crawlA"), (2L, baseW + " tail", "crawlB"),
      (3L, baseY, "crawlB"), (4L, baseY + " end", "crawlB"),
      (5L, (100 to 160).map(i => s"z$i").mkString(" "), "crawlA"))
      .toDF("doc_id", "text", "source")
    val m = Dedup.sourceOverlap(d).orderBy("source_a", "source_b").collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2)))
    assert(m.toSeq == Seq(("crawlA", "crawlB", 1L), ("crawlB", "crawlB", 1L)))
  }

  test("annRecallPq reads exactly 1.0 when rerank covers the corpus") {
    import spark.implicits._
    // rerank = corpus size ⇒ the ADC prescreen drops nothing and the
    // exact re-rank IS the exact top-k — recall must be exactly 1.0
    val e = Seq.tabulate(40)(i =>
      (i.toLong, Seq.tabulate(64)(d => math.sin(i * 64.0 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val r = Vectors.annRecallPq(e, 3, 5, Seq(1, 5), rerank = 37).collect()(0)
    assert(r.getLong(0) == 3L && r.getDouble(2) == 1.0 && r.getDouble(4) == 1.0)
  }

  test("ivfBalance reports the planted cell loads and shares") {
    import spark.implicits._
    def axis(d: Int, v: Float) = Seq.tabulate(64)(i => if (i == d) v else 0f)
    // seeds (2 lowest ids) define the cells; 2–4 sit on seed 0's axis,
    // 5 on seed 1's → loads 4 and 2 of 6
    val e = Seq(
      (0L, axis(0, 1f)), (1L, axis(1, 1f)),
      (2L, axis(0, 2f)), (3L, axis(0, 3f)), (4L, axis(0, 0.5f)),
      (5L, axis(1, 4f)))
      .toDF("vec_id", "embedding")
    val r = Vectors.ivfBalance(e, 2).orderBy("cell").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSeq
    assert(r == Seq((0L, 4L, 0.666667), (1L, 2L, 0.333333)))
  }

  test("bitq hamming prescreen ranks sign-identical before sign-flipped") {
    import spark.implicits._
    val alt = Seq.tabulate(64)(d => if (d % 2 == 0) 1f else -1f)
    val e = Seq(
      (0L, alt),                      // the query (nQueries = 1)
      (5L, alt.map(_ * 2f)),          // same signs → hamming 0, cos 1
      (6L, alt.map(-_)),              // all flipped → hamming 64, cos −1
      (7L, alt.updated(0, -1f)))      // one flipped lane → hamming 1
      .toDF("vec_id", "embedding")
    val r = Vectors.annBitq(e, 1, 3).orderBy("rank").collect()
      .map(x => (x.getLong(1), x.getLong(3), x.getDouble(4)))
    assert(r(0) == ((5L, 0L, 1.0)))
    assert(r(1)._1 == 7L && r(1)._2 == 1L)
    assert(r(2) == ((6L, 64L, -1.0)))
  }

  test("lshLoad prices the exact-bucket candidate mass per table") {
    import spark.implicits._
    // four identical vectors land in the same bucket of every table:
    // 16 rows, each 1 bucket of load 4 = C(4,2) = 6 candidates
    val v = Seq.tabulate(64)(d => math.sin(d + 1.0).toFloat)
    val e = Seq.tabulate(4)(i => (i.toLong, v)).toDF("vec_id", "embedding")
    val r = Vectors.lshLoad(e).orderBy("tbl").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4)))
    assert(r.toSeq == (0L to 15L).map(t => (t, 4L, 1L, 4L, 6L)), r.toSeq)
  }

  test("simhashLoad prices the pigeonhole candidate mass exactly") {
    import spark.implicits._
    // four identical docs share every chunk: each of the h+1 = 4 chunk
    // tables holds ONE bucket of load 4 = C(4,2) = 6 candidates
    val t = (1 to 40).map(i => s"w$i").mkString(" ")
    val d = Seq((1L, t), (2L, t), (3L, t), (4L, t)).toDF("doc_id", "text")
    val r = Dedup.simhashLoad(d).orderBy("chunk").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4)))
    assert(r.toSeq == (0L to 3L).map(c => (c, 4L, 1L, 4L, 6L)), r.toSeq)
  }

  test("annRecallIvfPq reads exactly 1.0 when nothing is pruned") {
    import spark.implicits._
    // nProbe = nCells and rerank = corpus ⇒ neither stage drops a
    // candidate, the fused path IS the exact top-k — recall must be 1.0
    val e = Seq.tabulate(45)(i =>
      (i.toLong, Seq.tabulate(64)(d => math.sin(i * 64.0 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val r = Vectors.annRecallIvfPq(e, 3, 5, Seq(1, 5),
      nCells = 4, nProbe = 4, rerank = 42).collect()(0)
    assert(r.getLong(0) == 3L && r.getDouble(2) == 1.0 && r.getDouble(4) == 1.0)
  }

  test("annIvfPqFiltered pre-filters the CODE rows: admissible neighbors survive a dominant inadmissible mass") {
    import spark.implicits._
    // same geometry as the filtered annIvf pre-filter spec: the query's
    // label-1 class has three far vectors while twenty label-0 clones of
    // the query dominate every unfiltered stage (cells, ADC, re-rank).
    // The fused filtered path must return exactly the three admissible
    // vectors — proof the label keys the compressed-code candidate join
    // and no stage post-filters.
    val q = Seq.tabulate(64)(d => if (d == 0) 1f else 0f)
    val far = Seq.tabulate(64)(d => if (d == 1) 1f else 0f)
    val near = (1L to 20L).map(i => (i, q, 0))
    val admissible = (21L to 23L).map(i => (i, far, 1))
    val e = ((0L, q, 1) +: (near ++ admissible)).toDF("vec_id", "embedding", "label")
    val got = Vectors.annIvfPq(e, 1, 3, nCells = 2, nProbe = 2, byLabel = true)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSet == Set(21L, 22L, 23L), got.toSeq.toString)
    assert(got.forall(_._2 == 1L))
  }

  test("annIvfPqFiltered with every cell probed and full rerank equals the exact filtered top-k") {
    import spark.implicits._
    // adaptiveProbe(4, 4, 3) saturates at nCells and rerank covers every
    // admissible candidate ⇒ no stage drops anything: the fused filtered
    // composition must reproduce the filtered annTopK row-for-row, and the
    // fused gate must read exactly 1.0
    val e = Seq.tabulate(40)(i =>
      (i.toLong, Seq.tabulate(64)(d => math.sin(i * 64.0 + d).toFloat), i % 3))
      .toDF("vec_id", "embedding", "label")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id", "label", "rank", "cos_sim")
        .orderBy("q_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSeq
    assert(rows(Vectors.annIvfPq(e, 3, 5, nCells = 4, nProbe = 4,
        rerank = 37, byLabel = true)) ==
      rows(Vectors.annTopK(e, 3, 5, byLabel = true)))
    val r = Vectors.annRecallIvfPq(e, 3, 5, Seq(1, 5),
      nCells = 4, nProbe = 4, rerank = 37, byLabel = true).collect()(0)
    assert(r.getLong(0) == 3L)
    assert(r.getDouble(2) == 1.0 && r.getDouble(4) == 1.0)
  }

  test("fused-filtered gate at the registered config on the gate SF") {
    // sfDir embeddings: 10 labels ⇒ the adaptive rule probes every cell,
    // so the only approximation left is the ADC prescreen (rerank = 32
    // over ~1/10 of the corpus per query) — the shipped config's recall,
    // measured the way emb_ann_filtered_pq_recall gates it
    val emb = Tables.load(spark, sfDir, "embeddings")
    val r = Vectors.annRecallIvfPq(emb, 5, 10, byLabel = true).collect()(0)
    assert(r.getLong(0) == 5L, s"n_q: $r")
    assert(r.getDouble(6) >= 0.9,
      s"fused filtered recall@10 must be >= 0.9 at the registered config, got $r")
  }

  test("knnPurity counts same-label kNN edges per label") {
    import spark.implicits._
    def v(axis: Int, perturbAxis: Int, eps: Float) =
      Seq.tabulate(64)(d => if (d == axis) 1f else if (d == perturbAxis) eps else 0f)
    // group A (ids 0-3) on axis 0, all label 0; group B (ids 4-7) on
    // axis 1 — 4,5,6 label 1 and 7 a planted MISLABEL (label 0 inside
    // B's neighborhood). Cross-group cosine ≈ 0 < tau, so each vector's
    // k=3 neighbors are exactly its own group.
    val e = (Seq.tabulate(4)(i => (i.toLong, v(0, 2, 0.01f * (i + 1)), 0)) ++
      Seq.tabulate(4)(i => ((i + 4).toLong, v(1, 3, 0.01f * (i + 1)),
        if (i == 3) 0 else 1)))
      .toDF("vec_id", "embedding", "label")
    val r = Vectors.knnPurity(e, 0.4, 3).orderBy("label").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getDouble(4)))
    // label 0: A's 12 all-same edges + the mislabel's 3 all-different
    assert(r(0) == ((0L, 5L, 15L, 12L, 0.8)), s"label 0: ${r(0)}")
    // label 1: each of 4,5,6 sees 2 same + the mislabel
    assert(r(1) == ((1L, 3L, 9L, 6L, 0.666667)), s"label 1: ${r(1)}")
  }

  test("pqBalance reports hot cells and surfaces dead cells as zero") {
    import spark.implicits._
    def fill(x: Float) = Seq.fill(64)(x)
    // seeds 0..15 (code = id); seed 7 DUPLICATES seed 6, so every
    // vector tied between codes 6 and 7 takes the lower — code 7 is
    // dead in every sub; ids 16-19 copy seed 3 — code 3 runs hot
    val e = (Seq.tabulate(16)(i =>
        (i.toLong, fill(if (i == 7) 7f else i + 1f))) ++
      Seq.tabulate(4)(i => ((i + 16).toLong, fill(4f))))
      .toDF("vec_id", "embedding")
    val r = Vectors.pqBalance(e).collect()
      .map(x => ((x.getLong(0), x.getLong(1)), (x.getLong(2), x.getDouble(3))))
      .toMap
    assert(r.size == 128)                            // 8 subs × 16 codes
    (0L until 8L).foreach { s =>
      assert(r((s, 3L)) == ((5L, 0.25)), s"hot cell sub $s: ${r((s, 3L))}")
      assert(r((s, 6L)) == ((2L, 0.1)), s"tie cell sub $s: ${r((s, 6L))}")
      assert(r((s, 7L)) == ((0L, 0.0)), s"dead cell sub $s: ${r((s, 7L))}")
      assert(r((s, 0L)) == ((1L, 0.05)))
    }
  }

  test("annRecallBitq reads exactly 1.0 when cand covers the corpus") {
    import spark.implicits._
    // cand = corpus size ⇒ the Hamming prescreen drops nothing and the
    // exact re-rank IS the exact top-k — recall must be exactly 1.0
    val e = Seq.tabulate(40)(i =>
      (i.toLong, Seq.tabulate(64)(d => math.sin(i * 64.0 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val r = Vectors.annRecallBitq(e, 3, 5, Seq(1, 5), cand = 37).collect()(0)
    assert(r.getLong(0) == 3L && r.getDouble(2) == 1.0 && r.getDouble(4) == 1.0)
  }

  test("pqRerankCurve is monotone, capped below k, exact at corpus depth") {
    import spark.implicits._
    val e = Seq.tabulate(40)(i =>
      (i.toLong, Seq.tabulate(64)(d => math.sin(i * 64.0 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val r = Vectors.pqRerankCurve(e, 3, 5, reranks = Seq(2, 8, 37), ks = Seq(1, 5))
      .orderBy("rerank").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(3), x.getDouble(5)))
    assert(r.map(_._1).toSeq == Seq(2L, 8L, 37L))
    assert(r.forall(_._2 == 3L))                     // n_q at every depth
    // deeper depths re-rank SUPERSETS of the same ADC candidates —
    // recall never decreases along the curve
    assert(r.sliding(2).forall(p => p(0)._3 <= p(1)._3 && p(0)._4 <= p(1)._4))
    // a depth below k structurally caps recall@k at depth/k
    assert(r(0)._4 <= 0.4 + 1e-9, s"recall@5 at depth 2 was ${r(0)._4}")
    // depth = corpus ⇒ the ADC prescreen drops nothing ⇒ exact
    assert(r.last._3 == 1.0 && r.last._4 == 1.0)
  }
}
