package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.TextHashes

/** Corpus deduplication at 100 TB scale: exact (hash groupBy), MinHash+LSH
  * (band-bucketed candidate join + exact verification), SimHash (pigeonhole
  * chunk join), and exact n-gram Jaccard (the small-scope oracle).
  *
  * Scale notes baked into the plans:
  *  - Nothing quadratic touches the full corpus: LSH/SimHash candidates come
  *    from equality self-joins on (band, bucket) keys — a plain shuffle
  *    hash join whose cost is bounded by bucket sizes, with AQE skew
  *    handling for hot buckets.
  *  - The exact-verify step runs only on the candidate pair set.
  *  - Signatures are computed with codegen'd expressions (xxhash64 inside
  *    array transforms), one pass over each document.
  */
object Dedup {

  /** Exact dedup: canonical-id assignment per md5(norm) group. Output keeps
    * every row (doc_id → keep_id), so it doubles as the dedup mapping table
    * a downstream pipeline would join against.
    */
  def exact(docs: DataFrame): DataFrame = {
    TextFunctions.withBase(docs).withColumn("fp", TextFunctions.exactFp())
      .withColumn("keep_id", TextFunctions.keepId())
      .select(col("doc_id"), col("fp"), col("keep_id"),
        TextFunctions.isDup(col("keep_id")).as("is_dup"))
  }

  /** Shared-prefix groups: documents opening with the same first `k`
    * words (k-word prefix, normalized) — the boilerplate/template signal
    * exact-dedup misses when tails differ (mirrors, footers, generated
    * fill). Same plan shape as exact(): hash the prefix, one keyed window
    * over the fingerprint, emit only docs in a group of ≥ 2. Groups are
    * boilerplate-cluster-sized, never corpus-scale (AQE splits a rare hot
    * template key).
    */
  def prefixGroups(docs: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"prefix length must be positive, got $k")
    val base = TextFunctions.withBase(docs)
      .filter(size(col("w")) >= k)
      .withColumn("pfp", md5(concat_ws(" ", slice(col("w"), 1, k))))
    val grp = Window.partitionBy(col("pfp"))
    base
      .withColumn("group_id", min(col("doc_id")).over(grp))
      .withColumn("n_shared", count(lit(1)).over(grp))
      .filter(col("n_shared") > 1)
      .select(col("doc_id"), col("pfp"), col("group_id"), col("n_shared"))
  }

  /** (doc_id, hs = sorted distinct hashed shingles) — the codegen'd
    * HashedShingles expression; identical Jaccard arithmetic to string
    * shingles (2^-64 collision caveat documented on the expression).
    */
  private def hashedShingled(docs: DataFrame, n: Int): DataFrame =
    TextFunctions.withBase(docs)
      .select(col("doc_id"), TextHashes.hashedShingles(col("norm"), n).as("hs"))
      .filter(col("hs").isNotNull)

  /** The shingle postings (inverted index): one (doc_id, sz, g) row per
    * document and distinct hashed shingle g, sz = the document's
    * distinct-shingle count. Documents under n words have no shingles and
    * no rows.
    */
  private def postings(docs: DataFrame, n: Int): DataFrame =
    hashedShingled(docs, n)
      .select(col("doc_id"), size(col("hs")).as("sz"), explode(col("hs")).as("g"))

  /** Shared shingles per document pair of two postings frames — the
    * inverted-index equality join on g, never a theta-join: cost is
    * Σ df_a(g)·df_b(g) over shared shingles. `names` = the two id
    * columns, then optionally the two size columns, all grouped on;
    * `self` keeps each unordered pair once (id_a < id_b). Hashes are
    * distinct per document, so the count equals the string-shingle
    * intersection size.
    */
  private def overlap(a: DataFrame, b: DataFrame, names: Seq[String], self: Boolean,
                      out: String = "inter"): DataFrame = {
    def side(inv: DataFrame, id: String, sz: Option[String]): DataFrame =
      inv.select((col("doc_id").as(id) +: sz.toSeq.map(col("sz").as(_))) :+ col("g"): _*)
    val szs = names.drop(2).lift
    val joined = side(a, names(0), szs(0)).join(side(b, names(1), szs(1)), Seq("g"))
    (if (self) joined.filter(col(names(0)) < col(names(1))) else joined)
      .groupBy(names.map(col): _*)
      .agg(count(lit(1)).as(out))
  }

  /** Jaccard from an intersection and the two set sizes:
    * inter / (a + b − inter).
    */
  private def jaccard(inter: Column, a: Column, b: Column): Column =
    inter.cast("double") / (a + b - inter)

  /** The oracle-comparison scope: documents with doc_id < idLimit. */
  private def scoped(docs: DataFrame, idLimit: Option[Long]): DataFrame =
    idLimit.fold(docs)(l => docs.filter(col("doc_id") < l))

  /** Positional n-gram hashes of a (doc_id, w) frame: one (doc_id, i, g)
    * row per gram START i (1-based, multiplicity kept), g = xxhash64 of
    * the gram (the 2⁻⁶⁴ collision caveat of hashedShingles applies).
    * Documents under n words have no positions.
    */
  private def positions(base: DataFrame, n: Int): DataFrame =
    base.select(col("doc_id"),
        posexplode(TextFunctions.wordShingleSeq(n)).as(Seq("p", "gram")))
      .select(col("doc_id"), (col("p") + 1).as("i"), xxhash64(col("gram")).as("g"))

  /** Exact word-n-gram Jaccard similarity pairs via an inverted-index
    * equality join (NOT a quadratic theta-join): explode distinct hashed
    * shingles, self-join on the hash, count matches per pair — `inter`
    * equals the string-shingle intersection size (hashes are distinct per
    * doc). Only pairs sharing ≥ 1 shingle ever materialize, and the shuffle
    * key is the 8-byte shingle hash (not the string), so cost is
    * Σ df(g)² over shingles, not |docs|², and shuffle volume is minimal.
    * At corpus scale, stop-shingles (df in the millions) are the skew risk:
    * AQE skew-join splits them, and a df-cap prefilter is the standard
    * lossy knob (not applied here — the gate requires exact Jaccard).
    * `idLimit` only scopes the oracle comparison set.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, tau: Double,
                        idLimit: Option[Long] = None,
                        maxDf: Option[Long] = None): DataFrame = {
    val invAll = postings(scoped(docs, idLimit), n)
    // The standard lossy knob for corpus scale: drop shingles with
    // document frequency > maxDf before the self-join. Stop-shingles are
    // the skew term (cost is Σ df(g)²; one million-df shingle is 10^12
    // candidate pairs on its own) and they carry no dedup signal — but
    // dropping them UNDERCOUNTS `inter`, so Jaccard is a lower bound and
    // borderline pairs can be missed (spec-pinned: output ⊆ exact pairs).
    // None (the default, and the oracle-gated configuration) stays exact.
    val inv = maxDf.fold(invAll) { cap =>
      val df = invAll.groupBy(col("g")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= cap).select(col("g"))
      invAll.join(df, "g")
    }
    overlap(inv, inv, Seq("id_a", "id_b", "sza", "szb"), self = true)
      .withColumn("jaccard", jaccard(col("inter"), col("sza"), col("szb")))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), graft.Quant.q6(col("jaccard")).as("jaccard"))
  }

  /** Asymmetric n-gram containment pairs — |A∩B|/|A| and |A∩B|/|B| over
    * distinct word shingles, thresholded on the LARGER direction: the
    * subset/quote detector symmetric Jaccard misses (a short doc fully
    * embedded in a long one has Jaccard ≈ |A|/|B| — arbitrarily low —
    * but containment exactly 1.0; the "is this doc quoted inside that
    * one" dedup question). Same inverted-index equality self-join as
    * ngramJaccardPairs — candidates cost Σ df(g)², never |docs|², AQE
    * splits stop-shingle skew — only the emitted ratios differ.
    */
  def containmentPairs(docs: DataFrame, n: Int, tau: Double,
                       idLimit: Option[Long] = None): DataFrame = {
    val inv = postings(scoped(docs, idLimit), n)
    overlap(inv, inv, Seq("id_a", "id_b", "sza", "szb"), self = true)
      .withColumn("c_a", col("inter").cast("double") / col("sza"))
      .withColumn("c_b", col("inter").cast("double") / col("szb"))
      .filter(greatest(col("c_a"), col("c_b")) >= tau)
      .select(col("id_a"), col("id_b"), col("inter"),
        graft.Quant.q6(col("c_a")).as("contain_a"),
        graft.Quant.q6(col("c_b")).as("contain_b"))
  }

  /** Exact Jaccard over (ha, hb) sorted hashed-shingle arrays — codegen'd
    * merge-walk intersection, no per-element lambda dispatch.
    */
  private def verifiedJaccard(pairs: DataFrame, tau: Double): DataFrame =
    pairs
      .withColumn("inter", TextHashes.intersectCount(col("ha"), col("hb")))
      .filter(col("inter") > 0)
      .withColumn("jaccard", jaccard(col("inter"), size(col("ha")), size(col("hb"))))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), graft.Quant.q6(col("jaccard")).as("jaccard"))

  /** MinHash + LSH near-dup pairs, exact-verified.
    *
    * shingle(n words) → 64 min-hashes (xxhash64 with per-function salt) →
    * 32 bands × 2 rows → band-bucket equality self-join → distinct
    * candidates → exact Jaccard ≥ tau filter. For tau=0.8 and the banding
    * (b=32, r=2), a true pair is missed with probability (1−J²)^32 ≤ 4e-9,
    * and the verify step removes all false positives, so the output equals
    * the exact-Jaccard pair set.
    */
  def minhashPairs(docs: DataFrame, n: Int = 3, numHashes: Int = 64,
                   bandRows: Int = 2, tau: Double = 0.8): DataFrame = {
    val base = minhashBase(docs, n, numHashes)
    verifiedJaccard(minhashVerifyJoin(minhashCand(
      minhashBuckets(base, numHashes, bandRows)), base), tau)
  }

  /** STAGE BUILDERS for the minhash pair graph — one definition each,
    * shared by minhashPairs and graft.text.ShardProbe, so the probe's
    * stage decomposition measures exactly the pipeline the queries run
    * (the Vectors.lshHashed doctrine on the text axis).
    *
    * minhashBase: signatures come from the codegen'd MinHashSig
    * expression — one tight loop per document over the normalized bytes
    * (shingle slices hashed once, k remixes each), no shingle arrays, no
    * interpreted lambdas. Signature AND shingle set are computed in the
    * SAME compiled pass and materialized once (localCheckpoint): the
    * verify stage joins the shingle side twice, so without this the
    * corpus would be normalized and hashed three times. The materialized
    * rows are doc_id + hashes — a few % of the raw text size — and spill
    * to executor disk at scale (the standard persist-the-signatures
    * shape of production dedup).
    */
  private[graft] def minhashBase(docs: DataFrame, n: Int, numHashes: Int): DataFrame =
    TextFunctions.withBase(docs)
      .select(col("doc_id"),
        TextHashes.minhashSig(col("norm"), n, numHashes).as("sig"),
        TextHashes.hashedShingles(col("norm"), n).as("hs"))
      .localCheckpoint()

  /** (doc_id, band, bv) bucket rows: one row per band key (bandKeys). */
  private[graft] def minhashBuckets(base: DataFrame, numHashes: Int,
                                    bandRows: Int): DataFrame =
    base.select(col("doc_id"), col("sig")).filter(col("sig").isNotNull)
      .select(col("doc_id"), explode(bandKeys(numHashes, bandRows)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bv").as("bv"))

  /** The band keys of a `sig` column: one struct(band, bv) per band of
    * `bandRows` signature rows, bv = xxhash64 over the band's rows — the
    * banding StreamNearDedup's bucket index keys on too. 64-bit ON
    * PURPOSE: bucket collisions between unrelated documents are pure
    * birthday noise that the exact verify must then pay to reject, and
    * with a 32-bit band value the random-candidate mass grows as
    * n²·bands/2³² — ~3.7 B candidate pairs at 10⁹ documents — while at 64
    * bits the same corpus yields ~1. The verified output is IDENTICAL
    * either way (equal band rows hash equal under any hash; the
    * exact-Jaccard filter removes every false positive), so the width is
    * free correctness-wise and removes the only quadratic term the band
    * join has. A persistent streaming index, whose buckets only grow,
    * needs it more than a one-shot join.
    */
  private[graft] def bandKeys(numHashes: Int, bandRows: Int): Column =
    array((0 until numHashes / bandRows).map { b =>
      val rows = (0 until bandRows).map(r => col("sig")(b * bandRows + r))
      struct(lit(b).as("band"), xxhash64(rows: _*).as("bv"))
    }: _*)

  /** Distinct candidate ID pairs from the band-bucket self-join —
    * key-only (16 B/row through the distinct shuffle; no payload
    * attaches before deduplication).
    */
  private[graft] def minhashCand(buckets: DataFrame): DataFrame =
    buckets.select(col("doc_id").as("id_a"), col("band"), col("bv"))
      .join(buckets.select(col("doc_id").as("id_b"), col("band"), col("bv")),
        Seq("band", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()

  /** The verify join-back: attach both endpoints' hashed shingle sets
    * (from the SAME materialized base pass) to each candidate pair.
    */
  private[graft] def minhashVerifyJoin(cand: DataFrame, base: DataFrame): DataFrame = {
    val hsh = base.select(col("doc_id"), col("hs")).filter(col("hs").isNotNull)
    cand
      .join(hsh.select(col("doc_id").as("id_a"), col("hs").as("ha")), "id_a")
      .join(hsh.select(col("doc_id").as("id_b"), col("hs").as("hb")), "id_b")
  }

  /** Near-duplicate decontamination: exact n-gram Jaccard between a TRAIN
    * corpus and a (small) BENCHMARK corpus — the scored complement of
    * contamination()'s verbatim-run detector (light paraphrase / heavy
    * partial overlap scores high here even when no single long run is
    * shared). Same inverted-index shape as ngramJaccardPairs, but the
    * join is strictly train×bench, so cost is Σ df_train(g)·df_bench(g)
    * — bounded by the tiny benchmark side, never train².
    */
  def crossJaccardPairs(train: DataFrame, bench: DataFrame, n: Int,
                        tau: Double): DataFrame = {
    overlap(postings(train, n), postings(bench, n),
        Seq("train_id", "bench_id", "szt", "szb"), self = false)
      .withColumn("jaccard", jaccard(col("inter"), col("szt"), col("szb")))
      .filter(col("jaccard") >= tau)
      .select(col("train_id"), col("bench_id"),
        graft.Quant.q6(col("jaccard")).as("jaccard"))
  }

  /** Exact shared-long-n-gram pairs: documents sharing at least one exact
    * run of `n` consecutive words (the "substring duplication" signal of
    * exact-substring dedup — long verbatim overlaps catch boilerplate and
    * near-copies that token-set Jaccard dilutes). Same inverted-index
    * shape as ngramJaccardPairs, but n is long (default 20) so the index
    * is sparse and the join tiny; output counts the shared n-grams.
    */
  def sharedNgramPairs(docs: DataFrame, n: Int = 20): DataFrame = {
    val inv = postings(docs, n)
    overlap(inv, inv, Seq("id_a", "id_b"), self = true, out = "n_shared")
  }

  /** Per-document duplicated-passage mass — the exact-substring-dedup
    * decision signal: what fraction of this document's n-gram positions
    * is verbatim text that also appears in ANOTHER document? (Long n —
    * default 8 words — so a hit means a copied passage, not a common
    * phrase.) Docs under n words have no positions and are exempt.
    *
    * Scale shape: positions exploded once (Σ tokens rows, 8-byte
    * xxhash64 shuffle keys), then ONE window over the gram key and ONE
    * per-doc aggregate. "This gram appears in ≥ 2 documents" needs no
    * doc-frequency table: df ≥ 2 ⟺ min(doc_id) ≠ max(doc_id) over the
    * gram's position rows — two running aggregates in a single pass of
    * the g-partitioned window, no second aggregation and no join back.
    * The earlier per-(doc,gram)-counts → df-table → join-back plan paid
    * two corpus-sized aggregations plus a sort-merge join of two
    * Σ-position-sized sides for the SAME answer — measured stage by stage
    * at the 1000× decade (235.7M positions, 224.7M distinct grams: long
    * grams are nearly all globally unique, so the "aggregates" reduced
    * nothing and the join dominated at ~388 s; shuffle-partition scaling
    * moved it 2%, because the cost was plan shape, not spill). Nothing
    * pairwise ever materializes: cost is Σ positions, not Σ df² — this
    * is what lets the span audit run on the corpus the pair-based dedups
    * sample from. (Gram identity is the 64-bit hash: the 2⁻⁶⁴ collision
    * caveat of hashedShingles applies.)
    */
  def dupSpanStats(docs: DataFrame, n: Int = 8): DataFrame = {
    val wg = Window.partitionBy(col("g"))
    positions(TextFunctions.withBase(docs), n)
      .withColumn("dup",
        min(col("doc_id")).over(wg) =!= max(col("doc_id")).over(wg))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        graft.Quant.q6(col("n_dup").cast("double") / col("n_ngrams")))
  }

  /** LSH band-configuration sweep — the (bands × rows) tuning table read
    * before minhashPairs ships a config: for each rows-per-band r over
    * the same `numHashes` signatures, the candidate-pair count (the cost
    * a production run would pay at that setting) and how many of the
    * exact near-dup pairs (n-gram Jaccard ≥ tau) the candidates cover
    * (the recall the setting buys). r=1 is the expensive/high-recall
    * extreme, r=4 the cheap/low-recall one; the knee of this curve is
    * the config decision.
    *
    * Signatures here are md5-derived (sig[k] = min over the doc's
    * distinct shingles of the 16-hex md5 prefix of "k|gram") so EVERY
    * number in the sweep — signatures, buckets, candidates, recall — is
    * replayable in the SQL oracle; the production pair path
    * (minhashPairs) keeps its faster codegen'd xxhash64 signatures, and
    * the banding probability curve is identical under any uniform hash.
    * The true-pair reference comes from the inverted-index exact
    * generator (ngramJaccardPairs — Σ df², never pairwise). One
    * signature pass (localCheckpoint) feeds all |rowsList| band joins;
    * per-config cost is that config's real candidate generation, which
    * is exactly what the audit must measure — at corpus scale this runs
    * on a SAMPLE (`idLimit` cuts docs to doc_id < limit, scoping the
    * signature pass, every band join, AND the exact truth set to the
    * same slice), like every calibration audit in this file: the
    * banding probability curve is a property of the Jaccard
    * distribution, not the corpus size, so the sampled knee is the
    * production knee.
    */
  def minhashTune(docs: DataFrame, n: Int = 3, numHashes: Int = 64,
                  rowsList: Seq[Int] = Seq(1, 2, 4),
                  tau: Double = 0.5, idLimit: Option[Long] = None): DataFrame = {
    require(rowsList.nonEmpty && rowsList.forall(r => r > 0 && numHashes % r == 0),
      s"every rows-per-band must divide numHashes=$numHashes: $rowsList")
    val scope = scoped(docs, idLimit)
    // sig[k] = min over shingles of hex16(md5("k|gram")) — one compiled
    // byte pass per doc (graft.plans.TextHashes.Md5MinSig) replacing the
    // interpreted transform/array_min/md5/substring tree, value-identical
    // (Md5MinSigSpec pins it against that form; the SQL oracle keeps it)
    val base = TextFunctions.withBase(scope)
      .select(col("doc_id"),
        graft.plans.TextHashes.md5MinSig(col("norm"), n, numHashes).as("sig"))
      .filter(col("sig").isNotNull)
      .localCheckpoint()
    val truePairs = ngramJaccardPairs(scope, n, tau)
      .select(col("id_a"), col("id_b"), lit(true).as("is_true"))
    val nTrue = truePairs.agg(count(lit(1)).as("n_true_total"))
    rowsList.map { r =>
      val nb = numHashes / r
      val bands = (0 until nb).map { b =>
        struct(lit(b).as("band"),
          concat_ws("#", (0 until r).map(i => col("sig")(b * r + i)): _*)
            .as("bv"))
      }
      val buckets = base
        .select(col("doc_id"), explode(array(bands: _*)).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"), col("bk.bv").as("bv"))
      buckets.select(col("doc_id").as("id_a"), col("band"), col("bv"))
        .join(buckets.select(col("doc_id").as("id_b"), col("band"), col("bv")),
          Seq("band", "bv"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b")).distinct()
        .join(truePairs, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_cand"),
          sum(when(col("is_true"), 1L).otherwise(0L)).as("n_true_cand"))
        .select(lit(r.toLong).as("rows_per_band"), lit(nb.toLong).as("n_bands"),
          col("n_cand"), col("n_true_cand"))
    }.reduce(_ unionAll _)
      .crossJoin(broadcast(nTrue))
      .withColumn("recall",
        when(col("n_true_total") === 0, lit(null).cast("double"))
          .otherwise(graft.Quant.q6(
            col("n_true_cand").cast("double") / col("n_true_total"))))
  }

  /** Per-document NOVEL-content mass — the incremental-dedup admission
    * signal dupSpanStats' symmetric view can't give: processing docs in
    * doc_id order, what fraction of this document's n-gram positions is
    * text no EARLIER document already contributed? Every gram is "owned"
    * by the minimum doc_id containing it; a position is novel iff its doc
    * owns the gram. The first copy of a passage scores it, every later
    * copy scores 0 for those positions — so novelty_frac is exactly the
    * marginal n-gram mass a greedy in-order dedup would keep from each
    * doc (docs under n words have no positions and are exempt).
    *
    * Scale shape: identical to dupSpanStats — positions exploded once,
    * per-(doc, gram) counts, gram ownership (min doc_id) from that same
    * table, one join back. Σ positions cost, never pairwise; the 2⁻⁶⁴
    * xxhash64 collision caveat applies.
    */
  def ngramNovelty(docs: DataFrame, n: Int = 8): DataFrame = {
    val perDocGram = positions(TextFunctions.withBase(docs), n).groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("cnt"))
    val owner = perDocGram.groupBy(col("g"))
      .agg(min(col("doc_id")).as("owner"))
    perDocGram.join(owner, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_ngrams"),
        sum(when(col("owner") === col("doc_id"), col("cnt")).otherwise(0L))
          .as("n_novel"))
      .withColumn("novel_frac",
        graft.Quant.q6(col("n_novel").cast("double") / col("n_ngrams")))
  }

  /** Exact-substring span REMOVAL — the rewrite a corpus dedup actually
    * ships (dupSpanStats measures the mass; this excises it): processing
    * docs in doc_id order, every word position covered by an n-gram
    * occurrence whose gram some EARLIER doc already contributed is
    * removed; the first copy of a passage survives intact (gram
    * ownership = min doc_id, the ngramNovelty rule, so internal repeats
    * inside the owning doc survive too). Output per doc: word count,
    * removed-position count, and the cleaned text — directly writable as
    * the deduplicated corpus. Docs under n words carry no grams and pass
    * through whole.
    *
    * Scale shape: positions exploded once (Σ positions), ownership from
    * the per-(doc, gram) distinct table (one shuffle on the 8-byte
    * xxhash64 gram key), coverage = n-wide sequence explode per NON-OWNED
    * occurrence only, covered-index set re-aggregated per doc (bounded by
    * the doc's own length — row-sized, like the doc itself), one keyed
    * join back. Never pairwise, never Σ df²; the 2⁻⁶⁴ hash-collision
    * caveat applies. The rebuild arithmetic (index grid → CASE → filter
    * nulls → join with ' ') is replayed verbatim by the SQL oracle.
    */
  def spanRemoval(docs: DataFrame, n: Int = 8): DataFrame = {
    val base = TextFunctions.withBase(docs).select(col("doc_id"), col("w"))
    val pos = positions(base, n)
    val owner = pos.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g")).agg(min(col("doc_id")).as("owner"))
    val cov = pos.join(owner, Seq("g"))
      .filter(col("owner") < col("doc_id"))
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + (n - 1))).as("idx"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("idx")).as("cov"))
    base.join(cov, Seq("doc_id"), "left")
      .withColumn("cov", coalesce(col("cov"), typedlit(Seq.empty[Int])))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        size(col("cov")).cast("long").as("n_removed"),
        expr("array_join(filter(transform(sequence(1, size(w)), i -> " +
          "CASE WHEN array_contains(cov, i) THEN NULL ELSE element_at(w, i) END), " +
          "x -> x IS NOT NULL), ' ')").as("text_clean"))
  }

  /** Per-source span-dedup recovery profile — the budget decision table
    * over spanRemoval's rewrite: for each source, how many word
    * positions survive the excision and what fraction the dedup
    * recovers. This is the number a 100 TB curation run reads to decide
    * WHERE the duplication lives (a mirrored crawl shows up as one
    * source's recovered_frac, not a corpus-wide average). One |sources|-
    * row aggregate over the span table — spanRemoval's Σ-positions cost
    * dominates; this adds a keyed join and a map-side-partial rollup.
    */
  def spanProfile(docs: DataFrame, n: Int = 8): DataFrame =
    spanRemoval(docs, n)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_removed")).as("n_removed"),
        sum(when(col("n_removed") > 0, 1L).otherwise(0L)).as("n_docs_touched"))
      .withColumn("removed_frac",
        graft.Quant.q6(col("n_removed").cast("double") / col("n_words")))

  /** Cross-source near-duplication matrix: for every unordered source
    * pair, the count and similarity profile of verified near-dup pairs
    * whose members live in those sources — the "which crawls mirror each
    * other" table. spanProfile says how much duplication each source
    * carries; this says where its other copy CAME FROM (an aggregator
    * re-hosting another crawl shows up as one off-diagonal cell, the
    * diagonal is within-source duplication), which decides whether dedup
    * must run across source boundaries or can shard by source — at
    * 100 TB the difference between a global shuffle and an embarrassing
    * parallel per-source pass. Rides the full minhashPairs machinery
    * (LSH banding, exact-Jaccard verify — never pairwise); on top of the
    * pair graph this is two keyed joins and a |sources|²-bounded rollup.
    * Mean Jaccard uses the unbounded-group decimal micro-unit sum (a
    * hot source pair can exceed the long-sum point bound).
    */
  def sourceOverlap(docs: DataFrame, n: Int = 3, tau: Double = 0.8): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    minhashPairs(docs, n, 64, 2, tau)
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), Seq("id_a"))
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), Seq("id_b"))
      .withColumn("source_a", least(col("sa"), col("sb")))
      .withColumn("source_b", greatest(col("sa"), col("sb")))
      .groupBy(col("source_a"), col("source_b"))
      .agg(
        count(lit(1)).as("n_pairs"),
        graft.Quant.sumUs6Unbounded(col("jaccard")).as("jus"),
        max(col("jaccard")).as("max_jaccard"))
      .withColumn("mean_jaccard", graft.Quant.mean6(col("jus"), col("n_pairs")))
      .drop("jus")
  }

  /** Cross-corpus contamination: training documents sharing at least
    * `minShared` exact `n`-word runs with any benchmark document — the
    * decontamination primitive of a training pipeline (benchmark answers
    * leaking into the corpus show up as verbatim n-gram runs). Same sparse
    * inverted-index equality join as sharedNgramPairs, but across two
    * corpora: cost is Σ df_train(g)·df_bench(g) over shared shingles, and
    * the benchmark side is tiny by nature, so the join is one shuffle on
    * the 8-byte shingle hash with a small build side — no quadratic pass
    * over the training corpus, which is the property that matters when
    * `train` is the 100 TB side.
    */
  def contamination(train: DataFrame, bench: DataFrame, n: Int = 8,
                    minShared: Long = 1L): DataFrame = {
    overlap(postings(train, n), postings(bench, n), Seq("train_id", "bench_id"),
        self = false, out = "n_shared")
      .filter(col("n_shared") >= minShared)
  }

  /** The heap-derived driver-regime bound: edges may spend at most a
    * quarter of the driver heap at the measured ~96 B/edge object cost
    * (collected Tuple2 + LongMap slots — see the clusters() doc), capped
    * at 16M edges (beyond that the broadcast mapping itself gets big) and
    * floored at 1M so a tiny test heap still takes the fast path on
    * test-sized graphs. Runtime.maxMemory IS the driver heap here —
    * clusters() runs on the driver. Override per call with the
    * driverEdgeLimit parameter.
    */
  private[graft] def derivedEdgeLimit: Long =
    math.min(16000000L,
      math.max(1000000L, Runtime.getRuntime.maxMemory() / 4 / 96))

  /** Connected components over a near-dup pair graph: every document gets
    * `cluster_id` = the minimum doc_id reachable through pair edges (its
    * own id when it appears in no pair). This is the step that turns a
    * pair list into actual dedup decisions — keep one representative per
    * cluster, drop the rest.
    *
    * Two regimes, same answer:
    *  - The pair set is metadata-scale relative to the corpus (it is the
    *    DUPLICATE graph, not the data). When it fits on the driver
    *    (≤ driverEdgeLimit edges), a union-find over the collected edges
    *    builds the component mapping in one pass, broadcast-joined back —
    *    one count + one collect instead of per-round Spark jobs. The
    *    default limit (driverEdgeLimit ≤ 0) is DERIVED from the actual
    *    driver heap — see derivedEdgeLimit: the honest per-edge cost is
    *    ~96 B (a specialized Tuple2[Long,Long] is a 32 B object plus its
    *    8 B slot in the collect array, and the LongMap holds up to 2
    *    open-addressing entries per edge at 16 B each with ~2× capacity
    *    slack), NOT the 16 B the raw longs suggest — a fixed 16M-edge
    *    limit would be ~1.5 GB of driver objects, an OOM on Spark's
    *    default 1 g driver where the old 2M limit safely routed to the
    *    distributed loop. Measured at the 1000× decade (where the driver
    *    runs at 32 g and the derived limit caps at 16M): the 3.6M-edge
    *    perceptual graph that a 2M limit pushed into the distributed
    *    loop (~820 s) unions on the driver in seconds.
    *  - Above the limit: distributed min-label propagation with pointer
    *    jumping (lbl(v) ← lbl(lbl(v)) each round squares the propagation
    *    distance → O(log diameter) rounds). Each round is a shuffle join
    *    + aggregation; `localCheckpoint` cuts the growing lineage (at
    *    cluster scale, `setCheckpointDir` + `checkpoint()` persists to
    *    reliable storage instead). Convergence is detected distributed.
    */
  def clusters(docs: DataFrame, pairs: DataFrame, maxIter: Int = 25,
               driverEdgeLimit: Long = -1L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val edgeLimit = if (driverEdgeLimit > 0) driverEdgeLimit else derivedEdgeLimit
    // materialize the edge list ONCE — it is re-joined every round, and
    // without this each round would recompute the entire upstream pair
    // pipeline (e.g. the full MinHash-LSH candidate generation)
    val edges = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .localCheckpoint()
    if (edges.count() <= edgeLimit) {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      // iterative find + path compression: the recursive form overflows
      // the stack on long union chains once the edge limit admits
      // multi-million-edge graphs
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (c != r) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
        r
      }
      edges.as[(Long, Long)].collect().foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // min-root
      }
      val mapping = parent.keysIterator.toArray.map(v => (v, find(v))).toSeq
        .toDF("doc_id", "cluster_id")
      return docs.select(col("doc_id"))
        .join(broadcast(mapping), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    }
    val sym = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
    // the loop carries only TOUCHED vertices (edge endpoints) — an
    // isolated doc's label can never change, so hauling the full doc
    // table through every iteration's shuffles only scales the loop with
    // the corpus instead of with the pair graph; isolated docs rejoin as
    // self-clusters at the end (same contract as the driver branch)
    var labels = sym.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("lbl"))
      .localCheckpoint()
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val nbrMin = sym.join(labels, sym("dst") === labels("v"))
        .groupBy(col("src")).agg(min(col("lbl")).as("nlbl"))
      val stepped = labels
        .join(nbrMin, labels("v") === nbrMin("src"), "left")
        .select(col("v"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      // pointer jumping (path halving): lbl(v) ← lbl(lbl(v)). Neighbor-min
      // alone propagates one hop per round (O(diameter) rounds — sparse
      // random near-dup graphs have long chains); the shortcut squares the
      // propagation distance, giving O(log diameter) rounds. Labels only
      // decrease and every label IS a vertex, so the self-join always hits.
      val next = stepped.as("x")
        .join(stepped.select(col("v").as("pv"), col("lbl").as("plbl")),
          col("x.lbl") === col("pv"), "left")
        .select(col("x.v").as("v"),
          least(col("x.lbl"), coalesce(col("plbl"), col("x.lbl"))).as("lbl"))
        .localCheckpoint()
      val changed = next.withColumnRenamed("lbl", "new")
        .join(labels, "v")
        .filter(col("new") =!= col("lbl")).count()
      labels = next
      converged = changed == 0L
      it += 1
    }
    // silent nonconvergence would report one real cluster as several —
    // fail loudly instead (long near-dup chains can exceed the bound)
    require(converged,
      s"clusters() did not converge in $maxIter rounds; raise maxIter " +
        "(component diameter exceeds it)")
    docs.select(col("doc_id"))
      .join(labels.select(col("v").as("doc_id"), col("lbl").as("cluster_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** 64-bit SimHash near-dup pairs with Hamming distance ≤ maxHamming.
    *
    * Candidate generation uses the pigeonhole principle: split the 64-bit
    * signature into (maxHamming+1) chunks — any pair within the Hamming
    * bound must agree on at least one chunk, so an equality join on
    * (chunk_idx, chunk_value) has recall 1.0 by construction; the
    * bit_count(xor) filter then removes false positives.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    // Codegen'd SimHashSig: one compiled pass per document — md5-lower-64
    // word hashes (TextHashes.md5Lower64, the DuckDB md5_number_lower
    // value), ±1 vote per bit, so the oracle recomputes the signature
    // verbatim. The signature frame is materialized once INSIDE
    // hammingPairs (localCheckpoint); the r15 `.cache()` here leaked a
    // CacheManager entry past the query's lifetime (the "already cached"
    // warnings every bench sweep logged) and is gone.
    val signed = TextFunctions.withBase(docs)
      .select(col("doc_id"), TextHashes.simhashSig(col("norm")).as("sig"))
    hammingPairs(signed, maxHamming)
  }

  /** Sketch-accuracy audit: every SimHash candidate pair (hamming ≤
    * `maxHamming`) re-scored with its EXACT word-n-gram Jaccard — the
    * calibration table ("what does a bit distance mean in token space")
    * a fingerprint-dedup deployment reads before committing to a
    * hamming threshold, and the quantified form of the usual
    * low-hamming-but-dissimilar false-positive worry. Pairs ride the
    * pigeonhole join; the exact score is the hashed-shingle merge walk.
    * A doc shorter than n words has no shingles: its pairs KEEP their
    * hamming row and score NULL (nothing to overlap on) — trivial docs
    * colliding at distance 0 is precisely what the audit must surface,
    * not drop.
    */
  def simhashAudit(docs: DataFrame, n: Int = 3, maxHamming: Int = 3): DataFrame = {
    // materialized once: the shingle frame attaches to BOTH pair
    // endpoints below, and without this the corpus is normalized and
    // shingled twice (once per join side) — same pattern as minhashBase
    val hs = hashedShingled(docs, n).localCheckpoint()
    simhashPairs(docs, maxHamming)
      .join(hs.select(col("doc_id").as("id_a"), col("hs").as("ha")), Seq("id_a"), "left")
      .join(hs.select(col("doc_id").as("id_b"), col("hs").as("hb")), Seq("id_b"), "left")
      .withColumn("inter",
        when(col("ha").isNull || col("hb").isNull, lit(0L))
          .otherwise(TextHashes.intersectCount(col("ha"), col("hb")).cast("long")))
      .select(col("id_a"), col("id_b"), col("hamming"),
        // shingle arrays are never empty, so two present sides always
        // have a positive union
        when(col("ha").isNotNull && col("hb").isNotNull,
          graft.Quant.q6(jaccard(col("inter"), size(col("ha")), size(col("hb")))))
          .as("jaccard"))
  }

  /** Dedup survivor selection — the decision a pipeline actually ships:
    * which document of each near-dup cluster to KEEP. Policy: longest
    * text wins (more content survives the cut), ties broken by lowest
    * doc_id for determinism. Output keeps every document with its cluster
    * label and a `kept` flag, so it is directly joinable as the dedup
    * mask AND auditable (dropped docs stay visible with their reason).
    *
    * Scale shape: clusters() provides the labels (bounded-edge driver
    * union-find or distributed label propagation); the argmax is a
    * per-cluster window — partitioned by cluster_id, so the frame is one
    * near-dup group, never the corpus.
    */
  def keepBest(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    // n_chars is the documents table's materialized length; a bare
    // (doc_id, text) frame derives it, so both shapes are accepted
    val len =
      if (docs.columns.contains("n_chars")) docs.select(col("doc_id"), col("n_chars"))
      else docs.select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
    clusters(docs, pairs)
      .join(len, Seq("doc_id"))
      .withColumn("kept", row_number().over(w) === 1)
      .select(col("doc_id"), col("cluster_id"), col("kept"))
  }

  /** THE PIGEONHOLE GRID (r16 final: h+1 single chunks, minimal-chunk
    * emit). The classic split: (h+1) near-equal blocks of the 64-bit
    * signature; a pair within Hamming h agrees on at least one whole
    * block, so bucketing each doc once per block (h+1 narrow rows) has
    * recall 1.0. An r16 experiment replaced this with Manku-WWW'07
    * 3-of-(h+3) block-combination tables (C(h+3,3) = 20 tables at h = 3,
    * >= 32 key bits) to starve the quadratic random-collision term the
    * 2^16 key space admits -- candidate mass measured 60.3 M -> 2.22 M at
    * 100x, 82 M at 1000x -- and it LOST on wall-clock at BOTH scales
    * (dedup_simhash 4.3 -> 11.0 s at 100x, 5.6 -> 39.6 s at 1000x;
    * mm_phash 69 -> 107 s at 1000x; OPTIMIZATION_r16.md has the full
    * table): the old candidate stream never crossed the network -- it is
    * consumed INSIDE the bucket join's codegen loop by the xor/bit_count
    * filter -- while the 5x bucket rows (each carrying the 8-byte sig
    * twice through the self-join) are real shuffle bytes that spill at
    * the decade. Guide-S1.1's lesson verbatim, so: chunks restored, and
    * the one part of the experiment that DID pay stays -- each surviving
    * pair is emitted from exactly ONE chunk (the minimal agreeing one, a
    * map-side mask test) instead of a distinct over all candidates.
    * Per chunk: (chunk id, the (shift, width) slice singleton) -- the ONE
    * spec both the engine columns and the SQL oracle render.
    */
  private[graft] def hammingComboSpec(maxHamming: Int): Seq[(Int, Seq[(Int, Int)])] = {
    // h = 0 degenerates to whole-signature equality (use the md5/exact
    // path); h > 13 would shrink blocks below 4 bits
    require(maxHamming >= 1 && maxHamming <= 13,
      s"maxHamming must be in [1, 13], got $maxHamming")
    val nChunks = maxHamming + 1
    val bounds = (0 to nChunks).map(i => 64 * i / nChunks)
    (0 until nChunks).map(ci => (ci, Seq((bounds(ci), bounds(ci + 1) - bounds(ci)))))
  }

  /** The bucket key of one combo — the left-fold shift-or of its block
    * slices, identical in the SQL oracle's rendering.
    */
  private def comboKey(spec: Seq[(Int, Int)]): org.apache.spark.sql.Column =
    spec.foldLeft(lit(0L)) { case (acc, (lo, w)) =>
      shiftleft(acc, w).bitwiseOR(expr(s"(sig >> $lo) & ${(1L << w) - 1}"))
    }

  private def comboBuckets(signed: DataFrame, maxHamming: Int,
                           carrySig: Boolean): DataFrame = {
    val chunks = hammingComboSpec(maxHamming).map { case (ci, spec) =>
      struct(lit(ci).as("ci"), comboKey(spec).as("cv"))
    }
    val cols = col("doc_id") +: (if (carrySig) Seq(col("sig")) else Nil) :+
      explode(array(chunks: _*)).as("ck")
    signed.select(cols: _*)
      .withColumn("ci", col("ck.ci")).withColumn("cv", col("ck.cv"))
      .drop("ck")
  }

  /** Pigeonhole bucket-load audit — the saturation EARLY-WARNING read
    * before a pigeonhole pair join is launched at a new corpus size: per
    * signature chunk, the item count, distinct-bucket count, hottest
    * bucket, and Σ C(load, 2) — the exact candidate-pair mass that chunk
    * will feed the verify stage. The pair list a pigeonhole join emits
    * is inherently quadratic in bucket load (chunk space is fixed at
    * 2^(64/(h+1)) buckets, so load — and with it candidate mass — grows
    * with corpus density); this table prices that BEFORE paying it
    * (round-11 case study: the stub phash at 500k assets reads 56.6M
    * verified pairs — this audit's cand_pairs column says so for the
    * cost of one aggregation). Cost: the signature pass plus two keyed
    * map-side-partial aggregations; no join anywhere.
    */
  private[graft] def hammingLoad(signed: DataFrame, maxHamming: Int): DataFrame =
    comboBuckets(signed, maxHamming, carrySig = false)
      .groupBy(col("ci").as("chunk"), col("cv"))
      .agg(count(lit(1)).as("load"))
      .groupBy(col("chunk"))
      .agg(sum(col("load")).as("n_items"),
        count(lit(1)).as("n_buckets"),
        max(col("load")).as("max_load"),
        sum(expr("load * (load - 1) div 2")).as("cand_pairs"))
      .select(col("chunk").cast("long").as("chunk"), col("n_items"),
        col("n_buckets"), col("max_load"), col("cand_pairs"))

  /** hammingLoad over the SimHash signatures dedup_simhash serves from. */
  def simhashLoad(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingLoad(TextFunctions.withBase(docs)
      .select(col("doc_id"), TextHashes.simhashSig(col("norm")).as("sig"))
      .filter(col("sig").isNotNull),
      maxHamming)

  /** The pigeonhole Hamming join over any (doc_id, sig: long) frame —
    * shared by text SimHash and the multimodal perceptual hash. Recall
    * 1.0 by construction per signature family; precision restored by the
    * exact bit_count(xor) filter.
    */
  private[graft] def hammingPairs(signed: DataFrame, maxHamming: Int): DataFrame = {
    // materialize the signature pass ONCE: the bucket self-join below
    // reads `signed` through two different projections (id_a / id_b), so
    // without this every caller's signature expression — the mm 6-gram
    // phash in particular, the heaviest per-row scan in the mm family —
    // runs twice, once per join side (measured at the 1000× decade:
    // ShardProbe M1 ≈ half of every heavy mm row). localCheckpoint
    // rather than cache: 16 B/row, freed with the RDD by the
    // ContextCleaner, no CacheManager entry to outlive the query (the
    // r16 verdict's №3/№5), same pattern as minhashBase.
    val ckpt = signed.localCheckpoint()
    val buckets = comboBuckets(ckpt, maxHamming, carrySig = true)
    // a true pair matches on up to h+1 chunks (ALL of them for an
    // exact-dup pair), so emit each pair from exactly ONE chunk: the
    // minimal chunk whose bits the xor leaves untouched — a pure
    // map-side mask test on the join output that replaces the distinct
    // shuffle entirely (each (a,b) joins once per agreeing chunk, and
    // exactly one chunk is minimal)
    val minMatch = hammingComboSpec(maxHamming).reverse
      .foldLeft(lit(-1)) { case (acc, (ci, spec)) =>
        val mask = spec.map { case (lo, w) => ((1L << w) - 1) << lo }
          .reduce(_ | _)
        when(expr(s"(x & $mask)") === 0L, lit(ci)).otherwise(acc)
      }
    buckets.select(col("doc_id").as("id_a"), col("sig").as("sig_a"), col("ci"), col("cv"))
      .join(buckets.select(col("doc_id").as("id_b"), col("sig").as("sig_b"), col("ci"), col("cv")),
        Seq("ci", "cv"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("x", expr("sig_a ^ sig_b"))
      .withColumn("hamming", bit_count(col("x")).cast("long"))
      .filter(col("hamming") <= maxHamming && col("ci") === minMatch)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }
}
