package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.TextHashes

/** Text-analysis primitives for large-scale corpus pipelines: normalization,
  * shingling, token statistics, language-ID heuristics, fingerprints.
  *
  * Everything is built from codegen'd `functions._` / SQL expressions (no
  * Scala UDFs), so the whole pipeline stays inside WholeStageCodegen and
  * each formula has an exact DuckDB mirror for the correctness gate.
  */
object TextFunctions {

  /** Canonical normalization: collapse whitespace, trim, lowercase —
    * value-identical to lower(trim(regexp_replace(text, "\\s+", " ")))
    * (which the SQL oracle keeps), as ONE compiled byte pass
    * (TextHashes.NormText): the regex rebuild led every text operator
    * through withBase and priced at ~6 s of corpus_shard's 9.7 s
    * post-charclass signal scan at the 100× probe.
    */
  val norm: Column = TextHashes.normText(col("text"))

  /** docs + (norm, w = word array) base columns. Rebalanced first: every
    * downstream stage is CPU-bound per-row work that must not inherit a
    * single-file scan's parallelism (see Tables.rebalance).
    */
  def withBase(docs: DataFrame): DataFrame =
    graft.Tables.rebalance(docs)
      .withColumn("norm", norm).withColumn("w", split(col("norm"), " "))

  /** The n-word gram starting at word `i` of `w`, as a SQL lambda body —
    * the one gram builder behind every shingle and gram-width column.
    */
  private def gram(n: Int): String =
    (0 until n).map(j => s"element_at(w, i + $j)").mkString("concat_ws(' ', ", ", ", ")")

  /** Distinct word n-gram shingles over the `w` column (guarded for short
    * docs: Spark's sequence(1,0) is descending, not empty).
    */
  def wordShingles(n: Int): Column =
    expr(s"CASE WHEN size(w) < $n THEN array() ELSE " +
      s"array_distinct(transform(sequence(1, size(w) - ${n - 1}), i -> ${gram(n)})) END")

  /** Like wordShingles but POSITIONAL — one entry per n-gram start with
    * multiplicity kept, for duplicated-mass metrics where a passage
    * repeated inside one doc must count every occurrence.
    */
  def wordShingleSeq(n: Int): Column =
    expr(s"CASE WHEN size(w) < $n THEN array() ELSE " +
      s"transform(sequence(1, size(w) - ${n - 1}), i -> ${gram(n)}) END")

  /** The deterministic hash order every sampler, fill and shard reads:
    * md5 of the key's string form, reproducible wherever md5 exists.
    */
  private[graft] def rankKey(key: Column): Column = md5(key.cast("string"))

  /** A hash fraction: the first `digits` hex chars of the key's rank key.
    * Fixed-width lowercase hex, so the string compare IS the numeric one.
    */
  private def hexFrac(key: Column, digits: Int = 4): Column =
    substring(rankKey(key), 1, digits)

  /** The cut h < f on a `digits`-wide hex fraction: h below the hex of
    * floor(f · 16^digits); f ≥ 1 keeps everything.
    */
  private def under(h: Column, f: Double, digits: Int = 4): Column =
    if (f >= 1.0) lit(true)
    else h < s"%0${digits}x".format(math.floor(f * math.pow(16, digits)).toLong)

  /** BPE-ish tokens: letter runs, digit runs, single punctuation. */
  private def bpeCount: Column = regexp_count(col("norm"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))

  /** Per-document token statistics: whitespace tokens, BPE-ish regex tokens
    * (letter runs / digit runs / single punctuation), character count.
    */
  def tokenStats(docs: DataFrame): DataFrame =
    withBase(docs).select(
      col("doc_id"),
      size(col("w")).cast("long").as("n_ws_tokens"),
      bpeCount.cast("long").as("n_bpe_tokens"),
      length(col("norm")).cast("long").as("n_chars_norm"))

  /** Tokenizer fertility by (lang, source): BPE-ish tokens per
    * whitespace word and characters per token — the tokenizer-health
    * report per language (high fertility = the vocabulary fragments that
    * language; the first thing to check before fixing a multilingual
    * data mix). Uses EXACTLY tokenStats' token definitions; ratios are
    * quantized integer-ratio means (token and char sums are exact longs,
    * one MEAN6-form round each), so the gate is bit-exact. One map-side
    * partial aggregation over (lang, source) — metadata-scale output.
    */
  def fertility(docs: DataFrame): DataFrame =
    withBase(docs)
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("w")).cast("long")).as("ws"),
        sum(bpeCount.cast("long")).as("bpe"),
        sum(length(col("norm")).cast("long")).as("chars"))
      .select(col("lang"), col("source"), col("n_docs"),
        col("bpe").as("n_tokens"),
        // ×10⁶ in DECIMAL: a long product overflows past ~9.2e12 group
        // tokens and, under ANSI mode, throws ARITHMETIC_OVERFLOW (the
        // Quant unbounded-group rule; DuckDB's sum is HUGEINT)
        graft.Quant.mean6(col("bpe").cast("decimal(38,0)") * 1000000,
          col("ws")).as("tokens_per_word"),
        graft.Quant.mean6(col("chars").cast("decimal(38,0)") * 1000000,
          col("bpe")).as("chars_per_token"))

  /** Document-length histogram per source, in fixed token buckets — the
    * input the packing planner (tokenPack) and max-seq-len choice read:
    * how much of each source fits a context window whole, how much
    * truncates. Bucket = whitespace-token count DIV `bucketTokens`;
    * exact counts, one map-side-partial aggregation.
    */
  def lengthHistogram(docs: DataFrame, bucketTokens: Int = 64): DataFrame = {
    require(bucketTokens > 0, s"bucketTokens must be positive, got $bucketTokens")
    withBase(docs)
      .select(col("source"),
        expr(s"size(w) DIV $bucketTokens").cast("long").as("bucket"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("bucket_lo", col("bucket") * bucketTokens)
      .drop("bucket")
  }

  private[graft] val stopEn = Seq("the", "a", "is", "and", "of", "to", "in")

  /** The two single-code-point-class counts every quality/gate signal
    * shares, as compiled byte scans (TextHashes.CharClassCount) — value-
    * identical to regexp_count("[^a-z0-9 ]") / ("[0-9]"), which the SQL
    * oracle keeps (RE2 is linear; Java's Matcher was not the cheap path).
    */
  private[graft] def punctCount: Column = TextHashes.charClassCount(
    col("norm"), "abcdefghijklmnopqrstuvwxyz0123456789 ", negate = true)
  private def digitCount: Column = TextHashes.charClassCount(
    col("norm"), "0123456789", negate = false)
  private[graft] def countIn(words: Seq[String]): Column = {
    val set = words.map(w => s"'$w'").mkString("(", ", ", ")")
    expr(s"size(filter(w, x -> x IN $set))")
  }

  // ---- the gate signals: one definition each, as Columns over the
  // withBase frame. quality/langId/piiScan pass their projected counts;
  // the fused gate projection (gateSignalCols) takes the defaults.

  /** The composite quality score, 6-dp quantized: 0.4 · stopword ratio
    * + 0.3 · (1 − punctuation ratio) + 0.3 · min(words / 100, 1). The
    * SQL oracle writes the same double arithmetic, so results are
    * bit-comparable.
    */
  private def qualityScore(nWords: Column = size(col("w")),
                           nChars: Column = length(col("norm")),
                           nStop: Column = countIn(stopEn),
                           nPunct: Column = punctCount): Column =
    graft.Quant.q6(nStop.cast("double") / nWords * 0.4
      + (lit(1.0) - nPunct.cast("double") / nChars) * 0.3
      + least(nWords.cast("double") / 100.0, lit(1.0)) * 0.3)

  /** The en decision, langId's first argmax branch: en's marker count
    * (en, es, de, fr order) ties or beats every other and is positive.
    */
  private def isEn(counts: Seq[Column] = langMarkers.map { case (_, ws) => countIn(ws) }): Column = {
    val Seq(en, es, de, fr) = counts
    en >= es && en >= de && en >= fr && en > 0
  }

  /** The PII span patterns (email-, IPv4- and phone-shaped) by output
    * column, each chosen to evaluate identically under Java regex and
    * RE2 (DuckDB).
    */
  private[graft] val piiPatterns: Seq[(String, String)] = Seq(
    "n_email" -> "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}",
    "n_ipv4" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "n_phone" -> "\\d{3}[- ]\\d{3,4}[- ]\\d{4}")

  /** Any PII span: the pattern counts (piiPatterns order) sum above 0. */
  private def hasPii(counts: Seq[Column] = piiPatterns.map { case (_, p) =>
      regexp_count(col("norm"), lit(p)) }): Column =
    counts.reduce(_ + _) > 0

  /** The exact-dup fingerprint: md5 of the normalized text. */
  private[graft] def exactFp(norm: Column = col("norm")): Column = md5(norm)

  /** The exact-dup survivor: the first (minimum) id of each `fp` group —
    * a keyed window, dup-cluster-sized partitions.
    */
  private[graft] def keepId(id: Column = col("doc_id")): Column =
    min(id).over(Window.partitionBy(col("fp")))

  /** The exact-dup verdict: id ≠ its group's keep id (by default the
    * doc_id survivor; another id column passes its own keep).
    */
  private[graft] def isDup(keep: Column = keepId(), id: Column = col("doc_id")): Column =
    id =!= keep

  /** Quality scoring: stopword ratio, punctuation ratio, digit ratio, word
    * stats, and the composite qualityScore.
    */
  def quality(docs: DataFrame): DataFrame =
    withBase(docs)
      .withColumn("n_words", size(col("w")))
      .withColumn("n_chars", length(col("norm")))
      .withColumn("n_stop", countIn(stopEn))
      // single-code-point-class counts via the compiled byte scan —
      // value-identical to regexp_count("[^a-z0-9 ]") / ("[0-9]"), which
      // the oracle keeps; Matcher.find-per-match made the punct count
      // alone half of corpus_shard's signal scan (ShardProbe G4)
      .withColumn("n_punct", punctCount)
      .withColumn("n_digit", digitCount)
      .select(
        col("doc_id"), col("n_words").cast("long").as("n_words"),
        col("n_chars").cast("long").as("n_chars"),
        graft.Quant.q6(col("n_stop").cast("double") / col("n_words")).as("stop_ratio"),
        graft.Quant.q6(col("n_punct").cast("double") / col("n_chars")).as("punct_ratio"),
        graft.Quant.q6(col("n_digit").cast("double") / col("n_chars")).as("digit_ratio"),
        // length(regexp_replace(norm, " ", "")) ≡ n_chars − #spaces: one
        // byte scan instead of a full rebuilt string per document
        graft.Quant.q6((col("n_chars").cast("long")
            - TextHashes.charClassCount(col("norm"), " ", negate = false))
          .cast("double") / col("n_words")).as("avg_word_len"),
        qualityScore(col("n_words"), col("n_chars"), col("n_stop"), col("n_punct"))
          .as("quality_score"))

  /** Quality-threshold tuning curve: surviving doc count and surviving
    * word mass at each candidate cut, from ONE pass over the scored
    * corpus — the "how aggressive can the quality filter be before it
    * eats the token budget" table read before corpus_filter ships a
    * threshold. Cuts apply to the quantized (6 dp) composite score, so
    * the oracle replays the decision bit-exactly. Wide one-row output
    * (metadata scale); column tags are the cut's position in `cuts`,
    * never a rounded value that could collide.
    */
  def qualitySweep(docs: DataFrame,
                   cuts: Seq[Double] = Seq(0.2, 0.4, 0.6, 0.8)): DataFrame = {
    require(cuts.nonEmpty, "need at least one cut")
    val scored = quality(docs)
    val aggs = cuts.zipWithIndex.flatMap { case (c, i) =>
      Seq(
        sum(when(col("quality_score") >= c, 1L).otherwise(0L)).as(s"docs_$i"),
        sum(when(col("quality_score") >= c, col("n_words")).otherwise(0L))
          .as(s"words_$i"))
    }
    scored.agg(aggs.head, aggs.tail: _*)
  }

  private[graft] val langMarkers = Seq(
    "en" -> Seq("the", "a", "is", "and"),
    "es" -> Seq("el", "la", "los", "que"),
    "de" -> Seq("der", "die", "und", "das"),
    "fr" -> Seq("le", "les", "et", "une"))

  /** Stopword-frequency language ID. Deterministic argmax with fixed
    * preference order (en > es > de > fr > unknown), mirrored 1:1 in SQL.
    * (The synthetic corpus is English-vocabulary word salad, so this
    * degenerates to 'en'/'unknown' — the point is the deterministic
    * distributed heuristic, not a trained model.)
    */
  def langId(docs: DataFrame): DataFrame = {
    val scored = langMarkers.foldLeft(withBase(docs)) { case (df, (lang, words)) =>
      df.withColumn(s"n_$lang", countIn(words))
    }
    val Seq(en, es, de, fr) = langMarkers.map { case (l, _) => col(s"n_$l") }
    scored.select(
      col("doc_id"),
      when(isEn(Seq(en, es, de, fr)), "en")
        .when(es >= de && es >= fr && es > 0, "es")
        .when(de >= fr && de > 0, "de")
        .when(fr > 0, "fr")
        .otherwise("unknown").as("lang_pred"),
      en.cast("long").as("n_en"), es.cast("long").as("n_es"),
      de.cast("long").as("n_de"), fr.cast("long").as("n_fr"))
  }

  /** Language-ID confusion matrix — the classifier-health audit over
    * the declared `lang` column: per (declared, predicted) pair, doc
    * count and the fraction of the declared language's docs it
    * represents (diagonal = agreement rate; a hot off-diagonal cell =
    * a marker list that bleeds into a neighbor language). The matrix is
    * ≤ langs² rows, so the per-declared-language total rides a
    * metadata-scale window; the only corpus-scale work is langId's own
    * one-projection pass plus one keyed doc_id join back to the
    * declared label.
    */
  def langIdConfusion(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), col("lang").as("lang_decl"))
      .join(langId(docs).select(col("doc_id"), col("lang_pred")), "doc_id")
      .groupBy(col("lang_decl"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("decl_total",
        sum(col("n_docs")).over(Window.partitionBy(col("lang_decl"))))
      .select(col("lang_decl"), col("lang_pred"), col("n_docs"),
        graft.Quant.q6(col("n_docs").cast("double") / col("decl_total").cast("double"))
          .as("frac"))
  }

  /** PII surface detection: per-document counts of email-shaped, IPv4-
    * shaped, and phone-shaped spans (piiPatterns) plus digit runs, and a
    * has_pii flag — the filter signal a training-data pipeline applies
    * before anything else. Pure regexp_count (codegen'd, one pass each).
    */
  def piiScan(docs: DataFrame): DataFrame = {
    val names = piiPatterns.map(_._1)
    piiPatterns.foldLeft(withBase(docs)) { case (df, (name, p)) =>
        df.withColumn(name, regexp_count(col("norm"), lit(p)))
      }
      .withColumn("n_digit_runs", regexp_count(col("norm"), lit("\\d{6,}")))
      .select(col("doc_id") +: (names :+ "n_digit_runs").map(c => col(c).cast("long").as(c)) :+
        hasPii(names.map(col)).as("has_pii"): _*)
  }

  /** Deterministic stratified sampling: keep a ~rate fraction of each
    * stratum by comparing a hex prefix of md5(stratum|doc_id) against a
    * threshold — reproducible across runs/engines (no RNG), uniform within
    * strata, and a pure narrow projection+filter (no shuffle, no sort —
    * THE way to cut a 100 TB corpus down without moving it). `rate` is
    * quantized to 1/256ths by the 2-hex-digit prefix.
    */
  def sampleStratified(docs: DataFrame, stratumCol: String, rate: Double): DataFrame = {
    val base = docs.select(col("doc_id"), col(stratumCol).as("stratum"))
    if (rate >= 1.0) base
    else if (rate <= 0.0) base.filter(lit(false))
    else {
      // clamp to 2 hex digits: "100" (3 chars) would compare lexicographically
      // against 2-char buckets and keep ~6.6% instead of ~100%
      val q = math.min(255L, math.round(rate * 256)) / 256.0
      docs
        .withColumn("bucket",
          hexFrac(concat(col(stratumCol), lit("|"), col("doc_id").cast("string")), 2))
        .filter(under(col("bucket"), q, 2))
        .select(col("doc_id"), col(stratumCol).as("stratum"))
    }
  }

  /** Deterministic QUALITY-WEIGHTED sampling — importance sampling for
    * training mixes: each doc keeps with probability rate × its
    * quality_score, decided by comparing a 16-bit md5 hash fraction
    * against a per-row threshold. Both sides are 4-char lowercase hex
    * strings, so the lexicographic compare IS the numeric compare and
    * every engine with md5 reproduces the exact same sample (the same
    * portability contract as sampleStratified). One projection + the
    * quality join — no shuffle beyond quality()'s own.
    */
  def sampleWeighted(docs: DataFrame, rate: Double): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1]: $rate")
    quality(docs).select(col("doc_id"), col("quality_score"))
      .withColumn("h", hexFrac(concat(lit("w|"), col("doc_id").cast("string"))))
      .withColumn("scaled", floor(lit(rate) * col("quality_score") * 65536))
      // rate × quality = 1.0 means keep ALWAYS: 65536 isn't representable
      // in 4 hex chars, so without the short-circuit a max-quality doc at
      // rate 1.0 would still lose the h = "ffff" case (~1/65536 of them)
      .filter(col("scaled") >= 65536 ||
        col("h") < format_string("%04x", least(col("scaled"), lit(65535.0)).cast("int")))
      .select(col("doc_id"), col("quality_score"))
  }

  /** Deterministic train/validation/test assignment — the split every
    * training run needs, engine-portable and stable forever: each doc's
    * 16-bit md5 fraction (domain-tagged so it is independent of the
    * sampling hashes) lands it in [0, val) → "val", [val, val+test) →
    * "test", else "train". Hex-string comparison ≡ numeric comparison
    * (fixed-width lowercase hex), no RNG anywhere; adding documents
    * NEVER moves an existing one between splits — the property a
    * random split refreshed per run cannot give.
    */
  def sampleSplit(docs: DataFrame, valFrac: Double, testFrac: Double): DataFrame =
    docs.transform(splitBy("doc_id", valFrac, testFrac))
      .select(col("doc_id"), col("split"))

  /** The split assignment on `key`'s split-tagged 16-bit hash fraction:
    * [0, val) → "val", [val, val+test) → "test", else "train".
    */
  private def splitBy(key: String, valFrac: Double,
                      testFrac: Double): DataFrame => DataFrame = {
    require(valFrac >= 0 && testFrac >= 0 && valFrac + testFrac < 1,
      s"need valFrac + testFrac < 1, got $valFrac + $testFrac")
    _.withColumn("h", hexFrac(concat(lit("split|"), col(key).cast("string"))))
      .withColumn("split", when(under(col("h"), valFrac), "val")
        .when(under(col("h"), valFrac + testFrac), "test")
        .otherwise("train"))
  }

  /** Split-leakage audit — the eval-integrity check run after any
    * train/val/test split: an eval document whose NEAR-DUPLICATE sits in
    * train is leaked (the model has effectively seen it), which inflates
    * eval scores exactly like benchmark contamination inflates external
    * ones. Per eval split: document count, leaked count (≥1 verified
    * near-dup neighbor in train), and the leak fraction — the number
    * that decides whether the split must be re-drawn on CLUSTERS (keep
    * whole near-dup clusters on one side) instead of documents. Rides
    * sampleSplit's frozen md5 assignment and the full minhashPairs
    * machinery (LSH banding + exact verify, never pairwise); on top of
    * the pair graph: two keyed split joins, a distinct over the ≤|eval|
    * leaked ids, and a 2-row aggregate.
    */
  def splitLeakage(docs: DataFrame, valFrac: Double, testFrac: Double,
                   tau: Double = 0.8): DataFrame =
    splitLeakageOf(docs, sampleSplit(docs, valFrac, testFrac), tau)

  /** splitLeakage over the CLUSTERED split — the closure audit of the
    * remediation: because sampleSplitClustered draws the split on the
    * same verified near-dup pair graph this audit checks against, every
    * pair is within-cluster and therefore within-split, so n_leaked is
    * structurally ZERO at the pair threshold. Registering the audit
    * (rather than asserting the theorem) is the acceptance check a
    * pipeline actually ships: it re-runs after every corpus refresh,
    * and a nonzero row is the alarm that split and dedup drifted apart
    * (e.g. the split was frozen while the pair graph moved).
    */
  def splitLeakageClustered(docs: DataFrame, valFrac: Double, testFrac: Double,
                            tau: Double = 0.8): DataFrame =
    splitLeakageOf(docs,
      sampleSplitClustered(docs, valFrac, testFrac, tau)
        .select(col("doc_id"), col("split")), tau)

  /** The leakage audit over an arbitrary (doc_id, split) assignment —
    * the kernel shared by splitLeakage (document-level md5 split) and
    * splitLeakageClustered (cluster-level split).
    */
  def splitLeakageOf(docs: DataFrame, sp: DataFrame,
                     tau: Double = 0.8): DataFrame = {
    val pairs = Dedup.minhashPairs(docs, 3, 64, 2, tau)
      .select(col("id_a"), col("id_b"))
    val sym = pairs.union(
      pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    val leaked = sym
      .join(sp.select(col("doc_id").as("id_a"), col("split").as("split_a")), Seq("id_a"))
      .join(sp.select(col("doc_id").as("id_b"), col("split").as("split_b")), Seq("id_b"))
      .filter(col("split_a") =!= "train" && col("split_b") === "train")
      .select(col("id_a").as("doc_id")).distinct()
      .withColumn("leak", lit(true))
    sp.filter(col("split") =!= "train")
      .join(leaked, Seq("doc_id"), "left")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("leak"), 1L).otherwise(0L)).as("n_leaked"))
      .withColumn("leak_frac",
        graft.Quant.q6(col("n_leaked").cast("double") / col("n_docs")))
  }

  /** CLUSTER-aware train/val/test assignment — the remediation
    * splitLeakage points at: when an eval doc's near-duplicate sits in
    * train, the document-level split has leaked; the fix is to draw the
    * split on near-dup CLUSTERS, so a whole duplicate group lands on one
    * side. Every document's split hash is computed on its CLUSTER id
    * (min reachable doc_id over the verified near-dup pair graph —
    * singletons are their own cluster, so clean docs split exactly like
    * sampleSplit with cluster_id = doc_id), which makes cross-split
    * near-dup leakage structurally zero at the pair threshold, while
    * keeping every stability property of the md5 split: no RNG,
    * engine-portable, and growth-stable as long as cluster membership is
    * stable (a genuinely new near-dup MERGING two clusters is exactly
    * the event that should move one — the split follows the data).
    *
    * Scale shape: the pair graph is the metadata-scale near-dup graph
    * (LSH banding + exact verify, never pairwise); clusters() is the
    * shared bounded-edge union-find / distributed label propagation; on
    * top of that, one hash projection — no extra shuffle.
    */
  def sampleSplitClustered(docs: DataFrame, valFrac: Double, testFrac: Double,
                           tau: Double = 0.8): DataFrame = {
    val assign = splitBy("cluster_id", valFrac, testFrac)
    val pairs = Dedup.minhashPairs(docs, 3, 64, 2, tau)
      .select(col("id_a"), col("id_b"))
    Dedup.clusters(docs, pairs).transform(assign)
      .select(col("doc_id"), col("cluster_id"), col("split"))
  }

  /** Deterministic fixed-SIZE sample: exactly n documents, selected by
    * md5(doc_id) order — the complement of the rate-based stratified
    * sampler (eval sets and ablations want "exactly N docs, stable across
    * runs and engines", not a rate). The hash order is uniform and
    * reproducible anywhere md5 exists; the top-n is a TakeOrdered (heap
    * per partition + merge of n-row heads), never a global sort of the
    * corpus.
    */
  def sampleFixed(docs: DataFrame, n: Int): DataFrame =
    docs
      .withColumn("rank_key", rankKey(col("doc_id")))
      .orderBy(col("rank_key"), col("doc_id"))
      .limit(n)
      .select(col("doc_id"), col("rank_key"))

  /** Count-capped balanced sample — exactly min(n, |stratum|) documents
    * per stratum in the deterministic md5 order (the class-balancing
    * complement of sampleStratified's rate cut: "40 docs from EVERY
    * source, however skewed the corpus"). Two-phase bounded rank, the
    * topKPerWindow recipe on the hash axis: a single row_number
    * PARTITION BY stratum would sort each stratum's documents in ONE
    * task, so the local phase ranks within (stratum, scan slice) —
    * partition-sized groups — and only each slice's top n survive to
    * the final rank over ≤ n × #slices rows per stratum. Any global
    * top-n row is in its slice's top n, so the cut is exact; the
    * (rank_key, doc_id) order is total, so it is deterministic.
    */
  def sampleBalanced(docs: DataFrame, stratumCol: String, nPerStratum: Int): DataFrame = {
    require(nPerStratum > 0, s"nPerStratum must be positive, got $nPerStratum")
    val keyed = docs.select(col("doc_id"), col(stratumCol).as("stratum"))
      .withColumn("rank_key", rankKey(col("doc_id")))
    val ord = Seq(col("rank_key").asc, col("doc_id").asc)
    val local = row_number().over(
      Window.partitionBy(col("stratum"), col("slice")).orderBy(ord: _*))
    val cands = keyed.withColumn("slice", spark_partition_id())
      .withColumn("lrnk", local).filter(col("lrnk") <= nPerStratum)
    val rank = row_number().over(
      Window.partitionBy(col("stratum")).orderBy(ord: _*))
    cands.withColumn("rnk", rank.cast("long")).filter(col("rnk") <= nPerStratum)
      .select(col("doc_id"), col("stratum"), col("rank_key"), col("rnk"))
  }

  /** Deterministic token-budget fill per stratum: take each stratum's
    * documents in md5 order and keep the longest prefix whose running
    * token total stays within `budgetPerStratum` — the dataset-mixing
    * primitive ("fill 10B tokens per source, reproducibly"). The running
    * sum is a window KEYED by stratum (parallel across strata; nothing
    * global), and the order key is the same hash order sampleFixed uses,
    * so the fill is stable across runs, engines, and cluster layouts.
    */
  def tokenBudget(docs: DataFrame, stratumCol: String, budgetPerStratum: Long): DataFrame =
    budgetFill(sized(docs, stratumCol), budgetPerStratum)

  /** The token-mass frame every fill and pack reads: (doc_id, stratum,
    * n_tokens = whitespace tokens, rank_key).
    */
  private def sized(docs: DataFrame, stratumCol: String): DataFrame =
    withBase(docs).select(col("doc_id"), col(stratumCol).as("stratum"),
      size(col("w")).cast("long").as("n_tokens"), rankKey(col("doc_id")).as("rank_key"))

  /** Distributed per-stratum prefix sum + budget cut over (doc_id, stratum,
    * n_tokens, rank_key). A window `PARTITION BY stratum` would funnel every
    * document of a stratum through ONE task's sort — with a handful of
    * sources at 100 TB that is a few tasks each sorting billions of rows.
    * Instead, the classic two-phase scan:
    *
    *   1. range-partition on the GLOBAL order key (stratum, rank_key,
    *      doc_id) so each task holds a contiguous slice of a stratum's
    *      ordered sequence (slices are partition-sized, never
    *      stratum-sized);
    *   2. aggregate one row per (stratum, slice) — the slice token totals,
    *      metadata-scale (≤ #partitions rows) — and prefix-sum THOSE with a
    *      window (tiny: sorts slice counts, not documents);
    *   3. broadcast the slice offsets back and add each row's LOCAL running
    *      sum, a window keyed by (stratum, slice) whose groups are bounded
    *      by the range-partition size regardless of stratum skew.
    *
    * Exact same cum_tokens as the single-window form (the oracle replays
    * that form), full parallelism at any stratum count. Determinism: the
    * order key (rank_key, doc_id) is total and unique, range-partition
    * sampling is seeded per-partition over a deterministic parquet layout,
    * and cum_tokens is offset+local-sum — independent of WHERE the range
    * boundaries fall.
    */
  private[graft] def budgetFill(sized: DataFrame, budgetPerStratum: Long): DataFrame =
    stratumPrefixSum(sized)
      .filter(col("cum_tokens") <= budgetPerStratum)
      .select(col("doc_id"), col("stratum"), col("n_tokens"), col("cum_tokens"))

  /** The two-phase scan itself — (doc_id, stratum, n_tokens, rank_key) →
    * + cum_tokens, the per-stratum running token total in (rank_key,
    * doc_id) order. Shared by the budget cut and the sequence packer.
    */
  private[graft] def stratumPrefixSum(sized: DataFrame): DataFrame = {
    val ranged = rangedBySlice(sized)
    cumFromRanged(ranged, sliceTokenAgg(ranged))
  }

  /** Phase 1: range-exchange on (stratum, rank_key, doc_id) and tag each
    * row with its physical slice — RangePartitioner assigns partition
    * ids in range order, so slice order IS rank order.
    */
  private[graft] def rangedBySlice(sized: DataFrame): DataFrame =
    sized
      .repartitionByRange(sized.sparkSession.sessionState.conf.numShufflePartitions,
        col("stratum"), col("rank_key"), col("doc_id"))
      .withColumn("slice", spark_partition_id())

  /** The per-(stratum, slice) token partials — metadata-scale, and the
    * ONE aggregate every consumer of the exchange should derive from:
    * identical subtrees over the same exchange let Catalyst reuse it
    * (ReusedExchange), where a second aggregate over the pre-exchange
    * frame would re-run the whole upstream scan (tokenMixture's mass
    * table rides this).
    */
  private[graft] def sliceTokenAgg(ranged: DataFrame): DataFrame =
    ranged.groupBy(col("stratum"), col("slice"))
      .agg(sum(col("n_tokens")).as("slice_tokens"))

  /** Phase 2: broadcast the per-slice offsets back and add the
    * slice-local running sum — global prefix = offset + local.
    */
  private[graft] def cumFromRanged(ranged: DataFrame, sliceAgg: DataFrame): DataFrame = {
    val offsets = sliceAgg
      .withColumn("offset", coalesce(
        sum(col("slice_tokens")).over(Window.partitionBy(col("stratum"))
          .orderBy(col("slice")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("stratum"), col("slice"), col("offset"))
    val wLocal = Window.partitionBy(col("stratum"), col("slice"))
      .orderBy(col("rank_key"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    ranged.join(broadcast(offsets), Seq("stratum", "slice"))
      .withColumn("cum_tokens", col("offset") + sum(col("n_tokens")).over(wLocal))
  }

  /** Sequence packing — the step between a shard manifest and the
    * trainer: concatenate every document's tokens per stratum in the
    * deterministic hash order and cut the stream into fixed-capacity
    * training sequences of `seqTokens`. Each document reports the pack
    * it STARTS in and its offset there (GPT-style contiguous packing —
    * a doc crossing a boundary continues into the next pack;
    * `n_tokens + pack_offset` tells the loader how many). Pure
    * arithmetic on the same distributed prefix sum as the budget fill:
    * start = cum − n, pack_id = start div L, pack_offset = start mod L —
    * no per-pack state, no driver loop, deterministic at any layout.
    */
  def tokenPack(docs: DataFrame, stratumCol: String, seqTokens: Long): DataFrame = {
    require(seqTokens > 0, s"seqTokens must be positive, got $seqTokens")
    packed(sized(docs, stratumCol), seqTokens)
      .select(col("doc_id"), col("stratum"), col("n_tokens"), col("pack_id"),
        col("pack_offset"))
  }

  /** The contiguous-packing cut over the per-stratum prefix sum of a
    * sized frame: start = cum − n, pack_id = start div L, pack_offset =
    * start mod L (L = `capacity`).
    */
  private[graft] def packed(sized: DataFrame, capacity: Long): DataFrame =
    stratumPrefixSum(sized)
      .withColumn("start_tok", col("cum_tokens") - col("n_tokens"))
      .withColumn("pack_id", expr(s"start_tok div ${capacity}L"))
      .withColumn("pack_offset", col("start_tok") % capacity)

  /** Temperature-smoothed source mixture — the multilingual data-mixing
    * allocator (the mT5/XLM-R sampling rule p_i ∝ n_i^α, at α = 1/2):
    * each stratum's token mass smooths with sqrt (correctly-rounded
    * IEEE on both engines, where an arbitrary-α pow() is libm-dependent
    * — the text_entropy stance), normalizes into a share of
    * `totalBudget` (allocate at τ = 0.5, tokenEpochs' targets), and
    * fills deterministically in md5 order through the same two-phase
    * prefix sum as tokenBudget. This upweights the tail: a source
    * holding 1% of the corpus draws ~10% of the budget, the standard fix
    * for low-resource starvation under proportional sampling.
    *
    * Scale shape: the mass table is one map-side-partial aggregate at
    * stratum cardinality (metadata-scale); allocate's order-fixed
    * denominator is a window of #sources rows, and the budgets
    * broadcast back onto the distributed fill. No stage anywhere touches
    * more than (docs-per-partition) rows.
    */
  def tokenMixture(docs: DataFrame, stratumCol: String, totalBudget: Long): DataFrame = {
    require(totalBudget > 0, s"totalBudget must be positive, got $totalBudget")
    // the mass table folds OVER the prefix sum's own per-slice partials:
    // all three consumers (the fill, the offsets, the mass) read the ONE
    // range exchange, which Catalyst de-duplicates (ReusedExchange), so
    // the expensive withBase tokenization runs once. (Two earlier shapes
    // both lost: mass from the prefix-sum OUTPUT replays the window per
    // consumer — measured 1.3× slower; mass from the un-exchanged
    // `sized` re-runs the whole scan+split a second time.) Summing slice
    // partials is exact: longs, no float re-association.
    val ranged = rangedBySlice(sized(docs, stratumCol))
    val sliceAgg = sliceTokenAgg(ranged)
    val cum = cumFromRanged(ranged, sliceAgg)
    val mass = sliceAgg.groupBy(col("stratum"))
      .agg(sum(col("slice_tokens")).as("stratum_tokens"))
    val budgets = allocate(mass, totalBudget, Seq(0.5))
      .select(col("stratum"), col("target_tokens").as("stratum_budget"))
    cum.join(broadcast(budgets), Seq("stratum"))
      .filter(col("cum_tokens") <= col("stratum_budget"))
      .select(col("doc_id"), col("stratum"), col("n_tokens"),
        col("cum_tokens"), col("stratum_budget"))
  }

  /** Per-source epoch-planning table — the data-constrained-scaling
    * decision (how many REPEATS of each source a token budget implies)
    * read before committing to a mixture: for each stratum its document
    * count, token mass, sqrt-weighted budget share (the same
    * low-resource-upweighting allocator tokenMixture fills docs under),
    * allocated target tokens, and `epochs` = target / mass — >1 means
    * the source must repeat to meet its allocation (the multi-epoch
    * regime where marginal value decays), <1 means the budget subsamples
    * it. It is temperatureMixture's τ = 0.5 row: pure metadata scale.
    */
  def tokenEpochs(docs: DataFrame, stratumCol: String, totalBudget: Long): DataFrame =
    temperatureMixture(docs, stratumCol, totalBudget, Seq(0.5)).drop("tau")

  /** Temperature-sweep mixture allocator — tokenEpochs' sqrt weighting
    * generalized to the sampling-temperature axis a multilingual /
    * multi-source training mix is actually tuned on: per (source, τ),
    * budget share ∝ mass^τ, the allocated target tokens, and the epoch
    * factor. τ = 1 is proportional sampling (big sources dominate),
    * τ = 0.5 is tokenEpochs' sqrt smoothing, lower τ flattens further
    * toward uniform — the table that shows WHAT each temperature does
    * to every source's repeat factor before a mixture is committed.
    *
    * Scale shape: ONE corpus tokenization pass into the |strata|-row
    * mass table; the τ grid explodes that metadata-scale frame
    * (|strata|·|τ| rows) — per-τ windows and joins never touch raw
    * data.
    */
  def temperatureMixture(docs: DataFrame, stratumCol: String, totalBudget: Long,
                         taus: Seq[Double] = Seq(0.25, 0.5, 0.75, 1.0)): DataFrame = {
    require(totalBudget > 0, s"totalBudget must be positive, got $totalBudget")
    val grid = Set(0.25, 0.5, 0.75, 1.0)
    // distinct is load-bearing, not cosmetic: duplicate taus land in the
    // same tau window partition, double-counting every stratum weight in
    // the cumulative-sum denominator — shares silently halve
    require(taus.nonEmpty && taus == taus.sorted &&
      taus.distinct.size == taus.size && taus.forall(grid),
      s"taus must be strictly ascending quarter powers from $grid: $taus")
    val mass = sized(docs, stratumCol)
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("stratum_tokens"))
    allocate(mass, totalBudget, taus)
      .select(col("stratum").as("source"), col("tau"), col("n_docs"),
        col("stratum_tokens").as("n_tokens"),
        graft.Quant.q6(col("wgt") / col("denom")).as("budget_share"),
        col("target_tokens"),
        graft.Quant.q6(col("target_tokens").cast("double") / col("stratum_tokens"))
          .as("epochs"))
  }

  /** The token-share allocator over a (stratum, stratum_tokens, …) mass
    * table: per τ in `taus` (quarter powers), each stratum's weight
    * mass^τ, the share denominator and target_tokens =
    * floor(totalBudget · wgt / denom); adds tau, wgt, denom and
    * target_tokens. Each weight is a product of IEEE-correctly-rounded
    * sqrt calls (x^¼ = √√x, x^¾ = √x·√√x), so both engines compute
    * bit-identical weights — a free-form τ would need libm pow, which is
    * NOT correctly rounded and would break the hash gate. The
    * denominator accumulates in stratum order (running sum, then the
    * partition max; wgt ≥ 0 makes the max the full left fold), so the
    * double sum has ONE association order, which the oracle replays.
    */
  private def allocate(mass: DataFrame, totalBudget: Long, taus: Seq[Double]): DataFrame = {
    def wgt(t: Double, x: Column): Column = t match {
      case 0.25 => sqrt(sqrt(x))
      case 0.5  => sqrt(x)
      case 0.75 => sqrt(x) * sqrt(sqrt(x))
      case _    => x
    }
    val st = col("stratum_tokens").cast("double")
    val keep = mass.columns.toSeq.map(col)
    val tagged = mass.select(keep :+ explode(array(taus.map(t =>
        struct(lit(t).as("tau"), wgt(t, st).as("wgt"))): _*)).as("x"): _*)
      .select(keep ++ Seq(col("x.tau").as("tau"), col("x.wgt").as("wgt")): _*)
    val wCum = Window.partitionBy(col("tau")).orderBy(col("stratum"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("tau"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tagged
      .withColumn("cum_w", sum(col("wgt")).over(wCum))
      .withColumn("denom", max(col("cum_w")).over(wAll))
      .withColumn("target_tokens",
        floor(lit(totalBudget).cast("double") * col("wgt") / col("denom")).cast("long"))
  }

  /** Bigram language-model quality scoring — the CCNet-style "how
    * LM-plausible is this document" filter, self-trained on the corpus:
    * top-`vocab` words (rest collapse to one OOV token), corpus bigram /
    * bigram-start counts, and per document the MEAN INVERSE bigram
    * probability  mean(c(w1) / c(w1,w2))  over its bigrams — high =
    * surprising transitions (gibberish, boilerplate soup, off-domain),
    * low = fluent in-domain text. The score is a monotone perplexity
    * stand-in chosen for the gate contract: every term is a ratio of two
    * exact integer counts (ONE IEEE division, no libm), quantized via
    * graft.Quant and summed as exact micro-units — so DuckDB replays it
    * bit-for-bit where a log-based perplexity could not (see
    * text_entropy's rows-only stance). A deployment wanting true PPL
    * takes log/exp on top of the same joins.
    *
    * Scale shape: the vocab is a TakeOrdered top-V (driver-bounded,
    * broadcast back); the LM tables are distributed keyed aggregates
    * joined on (w1, w2) — never broadcast, never all-pairs; the only
    * window is per-document (bounded by document length, not corpus
    * size). Output: doc_id, n_bigrams, n_oov, mean_inv_p; documents with
    * fewer than two words carry no bigram and are excluded.
    */
  def lmScore(docs: DataFrame, vocab: Int = 1024): DataFrame = {
    require(vocab > 0, s"vocab must be positive, got $vocab")
    val base = withBase(docs)
    val words = base.select(col("doc_id"), explode(col("w")).as("word"))
    val top = words.groupBy(col("word")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("word").asc).limit(vocab)
      .select(col("word"), lit(true).as("in_v"))
    // the OOV bucket is keyed by a sentinel no normalized token can equal
    // (the bare word "oov" could land in a real corpus's top-V vocab and
    // wrongly merge with the bucket); the control char is an explicit
    // escape so it stays visible in review - the oracle mirrors it as
    // chr(4) || 'oov'
    val oovTok = "\u0004oov"
    // Bigrams are built ARRAY-SIDE - zip_with over two slices of `w` -
    // instead of lead() over the exploded token stream: the array order IS
    // the position order, so the full-token-stream Exchange + sort the
    // window needed is gone outright. posexplode's index keeps the one
    // fact the window carried beyond adjacency: which bigram is the
    // document's LAST (its second word is the final word, the only token
    // that never appears as a first word - the n_oov contract needs it
    // exactly once).
    val pairs = base
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), expr(
        "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1), " +
          "(a, b) -> named_struct('w1', a, 'w2', b))").as("ps"))
      .select(col("doc_id"), size(col("ps")).as("np"),
        posexplode(col("ps")).as(Seq("pi", "p")))
      .select(col("doc_id"), col("np"), col("pi"),
        col("p.w1").as("w1"), col("p.w2").as("w2"))
    val big = pairs
      .join(broadcast(top.select(col("word").as("w1"), col("in_v").as("in1"))),
        Seq("w1"), "left")
      .join(broadcast(top.select(col("word").as("w2"), col("in_v").as("in2"))),
        Seq("w2"), "left")
      .select(col("doc_id"), col("np"), col("pi"),
        when(col("in1").isNotNull, col("w1")).otherwise(lit(oovTok)).as("mw"),
        when(col("in2").isNotNull, col("w2")).otherwise(lit(oovTok)).as("nw"))
    val bigLm = big.groupBy(col("mw"), col("nw")).agg(count(lit(1)).as("c12"))
    // the unigram LM re-aggregates the bigram LM (c1 = sum of c12 over
    // second words) - a metadata-scale groupBy bounded by (vocab+1)^2
    // rows, replacing a second full groupBy over the token stream
    val uniLm = bigLm.groupBy(col("mw")).agg(sum(col("c12")).as("c1"))
    // n_oov rides the per-doc aggregate: OOV first-words counted over the
    // bigram rows, plus the document's LAST word recovered from the
    // pi == np - 1 bigram's second word (exactly one such row per doc)
    big.join(bigLm, Seq("mw", "nw")).join(uniLm, Seq("mw"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(when(col("mw") === oovTok, 1L).otherwise(0L)) +
          sum(when(col("pi") === col("np") - 1 && col("nw") === oovTok, 1L)
            .otherwise(0L))).as("n_oov"),
        graft.Quant.mean6(
          sum(graft.Quant.us6(col("c1").cast("double") / col("c12").cast("double"))),
          count(lit(1))).as("mean_inv_p"))
      .select(col("doc_id"), col("n_bigrams"), col("n_oov"), col("mean_inv_p"))
  }

  /** Per-(lang, source) corpus rollup — the "dataset card" numbers: doc
    * count, token totals, mean quality. One map-side-partial groupBy.
    */
  def corpusStats(docs: DataFrame): DataFrame = {
    val q = quality(docs).select(col("doc_id"), col("n_words"), col("quality_score"))
    docs.select(col("doc_id"), col("lang"), col("source"))
      .join(q, "doc_id")
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("sum_words"),
        // means over quantized inputs land exactly on half-microunit
        // rounding boundaries — computed from exact integer micro-unit
        // sums (graft.Quant) so both gate engines agree bit-for-bit
        graft.Quant.mean6(sum(col("n_words") * lit(1000000L)), count(lit(1))).as("avg_words"),
        graft.Quant.mean6(sum(graft.Quant.us6(col("quality_score"))), count(lit(1))).as("avg_quality"))
  }

  /** Repetition scoring (the Gopher-style quality signal): fraction of all
    * word 2-grams taken by the single most frequent one. Word salad scores
    * low; template/boilerplate text scores high. Exploded-bigram groupBy —
    * both aggregations are map-side partial.
    */
  def repetition(docs: DataFrame): DataFrame = {
    val bigrams = withBase(docs)
      .select(col("doc_id"), explode(wordShingleSeq(2)).as("g"))
    bigrams.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_2grams"), max(col("c")).as("top_count"))
      .select(col("doc_id"), col("n_2grams"), col("top_count"),
        graft.Quant.q6(col("top_count").cast("double") / col("n_2grams")).as("rep_ratio"))
  }

  /** Blocklist filter — the C4-style policy stage (Raffel 2020 §2.2
    * dropped any page containing a "List of Dirty, Naughty …" word):
    * per document, the count and position fraction of words in the
    * blocklist, plus the any-hit flag C4's rule cuts on. Kept separate
    * from the statistical quality score because it is a POLICY signal —
    * the lexicon changes per deployment (profanity, PII keywords,
    * boilerplate markers) while the decision shape stays fixed.
    *
    * Scale shape: one narrow codegen pass (the lexicon inlines into the
    * filter lambda — broadcast-free for the list sizes policy lists
    * have), no shuffle anywhere; at 100 TB this is a map-only stage
    * whose cost is the scan itself.
    */
  def blocklist(docs: DataFrame, words: Seq[String]): DataFrame = {
    require(words.nonEmpty && words == words.distinct,
      s"blocklist must be non-empty and duplicate-free: $words")
    require(words.forall(_.matches("[a-z0-9]+")),
      s"blocklist words must be normalized [a-z0-9]+ tokens: $words")
    val inList = words.map(w => s"'$w'").mkString(", ")
    withBase(docs).select(col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        expr(s"size(filter(w, x -> x IN ($inList)))").cast("long").as("n_flagged"))
      .withColumn("flagged_frac",
        graft.Quant.q6(col("n_flagged").cast("double") / col("n_words")))
      .withColumn("flagged", col("n_flagged") > 0L)
  }

  /** Sliding-window chunker — the step between a curated corpus and a
    * fixed-context consumer (pretraining windows, RAG passages,
    * embedding inputs): each document splits into chunks of `chunkWords`
    * words advancing by `chunkWords - overlapWords`, the last chunk
    * keeping the tail unpadded (never dropped, never empty). Overlap is
    * the standard continuity device so no boundary-spanning phrase is
    * lost to every chunk. mm_chunks is this operator's byte-side
    * sibling; corpus_pack is the complement (packs docs INTO windows,
    * this splits docs OVER them).
    *
    * Scale shape: one narrow pass — per-doc explode of a bounded index
    * range, array slices of the already-split word array, NO shuffle at
    * any point (output order is irrelevant downstream; a consumer
    * wanting stable shards feeds this into corpus_pack/byteShard). Row
    * growth is ~n/stride per doc — linear in corpus size.
    */
  def chunk(docs: DataFrame, chunkWords: Int, overlapWords: Int): DataFrame = {
    require(chunkWords > 0 && overlapWords >= 0 && overlapWords < chunkWords,
      s"need 0 <= overlap < chunk, got chunk=$chunkWords overlap=$overlapWords")
    val stride = chunkWords - overlapWords
    withBase(docs)
      .withColumn("nc",
        when(size(col("w")) <= chunkWords, lit(1))
          .otherwise(expr(
            s"1 + (size(w) - $chunkWords + ${stride - 1}) div $stride")))
      .select(col("doc_id"), col("w"),
        explode(expr("sequence(0, nc - 1)")).as("chunk_idx"))
      .withColumn("start_word", (col("chunk_idx") * stride + 1).cast("long"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("start_word"),
        least(lit(chunkWords).cast("long"),
          size(col("w")).cast("long") - col("start_word") + 1L).as("n_words"),
        expr(s"concat_ws(' ', slice(w, int(start_word), $chunkWords))")
          .as("chunk_text"))
  }

  /** Gopher-style within-document repetition PROFILE (Rae 2021 Table A1
    * — the repetition filters a quality pipeline ships next to the
    * single-signal `repetition` top-bigram ratio): per document and per
    * n ∈ `ns`, the total positional n-gram count, the fraction of
    * positions held by the single most frequent n-gram (template spam
    * bulges this), and the fraction of positions whose n-gram occurs
    * ≥ 2 times within the SAME document (loops/boilerplate — the
    * duplicate-n-gram signal). Fractions are over n-gram positions
    * (Gopher's character fractions need byte offsets; the position form
    * carries the same decision signal and stays exact-integer).
    *
    * Scale shape: one tokenization pass; all |ns| gram widths explode
    * from the SAME `w` array in one projection (tagged structs, no
    * per-n corpus pass), then two keyed aggregations — (doc, n, gram)
    * counts with map-side partials, then the |docs|·|ns|-row profile
    * pivoted wide. Raw text never shuffles; shuffle keys are hashes of
    * doc-bounded gram sets.
    */
  def repProfile(docs: DataFrame, ns: Seq[Int] = Seq(2, 3, 4)): DataFrame = {
    require(ns.nonEmpty && ns == ns.sorted && ns.forall(_ >= 2),
      s"ns must be ascending n-gram widths >= 2: $ns")
    val tagged = ns.map { n =>
      s"CASE WHEN size(w) < $n THEN cast(array() AS array<struct<n:int,g:string>>) " +
        s"ELSE transform(sequence(1, size(w) - ${n - 1}), " +
        s"i -> named_struct('n', $n, 'g', ${gram(n)})) END"
    }.mkString("concat(", ", ", ")")
    val perGram = withBase(docs)
      .select(col("doc_id"), explode(expr(tagged)).as("x"))
      .groupBy(col("doc_id"), col("x.n").as("n"), col("x.g").as("g"))
      .agg(count(lit(1)).as("c"))
    val perN = perGram.groupBy(col("doc_id"), col("n"))
      .agg(sum(col("c")).as("total"), max(col("c")).as("topc"),
        sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dupc"))
      .withColumn("top_frac",
        graft.Quant.q6(col("topc").cast("double") / col("total")))
      .withColumn("dup_frac",
        graft.Quant.q6(col("dupc").cast("double") / col("total")))
    val aggs = ns.flatMap { n =>
      Seq(max(when(col("n") === n, col("total"))).as(s"n${n}_grams"),
        max(when(col("n") === n, col("top_frac"))).as(s"top${n}_frac"),
        max(when(col("n") === n, col("dup_frac"))).as(s"dup${n}_frac"))
    }
    perN.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** The composed keep/drop decision a training pipeline actually ships:
    * every document with its filter verdicts (quality floor, PII, exact
    * duplicate) and the final `keep` flag — filters evaluate in one pass
    * over the corpus; the dedup verdict reuses the exact-dedup mapping.
    */
  def corpusFilter(docs: DataFrame, minQuality: Double = 0.5): DataFrame = {
    val q = quality(docs).select(col("doc_id"), col("quality_score"))
    val pii = piiScan(docs).select(col("doc_id"), col("has_pii"))
    val dup = Dedup.exact(docs).select(col("doc_id"), col("is_dup"))
    q.join(pii, "doc_id").join(dup, "doc_id")
      .select(col("doc_id"),
        (col("quality_score") >= minQuality).as("quality_ok"),
        col("has_pii"), col("is_dup"),
        (col("quality_score") >= minQuality && !col("has_pii") && !col("is_dup"))
          .as("keep"))
  }

  /** The full curation verdict — corpusFilter extended with the NEAR-dup
    * stage, emitting one audited drop REASON per document (the record a
    * 100 TB curation run must keep to be debuggable: "why did doc X
    * disappear"). Reason precedence mirrors pipeline stage order: an
    * exact duplicate is dropped before near-dup clustering would see it,
    * a near-dup cluster loser before the content gates, then PII, then
    * quality; survivors read 'kept'. Every stage is one of the
    * individually oracle-gated operators (quality / piiScan /
    * Dedup.exact / Dedup.keepBest over the minhash pair graph), composed
    * by keyed doc_id joins — no shuffle wider than the corpus.
    */
  def corpusVerdict(docs: DataFrame, minQuality: Double = 0.5): DataFrame =
    verdictWithTokens(docs, minQuality).drop("n_tokens")

  /** corpusVerdict plus each doc's token count — FUSED (r16): quality /
    * PII / exact-dup verdicts AND the token count all read from ONE
    * gateSignals projection (the same signal definitions the per-gate
    * operators use, so the oracle's per-operator replay still gates
    * every value). The previous composition normalized and
    * rescanned the corpus once per gate plus once more for the funnel's
    * token join — 4 scans the 100× ShardProbe priced at ~2/3 of the
    * whole funnel. The near-dup stage keeps its own machinery (the
    * minhash pair graph's materialized base pass).
    */
  private[graft] def verdictWithTokens(docs: DataFrame,
                                       minQuality: Double): DataFrame = {
    val sig = gateSignals(docs).withColumn("is_dup", isDup())
    val near = Dedup.keepBest(docs, Dedup.minhashPairs(docs, 3, 64, 2, 0.8))
      .select(col("doc_id"), col("kept"))
    val verdict = when(col("is_dup"), "exact_dup")
      .when(!col("kept"), "near_dup")
      .when(col("has_pii"), "pii")
      .when(col("quality_score") < minQuality, "low_quality")
      .otherwise("kept")
    sig.join(near, "doc_id")
      .select(col("doc_id"), verdict.as("verdict"),
        (verdict === "kept").as("keep"), col("n_tokens"))
  }

  /** The curation FUNNEL — corpusVerdict's drop reasons rolled up with
    * document and token mass per stage: the one-page "where did the
    * corpus go" report (raw → exact dedup → near dedup → PII → quality →
    * kept) a 100 TB run publishes next to its shard manifest. Stage
    * numbers encode the pipeline order so the funnel reads top-to-bottom
    * as data flows. Cost on top of the verdict is one keyed token join
    * and a ≤5-row aggregate; fracs are single IEEE divisions of exact
    * long masses (token totals stay far under the long bound at any
    * realistic corpus — 100 TB ≈ 2e13 tokens vs 9.2e18).
    */
  def corpusFunnel(docs: DataFrame, minQuality: Double = 0.5): DataFrame = {
    // n_tokens rides the verdict's own fused signal pass (r16) — the
    // separate withBase token join was a full third normalize+scan
    val v = verdictWithTokens(docs, minQuality)
    val stage = when(col("verdict") === "exact_dup", 1L)
      .when(col("verdict") === "near_dup", 2L)
      .when(col("verdict") === "pii", 3L)
      .when(col("verdict") === "low_quality", 4L)
      .otherwise(5L)
    // totals re-aggregate the ≤5-row grouped frame through a bounded
    // window rather than a second scan of `v` — a separate agg(v) would
    // RECOMPUTE the whole verdict chain (pair graph included), doubling
    // the funnel's cost (caught at 100×: 43.6 s vs verdict's 10.4 s);
    // exact long sums make the totals identical either way
    val wAll = Window.partitionBy(lit(0))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    v.groupBy(col("verdict"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .withColumn("t_docs", sum(col("n_docs")).over(wAll))
      .withColumn("t_tokens", sum(col("n_tokens")).over(wAll))
      .select(stage.as("stage"), col("verdict"), col("n_docs"), col("n_tokens"),
        graft.Quant.q6(col("n_docs").cast("double") / col("t_docs")).as("doc_frac"),
        graft.Quant.q6(col("n_tokens").cast("double") / col("t_tokens")).as("token_frac"))
  }

  /** The gate-signal columns (fingerprint, token count, quality score,
    * language flag, PII flag) as one projection list over a withBase
    * frame, each signal from its one definition above — shared by
    * shardSignals (which adds the stratum and the sampling rank key) and
    * verdictWithTokens (which needs no stratum, so corpusVerdict keeps
    * working on bare (doc_id, text) frames).
    */
  private def gateSignalCols: Seq[Column] = Seq(
    exactFp().as("fp"),
    size(col("w")).cast("long").as("n_tokens"),
    qualityScore().as("quality_score"),
    isEn().as("is_en"),
    hasPii().as("has_pii"))

  /** All shard-gate signals in ONE projection over one normalized scan:
    * fingerprint, token count, deterministic sampling key, quality score,
    * language flag, PII flag — the fused gate corpusShard,
    * corpusShardNear and graft.streaming.StreamShard build on. Stateless
    * per row, so it streams unchanged.
    */
  private[graft] def shardSignals(docs: DataFrame): DataFrame =
    withBase(docs).select(col("doc_id") +: col("source").as("stratum") +:
      rankKey(col("doc_id")).as("rank_key") +: gateSignalCols: _*)

  private[graft] def gateSignals(docs: DataFrame): DataFrame =
    withBase(docs).select(col("doc_id") +: gateSignalCols: _*)

  /** The end-to-end training-shard builder — the composition a pipeline
    * actually ships: language gate (en), quality gate, PII gate, exact
    * dedup (first occurrence survives), then per-source token-budget fill
    * over the SURVIVORS. Output is the shard manifest (doc_id, stratum,
    * n_tokens, cum_tokens). Every stage is one of the individually
    * oracle-gated operators; composing them keeps each stage's plan shape
    * (keyed joins on doc_id — no shuffle wider than the corpus, budget
    * window partitioned by stratum) so the whole shard build is a linear
    * chain of scans, hash joins, and one windowed sort per stratum.
    */
  def corpusShard(docs: DataFrame, minQuality: Double = 0.5,
                  budgetPerStratum: Long = 3000L): DataFrame = {
    // FUSED, not composed from quality()/langId()/piiScan()/exact(): the
    // naive composition normalizes and rescans the corpus once per gate
    // (measured 2× this plan's cost at sf0.1); here every signal is one
    // projection over a single normalized scan (shardSignals), then the
    // dedup-fingerprint window (keyed by fp, dup-cluster-sized groups)
    // and the distributed budget fill (budgetFill — range-partitioned
    // prefix sum, no stratum-wide task).
    val survivors = shardSignals(docs)
      // dedup over the FULL corpus (a later copy of a low-quality doc is
      // still a dup), so the fingerprint window runs before any gate
      .withColumn("is_dup", isDup())
      .filter(col("is_en") && col("quality_score") >= minQuality &&
        !col("has_pii") && !col("is_dup"))
      .select(col("doc_id"), col("stratum"), col("n_tokens"), col("rank_key"))
    budgetFill(survivors, budgetPerStratum)
  }

  /** corpusShard with NEAR-duplicate dedup: instead of the exact
    * fingerprint gate, connected components over a caller-supplied
    * near-dup pair graph (`pairs`: id_a/id_b, e.g. Dedup.minhashPairs)
    * pick one representative per cluster — the minimum doc_id — and every
    * other member is dropped BEFORE the budget fill, so a heavily
    * templated source can't spend its token budget on paraphrases. Exact
    * copies of n or more words (n = the pair graph's shingle width, 3 for
    * minhashPairs' default) have Jaccard 1.0, so near-dedup subsumes the
    * exact gate there. Below n words a document has no shingles
    * (MinHashSig/HashedShingles are null), so identical short copies
    * never pair and ALL of them survive here, where corpusShard keeps
    * only the first.
    *
    * Scale shape: the drop set (non-representatives) is bounded by the
    * duplicate GRAPH, not the corpus — it reaches the survivors as a
    * keyed left-anti join on doc_id (AQE turns it into a broadcast when
    * small), and everything downstream is the same budgetFill prefix sum
    * as corpusShard. Clustering itself is Dedup.clusters' dual-regime CC.
    */
  def corpusShardNear(docs: DataFrame, pairs: DataFrame,
                      minQuality: Double = 0.5,
                      budgetPerStratum: Long = 3000L): DataFrame = {
    val nonReps = graft.text.Dedup.clusters(docs.select(col("doc_id")), pairs)
      .filter(col("cluster_id") =!= col("doc_id"))
      .select(col("doc_id"))
    val survivors = shardSignals(docs)
      .join(nonReps, Seq("doc_id"), "left_anti")
      .filter(col("is_en") && col("quality_score") >= minQuality && !col("has_pii"))
      .select(col("doc_id"), col("stratum"), col("n_tokens"), col("rank_key"))
    budgetFill(survivors, budgetPerStratum)
  }

  /** Vocabulary growth curve (the Heaps-law audit: "will a bigger
    * corpus keep minting new types, or is the vocabulary saturating") —
    * distinct-type counts at deterministic md5-order corpus prefixes.
    * ONE pass, no per-checkpoint re-aggregation: each word's FIRST
    * appearance in hash order is its min doc-hash (groupBy(word) min),
    * and the type count at a prefix cut is simply the number of words
    * whose min-hash clears the cut — a metadata-scale conditional
    * aggregation over the vocabulary table. Doc counts per prefix ride
    * the same hash. Cuts are 16-bit hex thresholds (the sampling
    * machinery's fraction rule), so the "prefix" is the same document
    * set sampleFixed-style tools would select.
    */
  def vocabGrowth(docs: DataFrame, fracs: Seq[Double]): DataFrame = {
    require(fracs.nonEmpty && fracs.forall(f => f > 0 && f <= 1),
      s"fractions must be in (0,1]: $fracs")
    val hashed = withBase(docs).withColumn("h", hexFrac(col("doc_id")))
    val wordMin = hashed
      .select(col("h"), explode(array_distinct(col("w"))).as("word"))
      .groupBy(col("word")).agg(min(col("h")).as("h_min"))
    // per-fraction column tags are the POSITION in fracs, not a rounded
    // percent: two fractions that floor to the same percent (0.125 vs
    // 0.12, or anything below 1%) must not collide into one ambiguous
    // alias
    def counts(df: DataFrame, h: String, tag: String): DataFrame = {
      val aggs = fracs.zipWithIndex.map { case (f, i) =>
        sum(when(under(col(h), f), 1L).otherwise(0L)).as(s"${tag}_$i") }
      df.agg(aggs.head, aggs.tail: _*)
    }
    val wide = counts(wordMin, "h_min", "v").crossJoin(broadcast(counts(hashed, "h", "d")))
    fracs.zipWithIndex.map { case (f, i) =>
      wide.select(lit(f).as("frac"), col(s"d_$i").as("n_docs"),
        col(s"v_$i").as("n_types"))
    }.reduce(_ union _).orderBy(col("frac"))
  }

  /** Zipf rank-frequency curve: token frequency of the rank-2^i word,
    * i = 0 .. log2(maxRank) — the corpus-health fingerprint (natural text
    * tracks freq ∝ 1/rank; template spam bulges the head, gibberish
    * flattens the tail). Read as successive halvings: each row's freq
    * should be ≈ half the previous — no libm log fit needed, the curve
    * IS the evidence, in exact integers.
    *
    * Scale shape: Σ tokens explode → map-side-partial groupBy(word) →
    * TakeOrdered(maxRank) — the global sort never materializes — then a
    * rank over the ≤maxRank survivors (Bounded.window) and the
    * power-of-two filter. Vocabulary never shuffles raw text, only
    * (word, count) pairs.
    */
  def zipfCurve(docs: DataFrame, maxRank: Int = 1024): DataFrame = {
    require(maxRank >= 1, s"maxRank must be positive, got $maxRank")
    val tf = withBase(docs)
      .select(explode(col("w")).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("word"))
      .limit(maxRank)
    tf.withColumn("rank",
        row_number().over(graft.Bounded.window(col("tf").desc, col("word")))
          .cast("long"))
      .filter(col("rank").bitwiseAND(col("rank") - 1) === 0)
      .select(col("rank"), col("word"), col("tf"))
  }

  /** Corpus vocabulary by document frequency: the top `k` words by the
    * number of distinct documents containing them (ties broken
    * alphabetically). Distinct-words-per-doc via array_distinct (map-side,
    * per row) then explode + count: one partial-aggregated shuffle on the
    * word key; the global top-k is a TakeOrdered, never a full sort. The
    * dataset-card / tokenizer-coverage query.
    */
  def vocab(docs: DataFrame, k: Int): DataFrame =
    withBase(docs)
      .select(explode(array_distinct(col("w"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("word"))
      .limit(k)

  /** Per-document keyword extraction: the top `k` words by tf·idf with
    * the LINEAR idf N/df (score = tf · N/df). A log idf is libm-bound —
    * `ln` is not required correctly rounded, so the engines can disagree
    * in the last ulp and flip tied ranks; the linear form keeps the
    * ranking intent (frequent in the document, rare in the corpus) while
    * every score is one correctly-rounded division and one multiply on
    * exact integers — bit-identical across engines, the corpus_mix
    * determinism recipe. Ties break score-desc then word-asc, so the
    * top-k cut is total.
    *
    * Scale shape: per-doc term counts in one map-side-partial groupBy;
    * document frequency re-aggregated FROM the tf frame (map-side
    * partials bound each task's output by its distinct vocabulary, and
    * the df table is vocab-scale — AQE broadcasts it back when small);
    * the top-k rank runs over doc-bounded groups. No corpus-scale sort,
    * no stopword-skewed window partition (a count-over-word window would
    * materialize the full posting list of every stopword in one task).
    */
  def keywords(docs: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val tf = withBase(docs)
      .select(col("doc_id"), explode(col("w")).as("word"))
      .filter(col("word") =!= "") // an empty doc splits to [""]
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("word"))
    tf.join(df, Seq("word"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") *
          (col("n_docs").cast("double") / col("df").cast("double")))
      .withColumn("rank", row_number().over(byDoc).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("word"), col("tf"), col("df"),
        col("score"))
  }

  /** Lexical-diversity statistics per document: type count (distinct
    * words), type-token ratio, and hapax legomena (words used exactly once)
    * — the vocabulary-richness signals next to the repetition score
    * (word salad maximizes TTR, template text minimizes it). Pure per-row
    * array HOFs (codegen, no shuffle); the hapax scan is O(types·words)
    * per row, bounded by document length — never corpus-scale state.
    */
  def lexicalDiversity(docs: DataFrame): DataFrame =
    withBase(docs)
      .withColumn("types", array_distinct(col("w")))
      .withColumn("n_hapax",
        expr("size(filter(types, x -> size(filter(w, y -> y = x)) = 1))"))
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        size(col("types")).cast("long").as("n_types"),
        col("n_hapax").cast("long").as("n_hapax"),
        graft.Quant.q6(size(col("types")).cast("double") / size(col("w"))).as("ttr"),
        graft.Quant.q6(col("n_hapax").cast("double") / size(col("types"))).as("hapax_ratio"))

  /** Word-length statistics per document — the cheap tokenizer-health /
    * gibberish signal next to quality(): run-on "words" mean stripped
    * whitespace or binary junk, a tiny mean means character soup. The
    * total word length needs NO explode: `norm` is single-space-joined, so
    * Σ len(word) = len(norm) − (n_words − 1) exactly; the max is a per-row
    * array HOF. Codegen, no shuffle; the mean is the quantized integer
    * ratio (graft.Quant MEAN6 form).
    */
  def wordLengthStats(docs: DataFrame): DataFrame =
    withBase(docs).select(
      col("doc_id"),
      size(col("w")).cast("long").as("n_words"),
      expr("CAST(array_max(transform(w, x -> length(x))) AS BIGINT)").as("max_word_len"),
      graft.Quant.mean6(
        (length(col("norm")) - size(col("w")) + 1).cast("long") * 1000000L,
        size(col("w"))).as("mean_word_len"))

  /** The shared per-doc sorted (char, count) profile: explode → keyed
    * counts (map-side partial), then a per-doc collect of at most
    * alphabet-size structs — bounded regardless of document length.
    */
  private def charCounts(docs: DataFrame): DataFrame =
    withBase(docs)
      .select(col("doc_id"), length(col("norm")).as("n"),
        explode(split(col("norm"), "")).as("ch"))
      .groupBy(col("doc_id"), col("n"), col("ch")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("n"))
      .agg(sort_array(collect_list(struct(col("ch"), col("c")))).as("cs"))

  /** Character-level Shannon entropy per document — the
    * compressibility/gibberish signal (binary junk and key-mash score
    * high, template fill scores low; complements quality() and
    * repetition()). Char counts via explode → one keyed groupBy; the
    * entropy fold runs over the SORTED per-doc count list (distinct chars
    * per doc are bounded, and a sorted sequential fold makes the float
    * sum independent of partition order — a plain double sum aggregate
    * would be run-to-run nondeterministic). log2 is libm-dependent across
    * engines, so this operator is spec-gated (rows-only at the driver),
    * not oracle-hashed.
    */
  def charEntropy(docs: DataFrame): DataFrame =
    charCounts(docs)
      .select(col("doc_id"), col("n").cast("long").as("n_chars"),
        size(col("cs")).cast("long").as("n_distinct_chars"),
        when(col("n") > 0, graft.Quant.q6(expr(
          "aggregate(cs, CAST(0.0 AS DOUBLE), " +
            "(acc, x) -> acc - (CAST(x.c AS DOUBLE) / n) * log2(CAST(x.c AS DOUBLE) / n))")))
          .otherwise(0d).as("entropy_bits"))

  /** The PRE-log entropy fingerprint, hash-gateable where entropy_bits is
    * not: the sorted exact (char, count) profile serialized as
    * "ch:count|..." — every quantity an integer, no libm anywhere, so the
    * DuckDB oracle replays it bit-for-bit (the same trick text_lm_score
    * uses to dodge log-perplexity). entropy_bits stays display-only on
    * charEntropy; this companion is the oracled face of the operator.
    */
  def charFreqProfile(docs: DataFrame): DataFrame =
    charCounts(docs)
      .select(col("doc_id"), col("n").cast("long").as("n_chars"),
        size(col("cs")).cast("long").as("n_distinct_chars"),
        array_join(transform(col("cs"), x =>
          concat(x.getField("ch"), lit(":"), x.getField("c").cast("string"))), "|")
          .as("freq_profile"))

  /** Per-source duplication-rate report — the dataset-card number behind
    * "how redundant is this source": doc count, distinct fingerprints,
    * and the duplicate fraction. One fingerprint projection and one
    * groupBy with an exact distinct (HLL swap-in at extreme cardinality
    * would mirror cardinalityApprox).
    */
  def dupStats(docs: DataFrame): DataFrame =
    withBase(docs)
      .select(col("source"), exactFp().as("fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_unique"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        graft.Quant.q6(lit(1.0) - col("n_unique").cast("double") / col("n_docs"))
          .as("dup_rate"))

  /** Sentence-level readability proxies: sentence count (runs of
    * terminal punctuation — norm keeps punctuation, only case and
    * whitespace are canonicalized), words per sentence, and chars per
    * word — the Flesch-style complexity signals without a syllable
    * model. One projection, regexp_count only (codegen'd; patterns
    * evaluate identically under Java regex and RE2).
    */
  def readability(docs: DataFrame): DataFrame =
    withBase(docs)
      .withColumn("n_words", size(col("w")))
      .withColumn("n_sent", regexp_count(col("norm"), lit("[.!?]+")))
      .select(
        col("doc_id"),
        col("n_words").cast("long").as("n_words"),
        col("n_sent").cast("long").as("n_sentences"),
        graft.Quant.q6(col("n_words").cast("double")
          / greatest(col("n_sent"), lit(1)).cast("double")).as("words_per_sentence"),
        graft.Quant.q6(length(regexp_replace(col("norm"), lit(" "), lit("")))
          .cast("double") / col("n_words")).as("chars_per_word"))

  /** Bigram collocation report — the word2vec phrase-merging rule
    * (Mikolov et al. 2013 §4): score(a,b) = (n_ab − δ)·N / (n_a·n_b),
    * the discounted observed/expected lift that decides which word pairs
    * become single tokens before training. Counts are OCCURRENCES (not
    * distinct docs — the LM sees every repetition); δ discounts rare
    * accidents and minCount floors the report. The score is assembled
    * from exact longs with ONE double division — (n_ab−δ)·N and n_a·n_b
    * stay in integer space (overflow would throw loudly under ANSI, and
    * needs two >3e9-count words colliding — beyond 10¹²-token corpora;
    * past that, pre-divide by N) — so both engines agree bit-for-bit.
    *
    * Plan: one token explode → vocab-keyed counts; one guarded bigram
    * transform → pair counts (map-side partial, minCount cuts the tail
    * BEFORE the joins); two equi-joins against the unigram table; the
    * 1-row total broadcast; TakeOrdered top-k. Nothing wider than the
    * surviving pair table ever shuffles.
    */
  def phrases(docs: DataFrame, delta: Long = 5, minCount: Long = 10,
              k: Int = 50): DataFrame = {
    val base = withBase(docs)
    val toks = base.select(explode(col("w")).as("tok"))
    val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("n_tok"))
    val nTotal = toks.agg(count(lit(1)).as("n_total"))
    val bi = base.select(explode(expr(
        "CASE WHEN size(w) < 2 THEN array() ELSE transform(sequence(1, size(w) - 1), " +
        "i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2)) END")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    bi.join(uni.select(col("tok").as("w1"), col("n_tok").as("n_a")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("n_tok").as("n_b")), Seq("w2"))
      .crossJoin(broadcast(nTotal))
      .withColumn("score", graft.Quant.q6(
        ((col("n_ab") - delta) * col("n_total")).cast("double")
          / (col("n_a") * col("n_b"))))
      .orderBy(col("score").desc, col("w1"), col("w2"))
      .limit(k)
      .select(col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"), col("score"))
  }

  /** The most-duplicated word n-grams corpus-wide (by distinct-document
    * frequency, ≥ 2 docs) — the memorization-risk / boilerplate report
    * ("which exact passages does the corpus repeat?"). Distinct shingles
    * per doc (map-side), one partial-aggregated shuffle on the gram, then
    * a TakeOrdered top-k — the same shape as vocab(), so it survives any
    * corpus size; the gram key space is bounded by total corpus tokens.
    */
  def dupNgrams(docs: DataFrame, n: Int, k: Int): DataFrame =
    withBase(docs)
      .select(col("doc_id"), explode(wordShingles(n)).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") >= 2)
      .orderBy(col("doc_freq").desc, col("gram"))
      .limit(k)

  /** Cross-source contamination matrix: for every ordered source pair,
    * how many exact-duplicate document pairs they share (same normalized
    * md5) and how many distinct texts are involved — the "which datasets
    * overlap" audit run before mixing corpora. Self-join keyed on the
    * fingerprint: group sizes are duplicate-cluster sizes (AQE splits the
    * rare boilerplate hot key), never corpus-scale.
    */
  def crossSourceOverlap(docs: DataFrame): DataFrame = {
    val fps = withBase(docs).select(col("doc_id"), col("source"), exactFp().as("fp"))
    val a = fps.select(col("fp"), col("source").as("src_a"), col("doc_id").as("id_a"))
    val b = fps.select(col("fp"), col("source").as("src_b"), col("doc_id").as("id_b"))
    a.join(b, Seq("fp")).filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"), countDistinct(col("fp")).as("n_texts"))
  }

  /** Document fingerprints: md5 of the normalized text (exact-dedup key)
    * plus a winnowing-style rolling fingerprint — the minimum hash over all
    * 8-char shingles (min-of-rolling-window, the degenerate single-window
    * form of the winnowing scheme).
    */
  def fingerprint(docs: DataFrame): DataFrame =
    withBase(docs).select(
      col("doc_id"),
      exactFp().as("fp_md5"),
      expr("CASE WHEN length(norm) < 8 THEN md5(norm) ELSE " +
        "array_min(transform(sequence(1, length(norm) - 7), i -> md5(substring(norm, i, 8)))) END")
        .as("fp_winnow"),
      greatest(length(col("norm")) - 7, lit(1)).cast("long").as("n_shingles8"))
}
