package graft
package queries

import org.apache.spark.sql.functions._

import graft.queries.Common._
import graft.text.{Dedup, TextFunctions}
import graft.sim.Vectors

/** The text family: per-document text statistics and filters, plus
  * the `dedup_*`, `corpus_*`, `sample_*` and `split_*` training-data
  * curation queries over the `documents` table.
  */
private[graft] object TextQueries {
  lazy val specs: Seq[QuerySpec] = Seq(
    // ---- LLM-pipeline: dedup (SURVEY §2) ------------------------------
    QuerySpec("dedup_exact", (s, dir) =>
      Dedup.exact(Tables.load(s, dir, "documents")).orderBy(col("doc_id")),
      Some("""WITH d AS (SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |           FROM documents)
        |SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS keep_id,
        |       doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_dup
        |FROM d ORDER BY doc_id""".stripMargin)),

    QuerySpec("dedup_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"), 3, 0.5, Some(1000L))
        .orderBy(col("id_a"), col("id_b")),
      Some(jaccardSql(0.5, Some(1000L)))),

    // asymmetric containment |A∩B|/|A| — the quote/subset near-dup class
    // symmetric Jaccard misses (short doc embedded in a long one)
    QuerySpec("dedup_containment", (s, dir) =>
      Dedup.containmentPairs(Tables.load(s, dir, "documents"), 3, 0.5, Some(1000L))
        .orderBy(col("id_a"), col("id_b")),
      // mirrors Dedup.containmentPairs: same 3-gram shingles as jaccardSql,
      // both directed ratios, threshold on the larger one
      Some(s"""WITH docs AS (SELECT doc_id, string_split($NORM_TEXT_SQL, ' ') AS w
         |              FROM documents WHERE doc_id < 1000),
         |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
         |               i -> concat(w[i], ' ', w[i + 1], ' ', w[i + 2]))) AS s
         |       FROM docs WHERE len(w) >= 3),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |             len(list_intersect(a.s, b.s)) AS inter, len(a.s) AS la, len(b.s) AS lb
         |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
         |       ${Q6("CAST(inter AS DOUBLE) / la")} AS contain_a,
         |       ${Q6("CAST(inter AS DOUBLE) / lb")} AS contain_b
         |FROM p WHERE inter > 0
         |  AND greatest(CAST(inter AS DOUBLE) / la, CAST(inter AS DOUBLE) / lb) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin)),

    QuerySpec("dedup_minhash", (s, dir) =>
      Dedup.minhashPairs(Tables.load(s, dir, "documents"), 3, 64, 2, 0.8)
        .orderBy(col("id_a"), col("id_b")),
      Some(jaccardSql(0.8, None))),

    QuerySpec("dedup_simhash", (s, dir) =>
      Dedup.simhashPairs(Tables.load(s, dir, "documents"), 3)
        .orderBy(col("id_a"), col("id_b")),
      // SimHash recomputed verbatim: per-word 64-bit hash = md5_number_lower
      // (the same value graft.plans.TextHashes.md5Lower64 computes), ±1 vote
      // per bit, sig bit = sum > 0; pairs brute-forced here (the quadratic is
      // oracle-only — the engine uses the pigeonhole chunk join).
      Some(s"""WITH d AS (SELECT doc_id, $NORM_TEXT_SQL AS norm FROM documents),
         |w AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS word FROM d),
         |h AS (SELECT doc_id, md5_number_lower(word) AS h FROM w),
         |sig AS (SELECT doc_id, $SIMHASH_SIG_SQL AS sig FROM h GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |             CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |      FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3
         |ORDER BY id_a, id_b""".stripMargin)),

    // sketch calibration: every SimHash pair re-scored with its exact
    // trigram Jaccard (NULL when a side has no shingles)
    QuerySpec("dedup_simhash_audit", (s, dir) =>
      Dedup.simhashAudit(Tables.load(s, dir, "documents"), 3, 3)
        .orderBy(col("id_a"), col("id_b")),
      // mirrors Dedup.simhashAudit: the simhash pair CTE joined to exact
      // trigram Jaccard; docs with < 3 words carry NULL shingle sets and
      // score NULL (the pair row itself is kept)
      Some(s"""WITH d AS (SELECT doc_id, $NORM_TEXT_SQL AS norm FROM documents),
         |w AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS word FROM d),
         |h AS (SELECT doc_id, md5_number_lower(word) AS h FROM w),
         |sig AS (SELECT doc_id, $SIMHASH_SIG_SQL AS sig FROM h GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |             CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |      WHERE bit_count(xor(a.sig, b.sig)) <= 3),
         |dw AS (SELECT doc_id, string_split($NORM_TEXT_SQL, ' ') AS w FROM documents),
         |sh AS (SELECT doc_id,
         |              CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
         |                generate_series(1, greatest(len(w) - 2, 0)),
         |                i -> concat(w[i], ' ', w[i + 1], ' ', w[i + 2]))) END AS s
         |       FROM dw),
         |j AS (SELECT p.id_a, p.id_b, p.hamming,
         |             len(list_intersect(a.s, b.s)) AS inter,
         |             len(a.s) AS la, len(b.s) AS lb
         |      FROM p JOIN sh a ON a.doc_id = p.id_a
         |             JOIN sh b ON b.doc_id = p.id_b)
         |SELECT id_a, id_b, hamming,
         |       CASE WHEN la IS NOT NULL AND lb IS NOT NULL AND la + lb - inter > 0
         |            THEN ${Q6("CAST(inter AS DOUBLE) / (la + lb - inter)")} END AS jaccard
         |FROM j ORDER BY id_a, id_b""".stripMargin)),

    // pigeonhole bucket-load audit: per signature chunk, bucket counts,
    // hottest bucket, and Σ C(load,2) — the candidate-pair mass a
    // simhash pair join would feed verify, priced BEFORE paying it
    QuerySpec("dedup_simhash_load", (s, dir) =>
      Dedup.simhashLoad(Tables.load(s, dir, "documents"))
        .orderBy(col("chunk")),
      // Mirrors Dedup.simhashLoad: the simhash signature CTE, 16-bit chunk
      // values via shift+mask (identical bit patterns to the engine's
      // masked arithmetic shift), per-bucket loads, per-chunk rollup.
      Some(s"""WITH d AS (SELECT doc_id, $NORM_TEXT_SQL AS norm FROM documents),
         |w AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS word FROM d),
         |h AS (SELECT doc_id, md5_number_lower(word) AS h FROM w),
         |sig AS (SELECT doc_id, $SIMHASH_SIG_SQL AS sig FROM h GROUP BY doc_id),
         |ck AS (${comboCkSql("sig", 3)}),
         |l AS (SELECT ci, cv, count(*) AS load FROM ck GROUP BY 1, 2)
         |SELECT CAST(ci AS BIGINT) AS chunk,
         |       CAST(sum(load) AS BIGINT) AS n_items,
         |       CAST(count(*) AS BIGINT) AS n_buckets,
         |       CAST(max(load) AS BIGINT) AS max_load,
         |       CAST(sum(load * (load - 1) // 2) AS BIGINT) AS cand_pairs
         |FROM l GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("dedup_shared_ngram", (s, dir) =>
      Dedup.sharedNgramPairs(Tables.load(s, dir, "documents"), 20)
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH docs AS (SELECT doc_id, string_split($NORM_TEXT_SQL, ' ') AS w FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(
         |               generate_series(1, greatest(len(w) - 19, 0)),
         |               i -> array_to_string(w[i:i+19], ' '))) AS s
         |       FROM docs WHERE len(w) >= 20),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |             len(list_intersect(a.s, b.s)) AS n_shared
         |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared
         |FROM p WHERE n_shared > 0 ORDER BY id_a, id_b""".stripMargin)),

    // LSH banding sweep: candidate cost + true-pair recall at rows-per-
    // band ∈ {1,2,4} from ONE md5-signature pass — the (b, r) config
    // decision table; recall vs the exact inverted-index pair set.
    // SAMPLED (doc_id < 1000, the audit's own scale doctrine): the md5
    // oracle-replay signatures and the exact Σ df² truth set are the
    // audit-only price, paid on a slice — the banding curve the sweep
    // measures is a property of the Jaccard distribution, not corpus
    // size. The oracle takes the identical cut.
    QuerySpec("dedup_minhash_tune", (s, dir) =>
      Dedup.minhashTune(Tables.load(s, dir, "documents"), idLimit = Some(1000L))
        .orderBy(col("rows_per_band")),
      // Mirrors Dedup.minhashTune: md5-derived signatures (sig[k] = min
      // 16-hex md5 prefix of "k|gram" over the doc's distinct trigrams),
      // per-config band buckets, distinct candidate pairs, recall vs the
      // exact Jaccard ≥ 0.5 pair set — on the registration's identical
      // doc_id < 1000 sample cut.
      Some(s"""WITH d AS (SELECT doc_id, string_split($NORM_TEXT_SQL, ' ') AS w FROM documents WHERE doc_id < 1000),
         |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
         |               i -> concat(w[i], ' ', w[i + 1], ' ', w[i + 2]))) AS s
         |       FROM d WHERE len(w) >= 3),
         |sig AS (SELECT doc_id, list_transform(generate_series(0, 63), k ->
         |          list_min(list_transform(s, g ->
         |            substring(md5(CAST(k AS VARCHAR) || '|' || g), 1, 16)))) AS sig
         |        FROM sh),
         |tp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |       FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |       WHERE len(list_intersect(a.s, b.s)) > 0
         |         AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
         |ks AS (SELECT unnest(generate_series(0, 63)) AS k),
         |bk1 AS (SELECT doc_id, k AS band, sig[k + 1] AS bv FROM sig, ks WHERE k < 64),
         |bk2 AS (SELECT doc_id, k AS band, array_to_string(sig[2*k + 1 : 2*k + 2], '#') AS bv FROM sig, ks WHERE k < 32),
         |bk4 AS (SELECT doc_id, k AS band, array_to_string(sig[4*k + 1 : 4*k + 4], '#') AS bv FROM sig, ks WHERE k < 16),
         |c1 AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bk1 a JOIN bk1 b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |c2 AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bk2 a JOIN bk2 b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |c4 AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bk4 a JOIN bk4 b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |st AS (SELECT 1 AS rows_per_band, 64 AS n_bands, count(*) AS n_cand,
         |              sum(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END) AS n_true_cand
         |       FROM c1 c LEFT JOIN tp t ON c.id_a = t.id_a AND c.id_b = t.id_b
         |       UNION ALL
         |       SELECT 2, 32, count(*),
         |              sum(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END)
         |       FROM c2 c LEFT JOIN tp t ON c.id_a = t.id_a AND c.id_b = t.id_b
         |       UNION ALL
         |       SELECT 4, 16, count(*),
         |              sum(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END)
         |       FROM c4 c LEFT JOIN tp t ON c.id_a = t.id_a AND c.id_b = t.id_b),
         |tot AS (SELECT count(*) AS n_true_total FROM tp)
         |SELECT CAST(rows_per_band AS BIGINT) AS rows_per_band,
         |       CAST(n_bands AS BIGINT) AS n_bands,
         |       CAST(n_cand AS BIGINT) AS n_cand,
         |       CAST(n_true_cand AS BIGINT) AS n_true_cand,
         |       CAST(n_true_total AS BIGINT) AS n_true_total,
         |       CASE WHEN n_true_total = 0 THEN NULL
         |            ELSE ${Q6("CAST(n_true_cand AS DOUBLE) / n_true_total")} END AS recall
         |FROM st, tot ORDER BY rows_per_band""".stripMargin)),

    QuerySpec("corpus_filter", (s, dir) =>
      TextFunctions.corpusFilter(Tables.load(s, dir, "documents"), 0.5)
        .orderBy(col("doc_id")),
      Some(s"""WITH d AS (SELECT doc_id, $NORM_TEXT_SQL AS norm FROM documents),
         |b AS (SELECT doc_id, norm, string_split(norm, ' ') AS w FROM d),
         |c AS (SELECT doc_id,
         |        CAST(len(w) AS BIGINT) AS n_words,
         |        CAST(length(norm) AS BIGINT) AS n_chars,
         |        len(list_filter(w, x -> x IN ('the', 'a', 'is', 'and', 'of', 'to', 'in'))) AS n_stop,
         |        len(regexp_extract_all(norm, '[^a-z0-9 ]')) AS n_punct
         |      FROM b),
         |q AS (SELECT doc_id,
         |        ${Q6(QSCORE_SQL)} AS quality_score
         |      FROM c),
         |pii AS (SELECT doc_id,
         |          (len(regexp_extract_all(norm, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}'))
         |           + len(regexp_extract_all(norm, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
         |           + len(regexp_extract_all(norm, '\\d{3}[- ]\\d{3,4}[- ]\\d{4}'))) > 0 AS has_pii
         |        FROM d),
         |k AS (SELECT doc_id, doc_id <> min(doc_id) OVER (PARTITION BY md5(norm)) AS is_dup
         |      FROM d)
         |SELECT q.doc_id AS doc_id,
         |       q.quality_score >= 0.5 AS quality_ok,
         |       pii.has_pii AS has_pii, k.is_dup AS is_dup,
         |       (q.quality_score >= 0.5 AND NOT pii.has_pii AND NOT k.is_dup) AS keep
         |FROM q JOIN pii ON q.doc_id = pii.doc_id JOIN k ON q.doc_id = k.doc_id
         |ORDER BY doc_id""".stripMargin)),

    // the full curation verdict — one audited drop REASON per document
    // (exact_dup > near_dup cluster loser > pii > low_quality > kept),
    // composing four individually-oracled operators by doc_id joins
    QuerySpec("corpus_verdict", (s, dir) =>
      TextFunctions.corpusVerdict(Tables.load(s, dir, "documents"), 0.5)
        .orderBy(col("doc_id")),
      // Mirrors TextFunctions.corpusVerdict: the keep-best survivor CTEs
      // (same reachability clusters as dedup_keep_best) composed with the
      // corpus_filter quality/pii/exact CTEs; verdict CASE in pipeline
      // stage order. NULL quality (empty norm) falls through to 'kept',
      // matching Spark's NULL-is-false `when`.
      Some(s"""$DEDUP_CLUSTER_CTES,
         |cl AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id, d.n_chars
         |       FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id),
         |kb AS (SELECT doc_id, (row_number() OVER (PARTITION BY cluster_id
         |          ORDER BY n_chars DESC, doc_id) = 1) AS kept
         |       FROM cl),
         |vd AS (SELECT doc_id, $NORM_TEXT_SQL AS norm FROM documents),
         |vb AS (SELECT doc_id, norm, string_split(norm, ' ') AS w FROM vd),
         |vc AS (SELECT doc_id,
         |         CAST(len(w) AS BIGINT) AS n_words,
         |         CAST(length(norm) AS BIGINT) AS n_chars,
         |         len(list_filter(w, x -> x IN ('the', 'a', 'is', 'and', 'of', 'to', 'in'))) AS n_stop,
         |         len(regexp_extract_all(norm, '[^a-z0-9 ]')) AS n_punct
         |       FROM vb),
         |vq AS (SELECT doc_id, ${Q6(QSCORE_SQL)} AS quality_score FROM vc),
         |vp AS (SELECT doc_id,
         |         (len(regexp_extract_all(norm, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}'))
         |          + len(regexp_extract_all(norm, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
         |          + len(regexp_extract_all(norm, '\\d{3}[- ]\\d{3,4}[- ]\\d{4}'))) > 0 AS has_pii
         |       FROM vd),
         |vx AS (SELECT doc_id, doc_id <> min(doc_id) OVER (PARTITION BY md5(norm)) AS is_dup
         |       FROM vd),
         |vv AS (SELECT vq.doc_id AS doc_id,
         |         CASE WHEN vx.is_dup THEN 'exact_dup'
         |              WHEN NOT kb.kept THEN 'near_dup'
         |              WHEN vp.has_pii THEN 'pii'
         |              WHEN vq.quality_score < 0.5 THEN 'low_quality'
         |              ELSE 'kept' END AS verdict
         |       FROM vq JOIN vp ON vq.doc_id = vp.doc_id
         |              JOIN vx ON vq.doc_id = vx.doc_id
         |              JOIN kb ON vq.doc_id = kb.doc_id)
         |SELECT doc_id, verdict, verdict = 'kept' AS keep
         |FROM vv ORDER BY doc_id""".stripMargin)),

    // the curation funnel: the verdict's drop reasons rolled up with doc
    // and token mass per pipeline stage — the one-page "where did the
    // corpus go" report
    QuerySpec("corpus_funnel", (s, dir) =>
      TextFunctions.corpusFunnel(Tables.load(s, dir, "documents"), 0.5)
        .orderBy(col("stage")),
      // Mirrors TextFunctions.corpusFunnel: the corpus_verdict CTE chain
      // joined with per-doc token counts, rolled up per reason with stage
      // numbers in pipeline order and exact-integer mass fractions.
      Some(s"""$DEDUP_CLUSTER_CTES,
         |cl AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id, d.n_chars
         |       FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id),
         |kb AS (SELECT doc_id, (row_number() OVER (PARTITION BY cluster_id
         |          ORDER BY n_chars DESC, doc_id) = 1) AS kept
         |       FROM cl),
         |vd AS (SELECT doc_id, $NORM_TEXT_SQL AS norm FROM documents),
         |vb AS (SELECT doc_id, norm, string_split(norm, ' ') AS w FROM vd),
         |vc AS (SELECT doc_id,
         |         CAST(len(w) AS BIGINT) AS n_words,
         |         CAST(length(norm) AS BIGINT) AS n_chars,
         |         len(list_filter(w, x -> x IN ('the', 'a', 'is', 'and', 'of', 'to', 'in'))) AS n_stop,
         |         len(regexp_extract_all(norm, '[^a-z0-9 ]')) AS n_punct
         |       FROM vb),
         |vq AS (SELECT doc_id, ${Q6(QSCORE_SQL)} AS quality_score FROM vc),
         |vp AS (SELECT doc_id,
         |         (len(regexp_extract_all(norm, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}'))
         |          + len(regexp_extract_all(norm, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
         |          + len(regexp_extract_all(norm, '\\d{3}[- ]\\d{3,4}[- ]\\d{4}'))) > 0 AS has_pii
         |       FROM vd),
         |vx AS (SELECT doc_id, doc_id <> min(doc_id) OVER (PARTITION BY md5(norm)) AS is_dup
         |       FROM vd),
         |vv AS (SELECT vq.doc_id AS doc_id,
         |         CASE WHEN vx.is_dup THEN 'exact_dup'
         |              WHEN NOT kb.kept THEN 'near_dup'
         |              WHEN vp.has_pii THEN 'pii'
         |              WHEN vq.quality_score < 0.5 THEN 'low_quality'
         |              ELSE 'kept' END AS verdict
         |       FROM vq JOIN vp ON vq.doc_id = vp.doc_id
         |              JOIN vx ON vq.doc_id = vx.doc_id
         |              JOIN kb ON vq.doc_id = kb.doc_id),
         |vt AS (SELECT vv.doc_id, vv.verdict, CAST(len(vb.w) AS BIGINT) AS n_tokens
         |       FROM vv JOIN vb ON vv.doc_id = vb.doc_id),
         |tt AS (SELECT count(*) AS t_docs, sum(n_tokens) AS t_tokens FROM vt),
         |g AS (SELECT verdict, count(*) AS n_docs, sum(n_tokens) AS n_tokens
         |      FROM vt GROUP BY verdict)
         |SELECT CASE verdict WHEN 'exact_dup' THEN 1 WHEN 'near_dup' THEN 2
         |            WHEN 'pii' THEN 3 WHEN 'low_quality' THEN 4 ELSE 5 END::BIGINT AS stage,
         |       verdict, CAST(n_docs AS BIGINT) AS n_docs,
         |       CAST(n_tokens AS BIGINT) AS n_tokens,
         |       ${Q6("CAST(n_docs AS DOUBLE) / t_docs")} AS doc_frac,
         |       ${Q6("CAST(n_tokens AS DOUBLE) / t_tokens")} AS token_frac
         |FROM g CROSS JOIN tt ORDER BY stage""".stripMargin)),

    // quality-threshold tuning: surviving docs + word mass at cuts
    // {.2,.4,.6,.8} from ONE scored pass — the table read before
    // corpus_filter ships a threshold
    QuerySpec("corpus_quality_sweep", (s, dir) =>
      TextFunctions.qualitySweep(Tables.load(s, dir, "documents")),
      // Mirrors TextFunctions.qualitySweep: the quality CTE, one wide
      // aggregate; cuts compare against the 6-dp-quantized score so both
      // engines make the identical keep/drop decision at each threshold.
      Some(s"""WITH d AS (SELECT doc_id, $NORM_TEXT_SQL AS norm FROM documents),
         |b AS (SELECT doc_id, norm, string_split(norm, ' ') AS w FROM d),
         |c AS (SELECT doc_id,
         |        CAST(len(w) AS BIGINT) AS n_words,
         |        CAST(length(norm) AS BIGINT) AS n_chars,
         |        len(list_filter(w, x -> x IN ('the', 'a', 'is', 'and', 'of', 'to', 'in'))) AS n_stop,
         |        len(regexp_extract_all(norm, '[^a-z0-9 ]')) AS n_punct
         |      FROM b),
         |q AS (SELECT doc_id, n_words, ${Q6(QSCORE_SQL)} AS quality_score FROM c)
         |SELECT CAST(sum(CASE WHEN quality_score >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS docs_0,
         |       CAST(sum(CASE WHEN quality_score >= 0.2 THEN n_words ELSE 0 END) AS BIGINT) AS words_0,
         |       CAST(sum(CASE WHEN quality_score >= 0.4 THEN 1 ELSE 0 END) AS BIGINT) AS docs_1,
         |       CAST(sum(CASE WHEN quality_score >= 0.4 THEN n_words ELSE 0 END) AS BIGINT) AS words_1,
         |       CAST(sum(CASE WHEN quality_score >= 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS docs_2,
         |       CAST(sum(CASE WHEN quality_score >= 0.6 THEN n_words ELSE 0 END) AS BIGINT) AS words_2,
         |       CAST(sum(CASE WHEN quality_score >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS docs_3,
         |       CAST(sum(CASE WHEN quality_score >= 0.8 THEN n_words ELSE 0 END) AS BIGINT) AS words_3
         |FROM q""".stripMargin)),

    // decontamination: src0 plays the held-out benchmark, the rest the
    // training corpus — training docs sharing a verbatim 8-word run with
    // any benchmark doc are contamination hits
    QuerySpec("corpus_contamination", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.contamination(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), 8)
        .orderBy(col("train_id"), col("bench_id"))
    },
      Some(s"""WITH docs AS (SELECT doc_id, source, string_split($NORM_TEXT_SQL, ' ') AS w
         |              FROM documents),
         |sh AS (SELECT doc_id, source, list_distinct(list_transform(
         |               generate_series(1, greatest(len(w) - 7, 0)),
         |               i -> array_to_string(w[i:i+7], ' '))) AS s
         |       FROM docs WHERE len(w) >= 8),
         |p AS (SELECT t.doc_id AS train_id, b.doc_id AS bench_id,
         |             len(list_intersect(t.s, b.s)) AS n_shared
         |      FROM sh t JOIN sh b ON t.source <> 'src0' AND b.source = 'src0')
         |SELECT train_id, bench_id, CAST(n_shared AS BIGINT) AS n_shared
         |FROM p WHERE n_shared >= 1 ORDER BY train_id, bench_id""".stripMargin)),

    // scored near-contamination: trigram Jaccard train×bench (catches
    // paraphrase-level leakage the verbatim 8-gram detector understates)
    QuerySpec("corpus_contamination_near", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.crossJaccardPairs(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), 3, 0.3)
        .orderBy(col("train_id"), col("bench_id"))
    },
      Some(s"""WITH docs AS (SELECT doc_id, source, string_split($NORM_TEXT_SQL, ' ') AS w
         |              FROM documents),
         |sh AS (SELECT doc_id, source, list_distinct(list_transform(
         |               generate_series(1, greatest(len(w) - 2, 0)),
         |               i -> concat(w[i], ' ', w[i + 1], ' ', w[i + 2]))) AS s
         |       FROM docs WHERE len(w) >= 3),
         |p AS (SELECT t.doc_id AS train_id, b.doc_id AS bench_id,
         |             len(list_intersect(t.s, b.s)) AS inter,
         |             len(t.s) AS la, len(b.s) AS lb
         |      FROM sh t JOIN sh b ON t.source <> 'src0' AND b.source = 'src0')
         |SELECT train_id, bench_id,
         |       ${Q6("CAST(inter AS DOUBLE) / (la + lb - inter)")} AS jaccard
         |FROM p WHERE inter > 0 AND CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.3
         |ORDER BY train_id, bench_id""".stripMargin)),

    // SEMANTIC contamination — the embedding-space member of the
    // contamination triad (verbatim 8-gram, trigram Jaccard, and this):
    // training docs whose embeddings sit cosine-close to any benchmark
    // doc's, candidates from the broadcast LSH bucket join, exact verify
    QuerySpec("corpus_contamination_emb", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val src = Tables.load(s, dir, "documents").select(col("doc_id"), col("source"))
      val tagged = emb.join(broadcast(src), emb("vec_id") === src("doc_id")).drop("doc_id")
      Vectors.crossCosinePairsLsh(
          tagged.filter(col("source") =!= "src0").drop("source"),
          tagged.filter(col("source") === "src0").drop("source"), 0.4)
        .select(col("id_a").as("train_id"), col("id_b").as("bench_id"), col("cos_sim"))
        .orderBy(col("train_id"), col("bench_id"))
    },
      // Mirrors Vectors.crossCosinePairsLsh: buckets for BOTH sides from
      // the shared md5 planes, 1-bit multiprobe on the benchmark (src0)
      // side only, exact cosine >= 0.4 verify in DOT_SQL's index order.
      Some(s"""WITH e AS (SELECT vec_id, embedding, $NORM_SQL AS nrm FROM embeddings),
         |m AS (SELECT e.vec_id, e.embedding, d.source
         |      FROM e JOIN documents d ON d.doc_id = e.vec_id),
         |bk AS (SELECT m.vec_id, m.source, t.t AS tbl,
         |         CAST(list_sum(list_transform(generate_series(0, 7), bb ->
         |           CASE WHEN list_sum(list_transform(generate_series(1, 64), dd ->
         |                  CAST(m.embedding[dd] AS DOUBLE) * ${PLANE_SQL("t.t", "bb", "dd - 1")})) > 0
         |                THEN (1 << bb) ELSE 0 END)) AS BIGINT) AS bucket
         |       FROM m, (SELECT unnest(generate_series(0, 15)) AS t) t),
         |pp AS (SELECT b.vec_id, b.tbl, xor(b.bucket, f.f) AS bucket
         |       FROM bk b, (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS f) f
         |       WHERE b.source = 'src0'),
         |cand AS (SELECT DISTINCT c.vec_id AS train_id, p.vec_id AS bench_id
         |         FROM pp p JOIN bk c ON p.tbl = c.tbl AND p.bucket = c.bucket
         |         WHERE c.source <> 'src0'),
         |pr AS (SELECT train_id, bench_id,
         |              ${DOT_SQL("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
         |       FROM cand JOIN e a ON a.vec_id = train_id JOIN e b ON b.vec_id = bench_id)
         |SELECT train_id, bench_id, ${Q6("cos")} AS cos_sim
         |FROM pr WHERE cos >= 0.4 ORDER BY train_id, bench_id""".stripMargin)),

    QuerySpec("dedup_clusters", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.clusters(docs, Dedup.minhashPairs(docs, 3, 64, 2, 0.8))
        .orderBy(col("doc_id"))
    },
      // Connected components in SQL: reachability closure via recursive CTE
      // (UNION dedupes states, so the recursion terminates despite cycles),
      // cluster_id = min reachable doc_id; singletons keep their own id.
      Some(s"""$DEDUP_CLUSTER_CTES
         |SELECT d.doc_id AS doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id
         |ORDER BY d.doc_id""".stripMargin)),

    // per-doc duplicated-passage mass: fraction of 8-gram positions whose
    // gram appears in ≥2 docs — the span-removal decision signal, pure
    // inverted-index aggregates (never pairwise)
    QuerySpec("dedup_span_stats", (s, dir) =>
      Dedup.dupSpanStats(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      // Mirrors Dedup.dupSpanStats: positional 8-grams (multiplicity kept),
      // doc-frequency from the per-(doc, gram) table, duplicated mass =
      // positions whose gram occurs in ≥ 2 docs. Grouping is by gram TEXT
      // where the engine groups by xxhash64(gram) — identical arithmetic
      // barring a 2⁻⁶⁴ collision.
      Some(s"""WITH d AS (SELECT doc_id, string_split($NORM_TEXT_SQL, ' ') AS w FROM documents),
         |g AS (SELECT doc_id, unnest(list_transform(
         |               generate_series(1, greatest(len(w) - 7, 0)),
         |               i -> array_to_string(w[i:i+7], ' '))) AS gram
         |      FROM d WHERE len(w) >= 8),
         |pg AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
         |df AS (SELECT gram, count(*) AS df FROM pg GROUP BY 1)
         |SELECT p.doc_id,
         |       CAST(sum(p.cnt) AS BIGINT) AS n_ngrams,
         |       CAST(sum(CASE WHEN f.df >= 2 THEN p.cnt ELSE 0 END) AS BIGINT) AS n_dup,
         |       ${Q6("CAST(sum(CASE WHEN f.df >= 2 THEN p.cnt ELSE 0 END) AS DOUBLE) / sum(p.cnt)")} AS dup_frac
         |FROM pg p JOIN df f USING (gram)
         |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin)),

    // exact-substring span REMOVAL: the dedup rewrite itself — word
    // positions covered by an 8-gram some earlier doc contributed are
    // excised, first copy survives; output includes the cleaned text
    QuerySpec("dedup_span_removal", (s, dir) =>
      Dedup.spanRemoval(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      // Mirrors Dedup.spanRemoval: positional 8-grams with start index,
      // gram ownership = min(doc_id), covered indices = i..i+7 of every
      // occurrence whose owner is an earlier doc; rebuild replays the
      // engine's index-grid CASE/filter/join arithmetic verbatim. Gram
      // identity by TEXT where the engine uses xxhash64 (2⁻⁶⁴ caveat).
      Some(s"""WITH d AS (SELECT doc_id, string_split($NORM_TEXT_SQL, ' ') AS w FROM documents),
         |gp AS (SELECT doc_id, u.i AS i, u.gram AS gram
         |       FROM (SELECT doc_id, unnest(list_transform(
         |                generate_series(1, greatest(len(w) - 7, 0)),
         |                i -> struct_pack(i := i, gram := array_to_string(w[i:i+7], ' ')))) AS u
         |             FROM d WHERE len(w) >= 8)),
         |own AS (SELECT gram, min(doc_id) AS owner FROM gp GROUP BY 1),
         |cpos AS (SELECT DISTINCT doc_id, idx FROM
         |           (SELECT gp.doc_id, unnest(generate_series(gp.i, gp.i + 7)) AS idx
         |            FROM gp JOIN own USING (gram) WHERE own.owner < gp.doc_id)),
         |cv AS (SELECT doc_id, list(idx) AS cov FROM cpos GROUP BY 1)
         |SELECT d.doc_id,
         |       CAST(len(d.w) AS BIGINT) AS n_words,
         |       CAST(coalesce(len(cv.cov), 0) AS BIGINT) AS n_removed,
         |       coalesce(array_to_string(list_filter(list_transform(generate_series(1, len(d.w)),
         |         i -> CASE WHEN list_contains(coalesce(cv.cov, []), i) THEN NULL ELSE d.w[i] END),
         |         x -> x IS NOT NULL), ' '), '') AS text_clean
         |FROM d LEFT JOIN cv USING (doc_id) ORDER BY d.doc_id""".stripMargin)),

    // per-source span-dedup recovery: where does the duplication LIVE —
    // one row per source with surviving/removed word mass over the
    // span_removal rewrite
    QuerySpec("dedup_span_profile", (s, dir) =>
      Dedup.spanProfile(Tables.load(s, dir, "documents"))
        .orderBy(col("source")),
      // Mirrors Dedup.spanProfile: the span_removal coverage CTEs rolled
      // up per source (coalesce(0) for cover-free docs, count of touched
      // docs, removed fraction of the source's word mass).
      Some(s"""WITH d AS (SELECT doc_id, string_split($NORM_TEXT_SQL, ' ') AS w FROM documents),
         |gp AS (SELECT doc_id, u.i AS i, u.gram AS gram
         |       FROM (SELECT doc_id, unnest(list_transform(
         |                generate_series(1, greatest(len(w) - 7, 0)),
         |                i -> struct_pack(i := i, gram := array_to_string(w[i:i+7], ' ')))) AS u
         |             FROM d WHERE len(w) >= 8)),
         |own AS (SELECT gram, min(doc_id) AS owner FROM gp GROUP BY 1),
         |cpos AS (SELECT DISTINCT doc_id, idx FROM
         |           (SELECT gp.doc_id, unnest(generate_series(gp.i, gp.i + 7)) AS idx
         |            FROM gp JOIN own USING (gram) WHERE own.owner < gp.doc_id)),
         |cv AS (SELECT doc_id, count(*) AS n_cov FROM cpos GROUP BY 1),
         |per AS (SELECT d.doc_id, len(d.w) AS n_words, coalesce(cv.n_cov, 0) AS n_removed
         |        FROM d LEFT JOIN cv USING (doc_id))
         |SELECT doc.source AS source,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(per.n_words) AS BIGINT) AS n_words,
         |       CAST(sum(per.n_removed) AS BIGINT) AS n_removed,
         |       CAST(sum(CASE WHEN per.n_removed > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_touched,
         |       ${Q6("CAST(sum(per.n_removed) AS DOUBLE) / sum(per.n_words)")} AS removed_frac
         |FROM per JOIN documents doc USING (doc_id)
         |GROUP BY doc.source ORDER BY doc.source""".stripMargin)),

    // cross-source near-duplication matrix: verified near-dup pairs
    // rolled up per unordered source pair — where a source's other copy
    // CAME FROM, the table that decides whether dedup must cross source
    // boundaries or can shard by source
    QuerySpec("dedup_source_matrix", (s, dir) =>
      Dedup.sourceOverlap(Tables.load(s, dir, "documents"))
        .orderBy(col("source_a"), col("source_b")),
      // Mirrors Dedup.sourceOverlap: the exact trigram-Jaccard pair set
      // (the minhash oracle's CTEs), each pair labeled with its unordered
      // source pair, rolled up with the HUGEINT micro-unit mean.
      Some(s"""WITH docs AS (SELECT doc_id, string_split($NORM_TEXT_SQL, ' ') AS w FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
         |               i -> concat(w[i], ' ', w[i + 1], ' ', w[i + 2]))) AS s
         |       FROM docs WHERE len(w) >= 3),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |             len(list_intersect(a.s, b.s)) AS inter, len(a.s) AS la, len(b.s) AS lb
         |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
         |pr AS (SELECT id_a, id_b, ${Q6("CAST(inter AS DOUBLE) / (la + lb - inter)")} AS jaccard
         |       FROM p WHERE inter > 0 AND CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.8),
         |j AS (SELECT least(da.source, db.source) AS source_a,
         |             greatest(da.source, db.source) AS source_b, pr.jaccard
         |      FROM pr JOIN documents da ON da.doc_id = pr.id_a
         |              JOIN documents db ON db.doc_id = pr.id_b)
         |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
         |       max(jaccard) AS max_jaccard,
         |       ${MEAN6(s"sum(${US6("jaccard")})", "count(*)")} AS mean_jaccard
         |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // novel-content mass under in-order admission: fraction of a doc's
    // 8-gram positions whose gram no earlier doc_id contributed — the
    // marginal mass a greedy incremental dedup keeps per doc
    QuerySpec("dedup_ngram_novelty", (s, dir) =>
      Dedup.ngramNovelty(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      // Mirrors Dedup.ngramNovelty: same positional-8-gram table as the
      // span-stats oracle, gram ownership = min(doc_id), novel mass =
      // positions whose doc owns the gram. Gram identity by TEXT where the
      // engine uses xxhash64 (2⁻⁶⁴ collision caveat).
      Some(s"""WITH d AS (SELECT doc_id, string_split($NORM_TEXT_SQL, ' ') AS w FROM documents),
         |g AS (SELECT doc_id, unnest(list_transform(
         |               generate_series(1, greatest(len(w) - 7, 0)),
         |               i -> array_to_string(w[i:i+7], ' '))) AS gram
         |      FROM d WHERE len(w) >= 8),
         |pg AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
         |own AS (SELECT gram, min(doc_id) AS owner FROM pg GROUP BY 1)
         |SELECT p.doc_id,
         |       CAST(sum(p.cnt) AS BIGINT) AS n_ngrams,
         |       CAST(sum(CASE WHEN o.owner = p.doc_id THEN p.cnt ELSE 0 END) AS BIGINT) AS n_novel,
         |       ${Q6("CAST(sum(CASE WHEN o.owner = p.doc_id THEN p.cnt ELSE 0 END) AS DOUBLE) / sum(p.cnt)")} AS novel_frac
         |FROM pg p JOIN own o USING (gram)
         |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin)),

    // survivor selection: the keep/drop decision a dedup pipeline ships —
    // longest doc per near-dup cluster survives, ties to lowest doc_id
    QuerySpec("dedup_keep_best", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.keepBest(docs, Dedup.minhashPairs(docs, 3, 64, 2, 0.8))
        .orderBy(col("doc_id"))
    },
      // Mirrors Dedup.keepBest: same reachability clusters, survivor =
      // longest text per cluster (ties → lowest doc_id).
      Some(s"""$DEDUP_CLUSTER_CTES,
         |cl AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id, d.n_chars
         |       FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id)
         |SELECT doc_id, cluster_id,
         |       (row_number() OVER (PARTITION BY cluster_id
         |          ORDER BY n_chars DESC, doc_id) = 1) AS kept
         |FROM cl ORDER BY doc_id""".stripMargin)),

    // ---- LLM-pipeline: text analysis ----------------------------------
    QuerySpec("text_tokens", (s, dir) =>
      TextFunctions.tokenStats(Tables.load(s, dir, "documents")).orderBy(col("doc_id")),
      Some(s"""WITH d AS (SELECT doc_id, $NORM_TEXT_SQL AS norm FROM documents)
         |SELECT doc_id,
         |       CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_ws_tokens,
         |       CAST(len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
         |       CAST(length(norm) AS BIGINT) AS n_chars_norm
         |FROM d ORDER BY doc_id""".stripMargin)),

    QuerySpec("text_quality", (s, dir) =>
      TextFunctions.quality(Tables.load(s, dir, "documents")).orderBy(col("doc_id")),
      Some(s"""WITH d AS (SELECT doc_id, $NORM_TEXT_SQL AS norm FROM documents),
         |b AS (SELECT doc_id, norm, string_split(norm, ' ') AS w FROM d),
         |c AS (SELECT doc_id,
         |             CAST(len(w) AS BIGINT) AS n_words,
         |             CAST(length(norm) AS BIGINT) AS n_chars,
         |             len(list_filter(w, x -> x IN ('the', 'a', 'is', 'and', 'of', 'to', 'in'))) AS n_stop,
         |             len(regexp_extract_all(norm, '[^a-z0-9 ]')) AS n_punct,
         |             len(regexp_extract_all(norm, '[0-9]')) AS n_digit,
         |             length(replace(norm, ' ', '')) AS n_alpha
         |      FROM b)
         |SELECT doc_id, n_words, n_chars,
         |       ${Q6("CAST(n_stop AS DOUBLE) / n_words")} AS stop_ratio,
         |       ${Q6("CAST(n_punct AS DOUBLE) / n_chars")} AS punct_ratio,
         |       ${Q6("CAST(n_digit AS DOUBLE) / n_chars")} AS digit_ratio,
         |       ${Q6("CAST(n_alpha AS DOUBLE) / n_words")} AS avg_word_len,
         |       ${Q6(QSCORE_SQL)} AS quality_score
         |FROM c ORDER BY doc_id""".stripMargin)),

    QuerySpec("text_langid", (s, dir) =>
      TextFunctions.langId(Tables.load(s, dir, "documents")).orderBy(col("doc_id")),
      Some(s"""WITH d AS (SELECT doc_id, $NORM_TEXT_SQL AS norm FROM documents),
         |b AS (SELECT doc_id, string_split(norm, ' ') AS w FROM d),
         |c AS (SELECT doc_id,
         |             CAST(len(list_filter(w, x -> x IN ('the', 'a', 'is', 'and'))) AS BIGINT) AS n_en,
         |             CAST(len(list_filter(w, x -> x IN ('el', 'la', 'los', 'que'))) AS BIGINT) AS n_es,
         |             CAST(len(list_filter(w, x -> x IN ('der', 'die', 'und', 'das'))) AS BIGINT) AS n_de,
         |             CAST(len(list_filter(w, x -> x IN ('le', 'les', 'et', 'une'))) AS BIGINT) AS n_fr
         |      FROM b)
         |SELECT doc_id,
         |       CASE WHEN n_en >= n_es AND n_en >= n_de AND n_en >= n_fr AND n_en > 0 THEN 'en'
         |            WHEN n_es >= n_de AND n_es >= n_fr AND n_es > 0 THEN 'es'
         |            WHEN n_de >= n_fr AND n_de > 0 THEN 'de'
         |            WHEN n_fr > 0 THEN 'fr'
         |            ELSE 'unknown' END AS lang_pred,
         |       n_en, n_es, n_de, n_fr
         |FROM c ORDER BY doc_id""".stripMargin)),

    // language-ID confusion matrix vs the declared lang column — the
    // classifier-health audit (diagonal = agreement rate)
    QuerySpec("text_langid_confusion", (s, dir) =>
      TextFunctions.langIdConfusion(Tables.load(s, dir, "documents"))
        .orderBy(col("lang_decl"), col("lang_pred")),
      // mirrors TextFunctions.langIdConfusion: the langid CTE + declared
      // lang, metadata-scale matrix, per-declared-total window fraction
      Some(s"""WITH d AS (SELECT doc_id, lang, $NORM_TEXT_SQL AS norm FROM documents),
         |b AS (SELECT doc_id, lang, string_split(norm, ' ') AS w FROM d),
         |c AS (SELECT doc_id, lang,
         |             len(list_filter(w, x -> x IN ('the', 'a', 'is', 'and'))) AS n_en,
         |             len(list_filter(w, x -> x IN ('el', 'la', 'los', 'que'))) AS n_es,
         |             len(list_filter(w, x -> x IN ('der', 'die', 'und', 'das'))) AS n_de,
         |             len(list_filter(w, x -> x IN ('le', 'les', 'et', 'une'))) AS n_fr
         |      FROM b),
         |p AS (SELECT lang AS lang_decl,
         |        CASE WHEN n_en >= n_es AND n_en >= n_de AND n_en >= n_fr AND n_en > 0 THEN 'en'
         |             WHEN n_es >= n_de AND n_es >= n_fr AND n_es > 0 THEN 'es'
         |             WHEN n_de >= n_fr AND n_de > 0 THEN 'de'
         |             WHEN n_fr > 0 THEN 'fr'
         |             ELSE 'unknown' END AS lang_pred
         |      FROM c),
         |g AS (SELECT lang_decl, lang_pred, count(*) AS n FROM p GROUP BY 1, 2)
         |SELECT lang_decl, lang_pred, CAST(n AS BIGINT) AS n_docs,
         |       ${Q6("CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY lang_decl) AS DOUBLE)")} AS frac
         |FROM g ORDER BY lang_decl, lang_pred""".stripMargin)),

    // bigram-LM quality scoring, self-trained on the corpus; the exact
    // mean-inverse-probability score hash-gates where log-PPL could not
    QuerySpec("text_lm_score", (s, dir) =>
      TextFunctions.lmScore(Tables.load(s, dir, "documents"), 1024)
        .orderBy(col("doc_id")),
      // Mirrors TextFunctions.lmScore: top-1024 vocab (count desc, word asc
      // — the same total order TakeOrdered applies), OOV = chr(4)||'oov',
      // bigram/bigram-start counts over the whole corpus, and per doc the
      // exact-quantized mean inverse bigram probability. Every term is one
      // IEEE division of two exact integer counts — no libm — so the score
      // hashes identically (log-based perplexity could not; see
      // text_entropy).
      Some(s"""WITH d AS (SELECT doc_id, $NORM_TEXT_SQL AS norm FROM documents),
         |wl AS (SELECT doc_id, string_split(norm, ' ') AS w FROM d),
         |wd AS (SELECT doc_id, unnest(w) AS word,
         |              unnest(generate_series(1, len(w))) AS pos FROM wl),
         |vc AS (SELECT word, count(*) AS c FROM wd GROUP BY 1),
         |top AS (SELECT word FROM vc
         |        QUALIFY row_number() OVER (ORDER BY c DESC, word) <= 1024),
         |m AS (SELECT wd.doc_id, wd.pos,
         |             CASE WHEN t.word IS NOT NULL THEN wd.word
         |                  ELSE chr(4) || 'oov' END AS mw
         |      FROM wd LEFT JOIN top t ON wd.word = t.word),
         |big AS (SELECT doc_id, mw,
         |               lead(mw) OVER (PARTITION BY doc_id ORDER BY pos) AS nw
         |        FROM m QUALIFY nw IS NOT NULL),
         |b12 AS (SELECT mw, nw, count(*) AS c12 FROM big GROUP BY 1, 2),
         |u1 AS (SELECT mw, count(*) AS c1 FROM big GROUP BY 1),
         |ov AS (SELECT doc_id,
         |              count(CASE WHEN mw = chr(4) || 'oov' THEN 1 END) AS n_oov
         |       FROM m GROUP BY 1),
         |t AS (SELECT big.doc_id, ${US6("CAST(u1.c1 AS DOUBLE) / b12.c12")} AS tt
         |      FROM big JOIN b12 ON big.mw = b12.mw AND big.nw = b12.nw
         |                JOIN u1 ON big.mw = u1.mw)
         |SELECT t.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |       CAST(ov.n_oov AS BIGINT) AS n_oov,
         |       ${MEAN6("sum(tt)", "count(*)")} AS mean_inv_p
         |FROM t JOIN ov ON t.doc_id = ov.doc_id
         |GROUP BY t.doc_id, ov.n_oov ORDER BY doc_id""".stripMargin)),

    QuerySpec("text_fingerprint", (s, dir) =>
      TextFunctions.fingerprint(Tables.load(s, dir, "documents")).orderBy(col("doc_id")),
      Some(s"""WITH d AS (SELECT doc_id, $NORM_TEXT_SQL AS norm FROM documents)
         |SELECT doc_id, md5(norm) AS fp_md5,
         |       CASE WHEN length(norm) < 8 THEN md5(norm)
         |            ELSE list_min(list_transform(generate_series(1, CAST(length(norm) - 7 AS BIGINT)),
         |                                         i -> md5(substr(norm, CAST(i AS INT), 8)))) END AS fp_winnow,
         |       CAST(greatest(length(norm) - 7, 1) AS BIGINT) AS n_shingles8
         |FROM d ORDER BY doc_id""".stripMargin)),

    // per-doc top-5 keywords by tf·(N/df) — the linear-idf exact-replay
    // form (log idf is libm-bound); dataset-card topic signals
    QuerySpec("text_keywords", (s, dir) =>
      TextFunctions.keywords(Tables.load(s, dir, "documents"), 5)
        .orderBy(col("doc_id"), col("rank")),
      // mirrors TextFunctions.keywords: tf over all occurrences, df from
      // the distinct (doc, word) pairs, score = tf · (N/df) with the same
      // op order, ties score-desc then word-asc
      Some(s"""WITH d AS (SELECT doc_id, $NORM_TEXT_SQL AS norm FROM documents),
         |t AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS word FROM d),
         |tf AS (SELECT doc_id, word, count(*) AS tf
         |       FROM t WHERE word <> '' GROUP BY 1, 2),
         |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |s AS (SELECT tf.doc_id, tf.word, tf.tf, df.df,
         |        CAST(tf.tf AS DOUBLE) * (CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) AS score
         |      FROM tf JOIN df USING (word) CROSS JOIN n),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |                                   ORDER BY score DESC, word) AS rank
         |      FROM s)
         |SELECT doc_id, CAST(rank AS BIGINT) AS rank, word, tf, df, score
         |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin)),

    QuerySpec("text_pii", (s, dir) =>
      TextFunctions.piiScan(Tables.load(s, dir, "documents")).orderBy(col("doc_id")),
      Some(s"""WITH d AS (SELECT doc_id, $NORM_TEXT_SQL AS norm FROM documents),
         |c AS (SELECT doc_id,
         |        CAST(len(regexp_extract_all(norm, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS BIGINT) AS n_email,
         |        CAST(len(regexp_extract_all(norm, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ipv4,
         |        CAST(len(regexp_extract_all(norm, '\\d{3}[- ]\\d{3,4}[- ]\\d{4}')) AS BIGINT) AS n_phone,
         |        CAST(len(regexp_extract_all(norm, '\\d{6,}')) AS BIGINT) AS n_digit_runs
         |      FROM d)
         |SELECT doc_id, n_email, n_ipv4, n_phone, n_digit_runs,
         |       (n_email + n_ipv4 + n_phone > 0) AS has_pii
         |FROM c ORDER BY doc_id""".stripMargin)),

    QuerySpec("text_repetition", (s, dir) =>
      TextFunctions.repetition(Tables.load(s, dir, "documents")).orderBy(col("doc_id")),
      Some(s"""WITH d AS (SELECT doc_id, $NORM_TEXT_SQL AS norm FROM documents),
         |b AS (SELECT doc_id, string_split(norm, ' ') AS w FROM d),
         |g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
         |               i -> concat(w[i], ' ', w[i + 1]))) AS g
         |      FROM b WHERE len(w) >= 2),
         |c AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2grams,
         |       CAST(max(c) AS BIGINT) AS top_count,
         |       ${Q6("CAST(max(c) AS DOUBLE) / sum(c)")} AS rep_ratio
         |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Gopher-style repetition profile: per doc and per n ∈ {2,3,4}, the
    // top-n-gram position fraction and the duplicate-n-gram position
    // fraction — all widths exploded from ONE tokenization pass
    QuerySpec("text_rep_profile", (s, dir) =>
      TextFunctions.repProfile(Tables.load(s, dir, "documents")).orderBy(col("doc_id")),
      // Mirrors TextFunctions.repProfile: the three gram widths from one
      // values-table cross join, per-(doc, n, gram) counts, per-(doc, n)
      // totals/top/dup sums, pivoted wide; fracs Q6-quantized at the
      // (doc, n) level exactly like the engine.
      Some(s"""WITH d AS (SELECT doc_id, string_split($NORM_TEXT_SQL, ' ') AS w FROM documents),
         |g AS (SELECT d.doc_id, n.n AS n,
         |             unnest(list_transform(generate_series(1, len(w) - n.n + 1),
         |               i -> array_to_string(w[i:i+n.n-1], ' '))) AS g
         |      FROM d, (SELECT unnest([2, 3, 4]) AS n) n
         |      WHERE len(w) >= n.n),
         |pg AS (SELECT doc_id, n, g, count(*) AS c FROM g GROUP BY 1, 2, 3),
         |pn AS (SELECT doc_id, n, sum(c) AS total, max(c) AS topc,
         |              sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dupc
         |       FROM pg GROUP BY 1, 2),
         |pq AS (SELECT doc_id, n, total,
         |              ${Q6("CAST(topc AS DOUBLE) / total")} AS top_frac,
         |              ${Q6("CAST(dupc AS DOUBLE) / total")} AS dup_frac
         |       FROM pn)
         |SELECT doc_id,
         |       CAST(max(CASE WHEN n = 2 THEN total END) AS BIGINT) AS n2_grams,
         |       max(CASE WHEN n = 2 THEN top_frac END) AS top2_frac,
         |       max(CASE WHEN n = 2 THEN dup_frac END) AS dup2_frac,
         |       CAST(max(CASE WHEN n = 3 THEN total END) AS BIGINT) AS n3_grams,
         |       max(CASE WHEN n = 3 THEN top_frac END) AS top3_frac,
         |       max(CASE WHEN n = 3 THEN dup_frac END) AS dup3_frac,
         |       CAST(max(CASE WHEN n = 4 THEN total END) AS BIGINT) AS n4_grams,
         |       max(CASE WHEN n = 4 THEN top_frac END) AS top4_frac,
         |       max(CASE WHEN n = 4 THEN dup_frac END) AS dup4_frac
         |FROM pq GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // C4-style blocklist policy stage: per-doc hit count/fraction and
    // the any-hit flag, lexicon inlined into one codegen filter pass
    QuerySpec("text_blocklist", (s, dir) =>
      TextFunctions.blocklist(Tables.load(s, dir, "documents"),
          Seq("slow", "stale", "dup", "skew"))
        .orderBy(col("doc_id")),
      // Mirrors TextFunctions.blocklist with the registered lexicon.
      Some(s"""WITH b AS (SELECT doc_id, string_split($NORM_TEXT_SQL, ' ') AS w FROM documents),
         |f AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
         |        CAST(len(list_filter(w, x -> x IN ('slow', 'stale', 'dup', 'skew'))) AS BIGINT) AS n_flagged
         |      FROM b)
         |SELECT doc_id, n_words, n_flagged,
         |       ${Q6("CAST(n_flagged AS DOUBLE) / n_words")} AS flagged_frac,
         |       n_flagged > 0 AS flagged
         |FROM f ORDER BY doc_id""".stripMargin)),

    // sliding-window chunker (32-word chunks, 8-word overlap): docs →
    // fixed-context windows, tail unpadded; mm_chunks' text sibling
    QuerySpec("text_chunk", (s, dir) =>
      TextFunctions.chunk(Tables.load(s, dir, "documents"), 32, 8)
        .orderBy(col("doc_id"), col("chunk_idx")),
      // Mirrors TextFunctions.chunk at (32, 8): stride 24, per-doc chunk
      // grid exploded, inclusive-slice windows, unpadded tail.
      Some(s"""WITH b AS (SELECT doc_id, string_split($NORM_TEXT_SQL, ' ') AS w FROM documents),
         |n AS (SELECT doc_id, w,
         |        CASE WHEN len(w) <= 32 THEN 1
         |             ELSE 1 + (len(w) - 32 + 23) // 24 END AS nc
         |      FROM b),
         |c AS (SELECT doc_id, w,
         |        unnest(generate_series(0, nc - 1)) AS chunk_idx
         |      FROM n)
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |       CAST(chunk_idx * 24 + 1 AS BIGINT) AS start_word,
         |       CAST(least(32, len(w) - (chunk_idx * 24 + 1) + 1) AS BIGINT) AS n_words,
         |       array_to_string(w[(chunk_idx * 24 + 1):(chunk_idx * 24 + 32)], ' ') AS chunk_text
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)),

    QuerySpec("sample_stratified", (s, dir) =>
      TextFunctions.sampleStratified(Tables.load(s, dir, "documents"), "source", 0.3)
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, source AS stratum FROM documents
        |WHERE substring(md5(concat(source, '|', CAST(doc_id AS VARCHAR))), 1, 2) < '4d'
        |ORDER BY doc_id""".stripMargin)),

    QuerySpec("sample_fixed", (s, dir) =>
      TextFunctions.sampleFixed(Tables.load(s, dir, "documents"), 100)
        .orderBy(col("rank_key"), col("doc_id")),
      Some("""SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS rank_key
        |FROM documents ORDER BY rank_key, doc_id LIMIT 100""".stripMargin)),

    // importance sampling: keep-probability = rate × quality_score
    // deterministic train/val/test assignment: 16-bit md5 fraction vs
    // fixed hex cuts — 1% val, 1% test, the rest train; adding docs
    // never moves an existing one between splits
    QuerySpec("sample_split", (s, dir) =>
      TextFunctions.sampleSplit(Tables.load(s, dir, "documents"), 0.01, 0.01)
        .orderBy(col("doc_id")),
      // mirrors TextFunctions.sampleSplit at (0.01, 0.01): cuts 655 = 0x028f
      // and 1310 = 0x051e on the domain-tagged 16-bit md5 fraction
      Some("""SELECT doc_id,
        |       CASE WHEN substring(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4) < '028f' THEN 'val'
        |            WHEN substring(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4) < '051e' THEN 'test'
        |            ELSE 'train' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin)),

    QuerySpec("sample_weighted", (s, dir) =>
      TextFunctions.sampleWeighted(Tables.load(s, dir, "documents"), 0.5)
        .orderBy(col("doc_id")),
      Some(s"""WITH d AS (SELECT doc_id, $NORM_TEXT_SQL AS norm FROM documents),
         |b AS (SELECT doc_id, norm, string_split(norm, ' ') AS w FROM d),
         |c AS (SELECT doc_id,
         |        CAST(len(w) AS BIGINT) AS n_words,
         |        CAST(length(norm) AS BIGINT) AS n_chars,
         |        len(list_filter(w, x -> x IN ('the', 'a', 'is', 'and', 'of', 'to', 'in'))) AS n_stop,
         |        len(regexp_extract_all(norm, '[^a-z0-9 ]')) AS n_punct
         |      FROM b),
         |q AS (SELECT doc_id, ${Q6(QSCORE_SQL)} AS quality_score FROM c)
         |SELECT doc_id, quality_score
         |FROM q
         |WHERE floor(0.5 * quality_score * 65536) >= 65536
         |   OR substring(md5('w|' || CAST(doc_id AS VARCHAR)), 1, 4)
         |      < printf('%04x', CAST(least(floor(0.5 * quality_score * 65536), 65535.0) AS INT))
         |ORDER BY doc_id""".stripMargin)),

    // eval-integrity audit: per eval split, how many documents have a
    // verified near-dup in train (leaked — the model has effectively
    // seen them) — decides whether the split must re-draw on clusters
    QuerySpec("split_leakage", (s, dir) =>
      TextFunctions.splitLeakage(Tables.load(s, dir, "documents"), 0.2, 0.1)
        .orderBy(col("split")),
      // Mirrors TextFunctions.splitLeakage: the frozen md5 split at
      // (0.2, 0.1) — cuts floor(0.2·65536) = 0x3333, floor(0.3·65536) =
      // 0x4ccc — the exact trigram-Jaccard pair set, symmetrized, and the
      // per-eval-split leaked rollup.
      Some(s"""WITH docs AS (SELECT doc_id, string_split($NORM_TEXT_SQL, ' ') AS w FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
         |               i -> concat(w[i], ' ', w[i + 1], ' ', w[i + 2]))) AS s
         |       FROM docs WHERE len(w) >= 3),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |             len(list_intersect(a.s, b.s)) AS inter, len(a.s) AS la, len(b.s) AS lb
         |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
         |pr AS (SELECT id_a, id_b FROM p
         |       WHERE inter > 0 AND CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.8),
         |sp AS (SELECT doc_id,
         |         CASE WHEN substring(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4) < '3333' THEN 'val'
         |              WHEN substring(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4) < '4ccc' THEN 'test'
         |              ELSE 'train' END AS split
         |       FROM documents),
         |sym AS (SELECT id_a, id_b FROM pr UNION ALL SELECT id_b, id_a FROM pr),
         |lk AS (SELECT DISTINCT s.id_a AS doc_id FROM sym s
         |       JOIN sp a ON a.doc_id = s.id_a JOIN sp b ON b.doc_id = s.id_b
         |       WHERE a.split <> 'train' AND b.split = 'train')
         |SELECT sp.split AS split, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN lk.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked,
         |       ${Q6("CAST(sum(CASE WHEN lk.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")} AS leak_frac
         |FROM sp LEFT JOIN lk USING (doc_id) WHERE sp.split <> 'train'
         |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // the remediation split_leakage points at: split hash computed on
    // the near-dup CLUSTER id (shared clusters() labels), so a whole
    // duplicate group lands on one side — cross-split near-dup leakage
    // structurally zero at the pair threshold; singletons split exactly
    // like sample_split with cluster_id = doc_id
    QuerySpec("sample_split_clustered", (s, dir) =>
      TextFunctions.sampleSplitClustered(Tables.load(s, dir, "documents"), 0.2, 0.1)
        .orderBy(col("doc_id")),
      // Mirrors TextFunctions.sampleSplitClustered at (0.2, 0.1): the
      // shared exact-Jaccard reachability CTEs label every doc with its
      // near-dup cluster (singletons = own id), then the sample_split hex
      // cuts (floor(0.2·65536) = 0x3333, floor(0.3·65536) = 0x4ccc) apply
      // to the CLUSTER id — the whole duplicate group co-splits.
      Some(s"""$DEDUP_CLUSTER_CTES,
         |cl AS (SELECT d.doc_id AS doc_id,
         |              coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |       FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id)
         |SELECT doc_id, cluster_id,
         |       CASE WHEN substring(md5('split|' || CAST(cluster_id AS VARCHAR)), 1, 4) < '3333' THEN 'val'
         |            WHEN substring(md5('split|' || CAST(cluster_id AS VARCHAR)), 1, 4) < '4ccc' THEN 'test'
         |            ELSE 'train' END AS split
         |FROM cl ORDER BY doc_id""".stripMargin)),

    // the remediation's closure audit: split_leakage re-measured over
    // the clustered split — n_leaked is structurally zero while split
    // and pair graph agree; registering it (vs asserting the theorem)
    // is the re-runnable acceptance check that fires if they drift
    QuerySpec("split_leakage_clustered", (s, dir) =>
      TextFunctions.splitLeakageClustered(Tables.load(s, dir, "documents"), 0.2, 0.1)
        .orderBy(col("split")),
      // Mirrors TextFunctions.splitLeakageClustered at (0.2, 0.1): the
      // cluster CTEs label every doc, the hex cuts apply to cluster_id,
      // and the split_leakage audit chain re-runs over the SAME exact-
      // Jaccard pair set `e` the clusters were built from — n_leaked is
      // structurally zero, n_docs per eval split is the real signal.
      Some(s"""$DEDUP_CLUSTER_CTES,
         |cl AS (SELECT d.doc_id AS doc_id,
         |              coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |       FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id),
         |sp AS (SELECT doc_id,
         |         CASE WHEN substring(md5('split|' || CAST(cluster_id AS VARCHAR)), 1, 4) < '3333' THEN 'val'
         |              WHEN substring(md5('split|' || CAST(cluster_id AS VARCHAR)), 1, 4) < '4ccc' THEN 'test'
         |              ELSE 'train' END AS split
         |       FROM cl),
         |lsym AS (SELECT id_a, id_b FROM e UNION ALL SELECT id_b, id_a FROM e),
         |lk AS (SELECT DISTINCT s.id_a AS doc_id FROM lsym s
         |       JOIN sp a ON a.doc_id = s.id_a JOIN sp b ON b.doc_id = s.id_b
         |       WHERE a.split <> 'train' AND b.split = 'train')
         |SELECT sp.split AS split, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN lk.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked,
         |       ${Q6("CAST(sum(CASE WHEN lk.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")} AS leak_frac
         |FROM sp LEFT JOIN lk USING (doc_id) WHERE sp.split <> 'train'
         |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // class balancing: exactly n docs per source, two-phase bounded rank
    QuerySpec("sample_balanced", (s, dir) =>
      TextFunctions.sampleBalanced(Tables.load(s, dir, "documents"), "source", 10)
        .orderBy(col("doc_id")),
      // balanced sample: the single-window rank reference the two-phase
      // bounded rank must equal
      Some(s"""WITH d AS (SELECT doc_id, source AS stratum,
         |                  md5(CAST(doc_id AS VARCHAR)) AS rank_key
         |           FROM documents),
         |r AS (SELECT *, row_number() OVER (PARTITION BY stratum
         |                                   ORDER BY rank_key, doc_id) AS rnk
         |      FROM d)
         |SELECT doc_id, stratum, rank_key, CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= 10 ORDER BY doc_id""".stripMargin)),

    QuerySpec("corpus_budget", (s, dir) =>
      TextFunctions.tokenBudget(Tables.load(s, dir, "documents"), "source", 3000L)
        .orderBy(col("doc_id")),
      Some(s"""WITH d AS (SELECT doc_id, source AS stratum,
         |                  len(string_split($NORM_TEXT_SQL, ' ')) AS n_tokens,
         |                  md5(CAST(doc_id AS VARCHAR)) AS rank_key
         |           FROM documents),
         |c AS (SELECT doc_id, stratum, CAST(n_tokens AS BIGINT) AS n_tokens,
         |             CAST(sum(n_tokens) OVER (PARTITION BY stratum
         |                                      ORDER BY rank_key, doc_id
         |                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |               AS cum_tokens
         |      FROM d)
         |SELECT doc_id, stratum, n_tokens, cum_tokens
         |FROM c WHERE cum_tokens <= 3000 ORDER BY doc_id""".stripMargin)),

    // sequence packing: each doc's (pack_id, pack_offset) in the
    // fixed-capacity training-sequence stream per source
    QuerySpec("corpus_pack", (s, dir) =>
      TextFunctions.tokenPack(Tables.load(s, dir, "documents"), "source", 512L)
        .orderBy(col("doc_id")),
      // pack arithmetic over the same per-stratum running sum: start = cum−n
      Some(s"""WITH d AS (SELECT doc_id, source AS stratum,
         |                  len(string_split($NORM_TEXT_SQL, ' ')) AS n_tokens,
         |                  md5(CAST(doc_id AS VARCHAR)) AS rank_key
         |           FROM documents),
         |c AS (SELECT doc_id, stratum, CAST(n_tokens AS BIGINT) AS n_tokens,
         |             CAST(sum(n_tokens) OVER (PARTITION BY stratum
         |                                      ORDER BY rank_key, doc_id
         |                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |               - CAST(n_tokens AS BIGINT) AS start_tok
         |      FROM d)
         |SELECT doc_id, stratum, n_tokens,
         |       start_tok // 512 AS pack_id, start_tok % 512 AS pack_offset
         |FROM c ORDER BY doc_id""".stripMargin)),

    // temperature-smoothed source mixture (p_i ∝ n_i^(1/2)): the
    // low-resource-upweighting data-mixing allocator over the same
    // deterministic prefix-sum fill as corpus_budget
    QuerySpec("corpus_mix", (s, dir) =>
      TextFunctions.tokenMixture(Tables.load(s, dir, "documents"), "source", 10000L)
        .orderBy(col("doc_id")),
      // temperature mixture: sqrt-smoothed shares folded in stratum order
      // (ONE association order for the float denominator on both engines),
      // then the same per-stratum running-sum fill as corpus_budget
      Some(s"""WITH d AS (SELECT doc_id, source AS stratum,
         |                  len(string_split($NORM_TEXT_SQL, ' ')) AS n_tokens,
         |                  md5(CAST(doc_id AS VARCHAR)) AS rank_key
         |           FROM documents),
         |m AS (SELECT stratum, sum(n_tokens) AS st FROM d GROUP BY 1),
         |w AS (SELECT stratum, sqrt(CAST(st AS DOUBLE)) AS wgt,
         |             sum(sqrt(CAST(st AS DOUBLE))) OVER (ORDER BY stratum
         |               ROWS UNBOUNDED PRECEDING) AS cum_w
         |      FROM m),
         |den AS (SELECT max(cum_w) AS denom FROM w),
         |b AS (SELECT stratum, CAST(floor(10000 * wgt / denom) AS BIGINT) AS stratum_budget
         |      FROM w CROSS JOIN den),
         |c AS (SELECT doc_id, stratum, CAST(n_tokens AS BIGINT) AS n_tokens,
         |             CAST(sum(n_tokens) OVER (PARTITION BY stratum
         |                                      ORDER BY rank_key, doc_id
         |                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |               AS cum_tokens
         |      FROM d)
         |SELECT c.doc_id AS doc_id, c.stratum AS stratum, c.n_tokens AS n_tokens,
         |       c.cum_tokens AS cum_tokens, b.stratum_budget AS stratum_budget
         |FROM c JOIN b ON c.stratum = b.stratum
         |WHERE c.cum_tokens <= b.stratum_budget ORDER BY doc_id""".stripMargin)),

    // per-source epoch planning: the repeats-per-source table a token
    // budget implies under the sqrt-weighted mixture — epochs > 1 is the
    // data-constrained multi-epoch regime, < 1 is subsampling
    QuerySpec("corpus_epochs", (s, dir) =>
      TextFunctions.tokenEpochs(Tables.load(s, dir, "documents"), "source", 10000L)
        .orderBy(col("source")),
      // Mirrors TextFunctions.tokenEpochs: the corpus_mix mass + sqrt-share
      // CTEs rolled up at stratum cardinality, epochs = one IEEE division
      // of the floored target by the integer mass.
      Some(s"""WITH d AS (SELECT source AS stratum,
         |                  len(string_split($NORM_TEXT_SQL, ' ')) AS n_tokens
         |           FROM documents),
         |m AS (SELECT stratum, count(*) AS n_docs, sum(n_tokens) AS st FROM d GROUP BY 1),
         |w AS (SELECT stratum, n_docs, st, sqrt(CAST(st AS DOUBLE)) AS wgt,
         |             sum(sqrt(CAST(st AS DOUBLE))) OVER (ORDER BY stratum
         |               ROWS UNBOUNDED PRECEDING) AS cum_w
         |      FROM m),
         |den AS (SELECT max(cum_w) AS denom FROM w)
         |SELECT stratum AS source, CAST(n_docs AS BIGINT) AS n_docs,
         |       CAST(st AS BIGINT) AS n_tokens,
         |       ${Q6("wgt / denom")} AS budget_share,
         |       CAST(floor(10000 * wgt / denom) AS BIGINT) AS target_tokens,
         |       ${Q6("CAST(floor(10000 * wgt / denom) AS DOUBLE) / st")} AS epochs
         |FROM w CROSS JOIN den ORDER BY source""".stripMargin)),

    // the temperature sweep over the same budget: shares ∝ mass^τ for
    // τ ∈ {¼, ½, ¾, 1} (quarter powers = sqrt-composable = bit-portable
    // weights) — what each sampling temperature does to every source's
    // epoch factor, read before a mixture is committed
    QuerySpec("corpus_temperature", (s, dir) =>
      TextFunctions.temperatureMixture(Tables.load(s, dir, "documents"), "source", 10000L)
        .orderBy(col("source"), col("tau")),
      // Mirrors TextFunctions.temperatureMixture: quarter-power weights as
      // sqrt products (bit-portable, no libm pow), per-τ denominators via
      // the stratum-ordered cumulative sum (order-fixed double addition),
      // the corpus_epochs arithmetic per (source, τ).
      Some(s"""WITH d AS (SELECT source AS stratum,
         |                  len(string_split($NORM_TEXT_SQL, ' ')) AS n_tokens
         |           FROM documents),
         |m AS (SELECT stratum, count(*) AS n_docs, sum(n_tokens) AS st FROM d GROUP BY 1),
         |tv AS (SELECT unnest([0.25, 0.5, 0.75, 1.0]) AS tau),
         |w AS (SELECT stratum, n_docs, st, tau,
         |             CASE WHEN tau = 0.25 THEN sqrt(sqrt(CAST(st AS DOUBLE)))
         |                  WHEN tau = 0.5  THEN sqrt(CAST(st AS DOUBLE))
         |                  WHEN tau = 0.75 THEN sqrt(CAST(st AS DOUBLE)) * sqrt(sqrt(CAST(st AS DOUBLE)))
         |                  ELSE CAST(st AS DOUBLE) END AS wgt
         |      FROM m CROSS JOIN tv),
         |c AS (SELECT *, sum(wgt) OVER (PARTITION BY tau ORDER BY stratum
         |                               ROWS UNBOUNDED PRECEDING) AS cum_w
         |      FROM w),
         |den AS (SELECT tau, max(cum_w) AS denom FROM c GROUP BY tau)
         |SELECT stratum AS source, c.tau AS tau, CAST(n_docs AS BIGINT) AS n_docs,
         |       CAST(st AS BIGINT) AS n_tokens,
         |       ${Q6("wgt / denom")} AS budget_share,
         |       CAST(floor(10000 * wgt / denom) AS BIGINT) AS target_tokens,
         |       ${Q6("CAST(floor(10000 * wgt / denom) AS DOUBLE) / st")} AS epochs
         |FROM c JOIN den USING (tau) ORDER BY source, tau""".stripMargin)),

    // the end-to-end shard build: lang+quality+PII+dedup gates, then
    // token-budget fill per source — every stage an oracle-gated operator
    QuerySpec("corpus_shard", (s, dir) =>
      TextFunctions.corpusShard(Tables.load(s, dir, "documents"), 0.5, 3000L)
        .orderBy(col("doc_id")),
      Some(s"""WITH d AS (SELECT doc_id, source, $NORM_TEXT_SQL AS norm FROM documents),
         |b AS (SELECT doc_id, source, norm, string_split(norm, ' ') AS w FROM d),
         |c AS (SELECT doc_id,
         |        CAST(len(w) AS BIGINT) AS n_words,
         |        CAST(length(norm) AS BIGINT) AS n_chars,
         |        len(list_filter(w, x -> x IN ('the', 'a', 'is', 'and', 'of', 'to', 'in'))) AS n_stop,
         |        len(regexp_extract_all(norm, '[^a-z0-9 ]')) AS n_punct
         |      FROM b),
         |q AS (SELECT doc_id, ${Q6(QSCORE_SQL)} AS quality_score FROM c),
         |m AS (SELECT doc_id,
         |             CAST(len(list_filter(w, x -> x IN ('the', 'a', 'is', 'and'))) AS BIGINT) AS n_en,
         |             CAST(len(list_filter(w, x -> x IN ('el', 'la', 'los', 'que'))) AS BIGINT) AS n_es,
         |             CAST(len(list_filter(w, x -> x IN ('der', 'die', 'und', 'das'))) AS BIGINT) AS n_de,
         |             CAST(len(list_filter(w, x -> x IN ('le', 'les', 'et', 'une'))) AS BIGINT) AS n_fr
         |      FROM b),
         |lang AS (SELECT doc_id,
         |       CASE WHEN n_en >= n_es AND n_en >= n_de AND n_en >= n_fr AND n_en > 0 THEN 'en'
         |            WHEN n_es >= n_de AND n_es >= n_fr AND n_es > 0 THEN 'es'
         |            WHEN n_de >= n_fr AND n_de > 0 THEN 'de'
         |            WHEN n_fr > 0 THEN 'fr'
         |            ELSE 'unknown' END AS lang_pred
         |      FROM m),
         |pii AS (SELECT doc_id,
         |          (len(regexp_extract_all(norm, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}'))
         |           + len(regexp_extract_all(norm, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
         |           + len(regexp_extract_all(norm, '\\d{3}[- ]\\d{3,4}[- ]\\d{4}'))) > 0 AS has_pii
         |        FROM d),
         |k AS (SELECT doc_id, doc_id <> min(doc_id) OVER (PARTITION BY md5(norm)) AS is_dup
         |      FROM d),
         |kept AS (SELECT b.doc_id, b.source,
         |                CAST(len(b.w) AS BIGINT) AS n_tokens,
         |                md5(CAST(b.doc_id AS VARCHAR)) AS rank_key
         |         FROM b JOIN q ON b.doc_id = q.doc_id
         |                JOIN lang ON b.doc_id = lang.doc_id
         |                JOIN pii ON b.doc_id = pii.doc_id
         |                JOIN k ON b.doc_id = k.doc_id
         |         WHERE lang.lang_pred = 'en' AND q.quality_score >= 0.5
         |               AND NOT pii.has_pii AND NOT k.is_dup),
         |cum AS (SELECT doc_id, source AS stratum, n_tokens,
         |               CAST(sum(n_tokens) OVER (PARTITION BY source
         |                                        ORDER BY rank_key, doc_id
         |                                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |                 AS cum_tokens
         |        FROM kept)
         |SELECT doc_id, stratum, n_tokens, cum_tokens
         |FROM cum WHERE cum_tokens <= 3000 ORDER BY doc_id""".stripMargin)),

    // the shard build with NEAR-dedup: minhash-LSH cluster representatives
    // survive (not just exact-fingerprint uniques) before the budget fill
    QuerySpec("corpus_shard_near", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      TextFunctions.corpusShardNear(
          docs, Dedup.minhashPairs(docs, 3, 64, 2, 0.8), 0.5, 3000L)
        .orderBy(col("doc_id"))
    },
      // corpus_shard with the exact-dup gate replaced by near-dup cluster
      // representatives: the recursive-CTE connected components from
      // dedup_clusters (exact Jaccard >= 0.8 on 3-shingles — what the
      // LSH+verify pair generator equals) composed with the same gates
      Some(s"""WITH RECURSIVE
         |d AS (SELECT doc_id, source, $NORM_TEXT_SQL AS norm FROM documents),
         |b AS (SELECT doc_id, source, norm, string_split(norm, ' ') AS w FROM d),
         |c AS (SELECT doc_id,
         |        CAST(len(w) AS BIGINT) AS n_words,
         |        CAST(length(norm) AS BIGINT) AS n_chars,
         |        len(list_filter(w, x -> x IN ('the', 'a', 'is', 'and', 'of', 'to', 'in'))) AS n_stop,
         |        len(regexp_extract_all(norm, '[^a-z0-9 ]')) AS n_punct
         |      FROM b),
         |q AS (SELECT doc_id, ${Q6(QSCORE_SQL)} AS quality_score FROM c),
         |m AS (SELECT doc_id,
         |             CAST(len(list_filter(w, x -> x IN ('the', 'a', 'is', 'and'))) AS BIGINT) AS n_en,
         |             CAST(len(list_filter(w, x -> x IN ('el', 'la', 'los', 'que'))) AS BIGINT) AS n_es,
         |             CAST(len(list_filter(w, x -> x IN ('der', 'die', 'und', 'das'))) AS BIGINT) AS n_de,
         |             CAST(len(list_filter(w, x -> x IN ('le', 'les', 'et', 'une'))) AS BIGINT) AS n_fr
         |      FROM b),
         |lang AS (SELECT doc_id,
         |       CASE WHEN n_en >= n_es AND n_en >= n_de AND n_en >= n_fr AND n_en > 0 THEN 'en'
         |            WHEN n_es >= n_de AND n_es >= n_fr AND n_es > 0 THEN 'es'
         |            WHEN n_de >= n_fr AND n_de > 0 THEN 'de'
         |            WHEN n_fr > 0 THEN 'fr'
         |            ELSE 'unknown' END AS lang_pred
         |      FROM m),
         |pii AS (SELECT doc_id,
         |          (len(regexp_extract_all(norm, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}'))
         |           + len(regexp_extract_all(norm, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
         |           + len(regexp_extract_all(norm, '\\d{3}[- ]\\d{3,4}[- ]\\d{4}'))) > 0 AS has_pii
         |        FROM d),
         |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
         |               i -> concat(w[i], ' ', w[i + 1], ' ', w[i + 2]))) AS s
         |       FROM b WHERE len(w) >= 3),
         |p AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
         |             len(list_intersect(a.s, b2.s)) AS inter, len(a.s) AS la, len(b2.s) AS lb
         |      FROM sh a JOIN sh b2 ON a.doc_id < b2.doc_id),
         |e AS (SELECT id_a, id_b FROM p
         |      WHERE inter > 0 AND CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.8),
         |sym AS (SELECT id_a AS src, id_b AS dst FROM e
         |        UNION ALL SELECT id_b, id_a FROM e),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM sym
         |  UNION
         |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
         |lbl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |        FROM reach GROUP BY src),
         |kept AS (SELECT b.doc_id, b.source,
         |                CAST(len(b.w) AS BIGINT) AS n_tokens,
         |                md5(CAST(b.doc_id AS VARCHAR)) AS rank_key
         |         FROM b JOIN q ON b.doc_id = q.doc_id
         |                JOIN lang ON b.doc_id = lang.doc_id
         |                JOIN pii ON b.doc_id = pii.doc_id
         |                LEFT JOIN lbl ON b.doc_id = lbl.doc_id
         |         WHERE lang.lang_pred = 'en' AND q.quality_score >= 0.5
         |               AND NOT pii.has_pii
         |               AND coalesce(lbl.cluster_id, b.doc_id) = b.doc_id),
         |cum AS (SELECT doc_id, source AS stratum, n_tokens,
         |               CAST(sum(n_tokens) OVER (PARTITION BY source
         |                                        ORDER BY rank_key, doc_id
         |                                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |                 AS cum_tokens
         |        FROM kept)
         |SELECT doc_id, stratum, n_tokens, cum_tokens
         |FROM cum WHERE cum_tokens <= 3000 ORDER BY doc_id""".stripMargin)),

    QuerySpec("corpus_stats", (s, dir) =>
      TextFunctions.corpusStats(Tables.load(s, dir, "documents"))
        .orderBy(col("lang"), col("source")),
      Some(s"""WITH d AS (SELECT doc_id, lang, source, $NORM_TEXT_SQL AS norm FROM documents),
         |b AS (SELECT doc_id, lang, source, norm, string_split(norm, ' ') AS w FROM d),
         |c AS (SELECT doc_id, lang, source,
         |        CAST(len(w) AS BIGINT) AS n_words,
         |        CAST(length(norm) AS BIGINT) AS n_chars,
         |        len(list_filter(w, x -> x IN ('the', 'a', 'is', 'and', 'of', 'to', 'in'))) AS n_stop,
         |        len(regexp_extract_all(norm, '[^a-z0-9 ]')) AS n_punct
         |      FROM b),
         |q AS (SELECT doc_id, lang, source, n_words,
         |        ${Q6(QSCORE_SQL)} AS quality_score
         |      FROM c)
         |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_words) AS BIGINT) AS sum_words,
         |       ${MEAN6("sum(n_words * 1000000)", "count(*)")} AS avg_words,
         |       ${MEAN6(s"sum(${US6("quality_score")})", "count(*)")} AS avg_quality
         |FROM q GROUP BY 1, 2 ORDER BY lang, source""".stripMargin)),

    // tokenizer fertility per (lang, source): BPE-ish tokens per word,
    // chars per token — the multilingual tokenizer-health report
    QuerySpec("corpus_fertility", (s, dir) =>
      TextFunctions.fertility(Tables.load(s, dir, "documents"))
        .orderBy(col("lang"), col("source")),
      // mirrors TextFunctions.fertility: tokenStats' exact token defs,
      // quantized integer-ratio means (HUGEINT ≡ the engine's DECIMAL)
      Some(s"""WITH d AS (SELECT doc_id, lang, source, $NORM_TEXT_SQL AS norm FROM documents),
         |c AS (SELECT lang, source,
         |        CAST(len(string_split(norm, ' ')) AS BIGINT) AS ws,
         |        CAST(len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe,
         |        CAST(length(norm) AS BIGINT) AS chars
         |      FROM d)
         |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(bpe) AS BIGINT) AS n_tokens,
         |       ${MEAN6("sum(bpe) * CAST(1000000 AS HUGEINT)", "sum(ws)")} AS tokens_per_word,
         |       ${MEAN6("sum(chars) * CAST(1000000 AS HUGEINT)", "sum(bpe)")} AS chars_per_token
         |FROM c GROUP BY 1, 2 ORDER BY lang, source""".stripMargin)),

    // doc-length histogram per source (64-token buckets): the packing
    // planner's input
    QuerySpec("corpus_len_hist", (s, dir) =>
      TextFunctions.lengthHistogram(Tables.load(s, dir, "documents"), 64)
        .orderBy(col("source"), col("bucket_lo")),
      // mirrors TextFunctions.lengthHistogram: whitespace tokens DIV 64
      Some(s"""WITH d AS (SELECT source, $NORM_TEXT_SQL AS norm FROM documents),
         |b AS (SELECT source, CAST(len(string_split(norm, ' ')) // 64 AS BIGINT) AS bucket FROM d)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(bucket * 64 AS BIGINT) AS bucket_lo
         |FROM b GROUP BY source, bucket
         |ORDER BY source, bucket_lo""".stripMargin)),

    // dataset-card redundancy: per-source duplicate fraction
    QuerySpec("corpus_dup_stats", (s, dir) =>
      TextFunctions.dupStats(Tables.load(s, dir, "documents"))
        .orderBy(col("source")),
      Some(s"""WITH d AS (SELECT source, md5($NORM_TEXT_SQL) AS fp FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
         |       ${Q6("1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*)")} AS dup_rate
         |FROM d GROUP BY source ORDER BY source""".stripMargin)),

    // per-source NEAR-dup rate: fraction of each source's docs that are
    // non-representative members of a near-dup cluster — the dataset-card
    // redundancy number the exact-fingerprint dup_rate understates
    QuerySpec("corpus_dup_stats_near", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.clusters(docs, Dedup.minhashPairs(docs, 3, 64, 2, 0.8))
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("cluster_id") =!= col("doc_id"), 1L).otherwise(0L))
            .as("n_near_dups"))
        .select(col("source"), col("n_docs"), col("n_near_dups"),
          graft.Quant.q6(col("n_near_dups").cast("double") / col("n_docs").cast("double"))
            .as("near_dup_rate"))
        .orderBy(col("source"))
    },
      // mirrors the registered near-dup rate: the dedup_clusters recursive
      // reachability, every doc labeled, per-source non-representative rate
      Some(s"""WITH RECURSIVE
         |docs AS (SELECT doc_id, string_split($NORM_TEXT_SQL, ' ') AS w FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
         |               i -> concat(w[i], ' ', w[i + 1], ' ', w[i + 2]))) AS s
         |       FROM docs WHERE len(w) >= 3),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |             len(list_intersect(a.s, b.s)) AS inter, len(a.s) AS la, len(b.s) AS lb
         |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
         |e AS (SELECT id_a, id_b FROM p
         |      WHERE inter > 0 AND CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.8),
         |sym AS (SELECT id_a AS src, id_b AS dst FROM e
         |        UNION ALL SELECT id_b, id_a FROM e),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM sym
         |  UNION
         |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
         |lbl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |        FROM reach GROUP BY src),
         |cl AS (SELECT d2.doc_id, d2.source,
         |              coalesce(lbl.cluster_id, d2.doc_id) AS cluster_id
         |       FROM documents d2 LEFT JOIN lbl ON d2.doc_id = lbl.doc_id)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN cluster_id <> doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_near_dups,
         |       ${Q6("CAST(sum(CASE WHEN cluster_id <> doc_id THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")}
         |         AS near_dup_rate
         |FROM cl GROUP BY source ORDER BY source""".stripMargin)),

    // Heaps-law vocabulary growth: distinct types at 10%/50%/100%
    // hash-order corpus prefixes, one pass via per-word min doc-hash
    QuerySpec("corpus_vocab_growth", (s, dir) =>
      TextFunctions.vocabGrowth(Tables.load(s, dir, "documents"), Seq(0.1, 0.5, 1.0))
        .orderBy(col("frac")),
      // mirrors TextFunctions.vocabGrowth at (0.1, 0.5, 1.0): per-word min
      // 4-hex doc hash, cuts 6553→'1999' and 32768→'8000'
      Some(s"""WITH d AS (SELECT doc_id, $NORM_TEXT_SQL AS norm FROM documents),
         |h AS (SELECT doc_id, substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h,
         |             string_split(norm, ' ') AS w FROM d),
         |wm AS (SELECT word, min(h) AS h_min
         |       FROM (SELECT h, unnest(list_distinct(w)) AS word FROM h)
         |       GROUP BY word),
         |v AS (SELECT sum(CASE WHEN h_min < '1999' THEN 1 ELSE 0 END) AS v10,
         |             sum(CASE WHEN h_min < '8000' THEN 1 ELSE 0 END) AS v50,
         |             count(*) AS v100 FROM wm),
         |dc AS (SELECT sum(CASE WHEN h < '1999' THEN 1 ELSE 0 END) AS d10,
         |              sum(CASE WHEN h < '8000' THEN 1 ELSE 0 END) AS d50,
         |              count(*) AS d100 FROM h)
         |SELECT 0.1 AS frac, CAST(d10 AS BIGINT) AS n_docs, CAST(v10 AS BIGINT) AS n_types FROM v, dc
         |UNION ALL SELECT 0.5, CAST(d50 AS BIGINT), CAST(v50 AS BIGINT) FROM v, dc
         |UNION ALL SELECT 1.0, CAST(d100 AS BIGINT), CAST(v100 AS BIGINT) FROM v, dc
         |ORDER BY frac""".stripMargin)),

    QuerySpec("corpus_vocab", (s, dir) =>
      TextFunctions.vocab(Tables.load(s, dir, "documents"), 100)
        .orderBy(col("doc_freq").desc, col("word")),
      Some(s"""WITH d AS (SELECT doc_id, $NORM_TEXT_SQL AS norm FROM documents),
         |w AS (SELECT unnest(list_distinct(string_split(norm, ' '))) AS word FROM d)
         |SELECT word, CAST(count(*) AS BIGINT) AS doc_freq
         |FROM w GROUP BY word ORDER BY doc_freq DESC, word LIMIT 100""".stripMargin)),

    // Zipf rank-frequency curve at power-of-two ranks — the corpus-health
    // fingerprint in exact integers (successive halvings ≈ Zipfian)
    QuerySpec("text_zipf_curve", (s, dir) =>
      TextFunctions.zipfCurve(Tables.load(s, dir, "documents"))
        .orderBy(col("rank")),
      // Mirrors TextFunctions.zipfCurve: token frequencies, rank by
      // (tf DESC, word), keep power-of-two ranks ≤ 1024.
      Some(s"""WITH d AS (SELECT doc_id, $NORM_TEXT_SQL AS norm FROM documents),
         |w AS (SELECT unnest(string_split(norm, ' ')) AS word FROM d),
         |tf AS (SELECT word, count(*) AS tf FROM w GROUP BY word
         |       ORDER BY tf DESC, word LIMIT 1024),
         |r AS (SELECT word, tf,
         |             row_number() OVER (ORDER BY tf DESC, word) AS rank
         |      FROM tf)
         |SELECT CAST(rank AS BIGINT) AS rank, word, CAST(tf AS BIGINT) AS tf
         |FROM r WHERE (rank & (rank - 1)) = 0 ORDER BY rank""".stripMargin)),

    QuerySpec("text_ttr", (s, dir) =>
      TextFunctions.lexicalDiversity(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      Some(s"""WITH d AS (SELECT doc_id, $NORM_TEXT_SQL AS norm FROM documents),
         |b AS (SELECT doc_id, string_split(norm, ' ') AS w FROM d),
         |c AS (SELECT doc_id, w, list_distinct(w) AS types FROM b),
         |h AS (SELECT doc_id, w, types,
         |        len(list_filter(types, x -> len(list_filter(w, y -> y = x)) = 1)) AS n_hapax
         |      FROM c)
         |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
         |       CAST(len(types) AS BIGINT) AS n_types,
         |       CAST(n_hapax AS BIGINT) AS n_hapax,
         |       ${Q6("CAST(len(types) AS DOUBLE) / len(w)")} AS ttr,
         |       ${Q6("CAST(n_hapax AS DOUBLE) / len(types)")} AS hapax_ratio
         |FROM h ORDER BY doc_id""".stripMargin)),

    // word-length stats — the tokenizer-health / gibberish signal
    QuerySpec("text_wordlen", (s, dir) =>
      TextFunctions.wordLengthStats(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      Some(s"""WITH d AS (SELECT doc_id, $NORM_TEXT_SQL AS norm,
         |                  string_split($NORM_TEXT_SQL, ' ') AS w FROM documents)
         |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
         |       CAST(list_max(list_transform(w, x -> length(x))) AS BIGINT) AS max_word_len,
         |       ${MEAN6("(length(norm) - len(w) + 1) * 1000000", "len(w)")} AS mean_word_len
         |FROM d ORDER BY doc_id""".stripMargin)),

    // sentence-level readability proxies (Flesch-style, syllable-free)
    QuerySpec("text_readability", (s, dir) =>
      TextFunctions.readability(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      // Σ len(word) = len(norm) − (n_words − 1): norm is single-space-joined
      Some(s"""WITH d AS (SELECT doc_id, $NORM_TEXT_SQL AS norm FROM documents),
         |b AS (SELECT doc_id, norm, string_split(norm, ' ') AS w FROM d),
         |c AS (SELECT doc_id,
         |        CAST(len(w) AS BIGINT) AS n_words,
         |        CAST(len(regexp_extract_all(norm, '[.!?]+')) AS BIGINT) AS n_sentences,
         |        length(replace(norm, ' ', '')) AS n_nospace
         |      FROM b)
         |SELECT doc_id, n_words, n_sentences,
         |       ${Q6("CAST(n_words AS DOUBLE) / CAST(greatest(n_sentences, 1) AS DOUBLE)")}
         |         AS words_per_sentence,
         |       ${Q6("CAST(n_nospace AS DOUBLE) / n_words")} AS chars_per_word
         |FROM c ORDER BY doc_id""".stripMargin)),

    // char-level Shannon entropy — compressibility signal; log2 is
    // libm-dependent, so rows-only at the driver (spec-gated locally)
    QuerySpec("text_entropy", (s, dir) =>
      TextFunctions.charEntropy(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      // no oracle: libm log2, see above
      oracle = None),

    // the pre-log fingerprint of the same operator: sorted exact
    // (char, count) profiles — all-integer, fully hash-gated, leaving
    // log2 display-only on text_entropy
    QuerySpec("text_entropy_freq", (s, dir) =>
      TextFunctions.charFreqProfile(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      // Mirrors TextFunctions.charFreqProfile: per-char exact counts over
      // the normalized text, serialized sorted by char (binary UTF-8 order
      // in both engines; DuckDB's string_split('','') = [''] matches
      // Spark's split semantics on empty docs). All-integer — the pre-log
      // face of text_entropy, hash-gated where entropy_bits cannot be.
      Some(s"""WITH d AS (SELECT doc_id, $NORM_TEXT_SQL AS norm FROM documents),
         |ch AS (SELECT doc_id, length(norm) AS n,
         |              unnest(string_split(norm, '')) AS ch FROM d),
         |cc AS (SELECT doc_id, n, ch, count(*) AS c
         |       FROM ch GROUP BY doc_id, n, ch)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
         |       CAST(count(*) AS BIGINT) AS n_distinct_chars,
         |       string_agg(ch || ':' || c, '|' ORDER BY ch) AS freq_profile
         |FROM cc GROUP BY doc_id, n ORDER BY doc_id""".stripMargin)),

    // shared-10-word-prefix groups — template/boilerplate detection
    QuerySpec("dedup_prefix", (s, dir) =>
      Dedup.prefixGroups(Tables.load(s, dir, "documents"), 10)
        .orderBy(col("doc_id")),
      Some(s"""WITH d AS (SELECT doc_id, string_split($NORM_TEXT_SQL, ' ') AS w FROM documents),
         |p AS (SELECT doc_id, md5(array_to_string(list_slice(w, 1, 10), ' ')) AS pfp
         |      FROM d WHERE len(w) >= 10),
         |g AS (SELECT doc_id, pfp,
         |        min(doc_id) OVER (PARTITION BY pfp) AS group_id,
         |        count(*) OVER (PARTITION BY pfp) AS n_shared
         |      FROM p)
         |SELECT doc_id, pfp, group_id, CAST(n_shared AS BIGINT) AS n_shared
         |FROM g WHERE n_shared > 1 ORDER BY doc_id""".stripMargin)),

    // bigram collocations by the word2vec phrase score — which word pairs
    // should merge into single tokens before training
    QuerySpec("text_phrases", (s, dir) =>
      TextFunctions.phrases(Tables.load(s, dir, "documents"))
        .orderBy(col("score").desc, col("w1"), col("w2")),
      // mirrors TextFunctions.phrases: occurrence counts (not distinct docs),
      // the δ=5-discounted lift assembled from exact longs, ONE double division
      Some(s"""WITH d AS (SELECT string_split($NORM_TEXT_SQL, ' ') AS w FROM documents),
         |t AS (SELECT unnest(w) AS tok FROM d),
         |u AS (SELECT tok, count(*) AS n FROM t GROUP BY tok),
         |tot AS (SELECT count(*) AS n_total FROM t),
         |bi AS (SELECT unnest(list_transform(generate_series(1, greatest(len(w) - 1, 0)),
         |               i -> concat(w[i], ' ', w[i + 1]))) AS pair
         |       FROM d WHERE len(w) >= 2),
         |bc AS (SELECT pair, count(*) AS n_ab FROM bi GROUP BY pair HAVING count(*) >= 10),
         |s AS (SELECT string_split(pair, ' ')[1] AS w1, string_split(pair, ' ')[2] AS w2, n_ab FROM bc),
         |j AS (SELECT s.w1, s.w2, s.n_ab, ua.n AS n_a, ub.n AS n_b
         |      FROM s JOIN u ua ON s.w1 = ua.tok JOIN u ub ON s.w2 = ub.tok)
         |SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_ab,
         |       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         |       ${Q6("CAST((n_ab - 5) * n_total AS DOUBLE) / (n_a * n_b)")} AS score
         |FROM j, tot
         |ORDER BY score DESC, w1, w2 LIMIT 50""".stripMargin)),

    // the memorization-risk report: which exact 8-word passages does the
    // corpus repeat, and in how many documents
    QuerySpec("corpus_dup_ngrams", (s, dir) =>
      TextFunctions.dupNgrams(Tables.load(s, dir, "documents"), 8, 50)
        .orderBy(col("doc_freq").desc, col("gram")),
      Some(s"""WITH d AS (SELECT doc_id, string_split($NORM_TEXT_SQL, ' ') AS w FROM documents),
         |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |               generate_series(1, greatest(len(w) - 7, 0)),
         |               i -> array_to_string(w[i:i+7], ' ')))) AS gram
         |      FROM d WHERE len(w) >= 8)
         |SELECT gram, CAST(count(*) AS BIGINT) AS doc_freq
         |FROM g GROUP BY gram HAVING count(*) >= 2
         |ORDER BY doc_freq DESC, gram LIMIT 50""".stripMargin)),

    // which sources share verbatim documents — the pre-mixing overlap audit
    QuerySpec("corpus_overlap", (s, dir) =>
      TextFunctions.crossSourceOverlap(Tables.load(s, dir, "documents"))
        .orderBy(col("src_a"), col("src_b")),
      Some(s"""WITH d AS (SELECT doc_id, source, md5($NORM_TEXT_SQL) AS fp FROM documents)
         |SELECT a.source AS src_a, b.source AS src_b,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(count(DISTINCT a.fp) AS BIGINT) AS n_texts
         |FROM d a JOIN d b ON a.fp = b.fp AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin)),

    // cross-source NEAR-dup matrix — the paraphrase-level face of
    // corpus_overlap ("which datasets share REWRITTEN docs"): pairs
    // from the LSH-bucketed minhash generator (exact-Jaccard verified),
    // sources keyed on, per-pair mean similarity from the quantized
    // integer scores (order-free)
    QuerySpec("corpus_overlap_near", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pairs = Dedup.minhashPairs(docs, 3, 64, 2, 0.8)
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
        .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
        .filter(col("sa") =!= col("sb"))
        .select(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"), col("jaccard"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_pairs"),
          graft.Quant.mean6(sum(graft.Quant.us6(col("jaccard"))), count(lit(1)))
            .as("mean_jaccard"))
        .orderBy(col("src_a"), col("src_b"))
    },
      // mirrors the registered near-overlap matrix: the exact-Jaccard
      // pair set (the dedup_minhash oracle), sources joined, quantized
      // integer mean per unordered source pair
      Some(s"""WITH docs AS (SELECT doc_id, source, string_split($NORM_TEXT_SQL, ' ') AS w
         |              FROM documents),
         |sh AS (SELECT doc_id, source, list_distinct(list_transform(
         |               generate_series(1, greatest(len(w) - 2, 0)),
         |               i -> concat(w[i], ' ', w[i + 1], ' ', w[i + 2]))) AS s
         |       FROM docs WHERE len(w) >= 3),
         |p AS (SELECT a.source AS sa, b.source AS sb,
         |             len(list_intersect(a.s, b.s)) AS inter, len(a.s) AS la, len(b.s) AS lb
         |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
         |v AS (SELECT least(sa, sb) AS src_a, greatest(sa, sb) AS src_b,
         |             ${Q6("CAST(inter AS DOUBLE) / (la + lb - inter)")} AS jaccard
         |      FROM p WHERE inter > 0
         |        AND CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.8
         |        AND sa <> sb)
         |SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs,
         |       ${MEAN6(s"sum(${US6("jaccard")})", "count(*)")} AS mean_jaccard
         |FROM v GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin)),
  )

  // ---- DuckDB oracle building blocks ------------------------------

  // The raw (pre-quantization) quality score — mirrors TextFunctions.quality
  // term-for-term so the input double to Q6 is bit-identical.
  private val QSCORE_SQL =
    """CAST(n_stop AS DOUBLE) / n_words * 0.4
      |              + (1.0 - CAST(n_punct AS DOUBLE) / n_chars) * 0.3
      |              + least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.3""".stripMargin

  private val NORM_TEXT_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  /** Shared by dedup_clusters / dedup_keep_best: exact-Jaccard ≥ 0.8
    * 3-shingle edges closed into components via recursive reachability;
    * `lbl` maps every non-singleton doc to min reachable doc_id.
    */
  private val DEDUP_CLUSTER_CTES =
    s"""WITH RECURSIVE
       |docs AS (SELECT doc_id, string_split($NORM_TEXT_SQL, ' ') AS w FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
       |               i -> concat(w[i], ' ', w[i + 1], ' ', w[i + 2]))) AS s
       |       FROM docs WHERE len(w) >= 3),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |             len(list_intersect(a.s, b.s)) AS inter, len(a.s) AS la, len(b.s) AS lb
       |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
       |e AS (SELECT id_a, id_b FROM p
       |      WHERE inter > 0 AND CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.8),
       |sym AS (SELECT id_a AS src, id_b AS dst FROM e
       |        UNION ALL SELECT id_b, id_a FROM e),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM sym
       |  UNION
       |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
       |lbl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
       |        FROM reach GROUP BY src)""".stripMargin

  /** Exact word-3-gram Jaccard pairs ≥ tau — the oracle for both the scoped
    * exact query and the (exact-verified) MinHash-LSH query.
    */
  private def jaccardSql(tau: Double, idLimit: Option[Long]): String = {
    val scope = idLimit.fold("")(l => s"WHERE doc_id < $l")
    s"""WITH docs AS (SELECT doc_id, string_split($NORM_TEXT_SQL, ' ') AS w FROM documents $scope),
       |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
       |               i -> concat(w[i], ' ', w[i + 1], ' ', w[i + 2]))) AS s
       |       FROM docs WHERE len(w) >= 3),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |             len(list_intersect(a.s, b.s)) AS inter, len(a.s) AS la, len(b.s) AS lb
       |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
       |SELECT id_a, id_b, ${Q6("CAST(inter AS DOUBLE) / (la + lb - inter)")} AS jaccard
       |FROM p WHERE inter > 0 AND CAST(inter AS DOUBLE) / (la + lb - inter) >= $tau
       |ORDER BY id_a, id_b""".stripMargin
  }
}
