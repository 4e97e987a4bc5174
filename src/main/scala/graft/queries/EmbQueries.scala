package graft
package queries

import org.apache.spark.sql.functions._

import graft.queries.Common._
import graft.text.Dedup
import graft.sim.Vectors

/** The embedding family: exact and approximate nearest-neighbour
  * search (LSH, IVF, PQ, binary), recall audits, clustering and vector
  * statistics over the `embeddings` table.
  */
private[graft] object EmbQueries {
  lazy val specs: Seq[QuerySpec] = Seq(
    // SEMANTIC survivor selection — keepBest over the embedding-cosine
    // cluster graph instead of the token-level one: per semantic
    // near-dup cluster the longest document survives; the mask an
    // embedding-side dedup ships (reuses the shared clusters/keepBest
    // machinery and the emb_clusters pair graph at τ = 0.4)
    QuerySpec("emb_keep_best", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val docs = Tables.load(s, dir, "documents")
      Dedup.keepBest(
          docs.join(emb.select(col("vec_id").as("doc_id")), Seq("doc_id")),
          Vectors.cosinePairsLshAuto(emb, 0.4).select(col("id_a"), col("id_b")))
        .select(col("doc_id").as("vec_id"), col("cluster_id"), col("kept"))
        .orderBy(col("vec_id"))
    },
      // Mirrors the emb_keep_best registration: the emb_clusters
      // reachability labels + the keep-best argmax (longest document text,
      // ties → lowest vec_id) with n_chars joined from documents.
      Some(s"""WITH RECURSIVE
         |$LSH_PAIR_CTES,
         |sym AS (SELECT id_a AS src, id_b AS dst FROM pr
         |        UNION ALL SELECT id_b, id_a FROM pr),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM sym
         |  UNION
         |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
         |lbl AS (SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
         |        FROM reach GROUP BY src),
         |cl AS (SELECT v.vec_id, coalesce(l.cluster_id, v.vec_id) AS cluster_id, d.n_chars
         |       FROM embeddings v JOIN documents d ON d.doc_id = v.vec_id
         |            LEFT JOIN lbl l ON v.vec_id = l.vec_id)
         |SELECT vec_id, cluster_id,
         |       (row_number() OVER (PARTITION BY cluster_id
         |          ORDER BY n_chars DESC, vec_id) = 1) AS kept
         |FROM cl ORDER BY vec_id""".stripMargin)),

    // ---- LLM-pipeline: similarity search ------------------------------
    // LSH-bucketed candidates + exact cosine verify — the corpus-scale
    // generator (equality join on (table, bucket), never all-pairs); the
    // oracle replays the md5-derived buckets so the pair set is hash-gated,
    // and the exact quadratic generator survives only as the oracle/spec
    // mirror (Vectors.cosinePairs, DedupSimSpec recall floors)
    QuerySpec("emb_cosine_pairs", (s, dir) =>
      Vectors.cosinePairsLshAuto(Tables.load(s, dir, "embeddings"), 0.4)
        .orderBy(col("id_a"), col("id_b")),
      // the three pair-graph queries replay the LSH-bucketed generator
      // (LSH_PAIR_CTES), not the quadratic join — the oracle mirrors the
      // registered scale path bucket-for-bucket
      Some(s"""WITH $LSH_PAIR_CTES
         |SELECT id_a, id_b, ${Q6("cos")} AS cos_sim
         |FROM pr ORDER BY id_a, id_b""".stripMargin)),

    // the embedding-side bucket-load audit: per LSH table, live buckets,
    // hottest bucket, and Σ C(load,2) — prices the pair generator's
    // candidate mass (and checks autoBits actually bounded occupancy)
    // for the cost of one aggregation
    QuerySpec("emb_lsh_load", (s, dir) =>
      Vectors.lshLoad(Tables.load(s, dir, "embeddings"))
        .orderBy(col("tbl")),
      // Mirrors Vectors.lshLoad: the shared LSH bucket CTEs (bk — the
      // unreferenced pair CTEs in the constant are never executed), then
      // per-bucket loads and the per-table rollup.
      Some(s"""WITH $LSH_PAIR_CTES,
         |l AS (SELECT tbl, bucket, count(*) AS load FROM bk GROUP BY 1, 2)
         |SELECT CAST(tbl AS BIGINT) AS tbl,
         |       CAST(sum(load) AS BIGINT) AS n_items,
         |       CAST(count(*) AS BIGINT) AS n_buckets,
         |       CAST(max(load) AS BIGINT) AS max_load,
         |       CAST(sum(load * (load - 1) // 2) AS BIGINT) AS cand_pairs
         |FROM l GROUP BY 1 ORDER BY 1""".stripMargin)),

    // dedup-threshold tuning: near-dup pair counts at τ ∈ {.8,.9,.95,.99}
    // from ONE pass of the LSH pair graph (base filter raw cos ≥ 0.8;
    // higher cuts applied to the quantized similarity, mirrored in SQL)
    QuerySpec("emb_dup_sweep", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      // the SURFACED recall contract: next to each band count, the
      // closed-form expected recall of the generator at this corpus's
      // autoBitsFrac config (Vectors.expectedBandRecall — shared p
      // literals + left-fold powers, replayed exactly by the oracle),
      // so a campaign reader sees the under-count with the counts it
      // discounts instead of hunting for a spec table
      val n = emb.count()
      val rc = Vectors.bandP.map { case (band, p) =>
        graft.Quant.q6(lit(Vectors.expectedBandRecall(n, p)))
          .as(s"exp_recall_$band")
      }
      Vectors.cosinePairsLshAuto(emb, 0.8)
        .agg(count(lit(1)).as("n_80"),
          sum(when(col("cos_sim") >= 0.9, 1L).otherwise(0L)).as("n_90"),
          sum(when(col("cos_sim") >= 0.95, 1L).otherwise(0L)).as("n_95"),
          sum(when(col("cos_sim") >= 0.99, 1L).otherwise(0L)).as("n_99"))
        .select(col("*") +: rc: _*)
    },
      // mirrors the emb_dup_sweep registration: base inclusion on RAW
      // cos ≥ 0.8 (the operator's tau filter), higher cuts on the
      // quantized value — exactly the engine's arithmetic — plus the
      // surfaced recall contract: expectedBandRecall replayed from the
      // same bsel config via the same shared p literals and left-fold
      // powers (no libm in either engine)
      Some(s"""WITH $LSH_PAIR_CTES,
         |sw AS (SELECT ${Q6("cos")} AS c FROM pr WHERE cos >= 0.8),
         |rc AS (SELECT ${graft.sim.Vectors.bandP.map { case (band, p) =>
               s"${Q6(expRecallSql(p.toString))} AS exp_recall_$band"
             }.mkString(",\n|          ")}
         |       FROM bsel),
         |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n_80,
         |          CAST(sum(CASE WHEN c >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_90,
         |          CAST(sum(CASE WHEN c >= 0.95 THEN 1 ELSE 0 END) AS BIGINT) AS n_95,
         |          CAST(sum(CASE WHEN c >= 0.99 THEN 1 ELSE 0 END) AS BIGINT) AS n_99
         |        FROM sw)
         |SELECT cnt.*, rc.* FROM cnt, rc""".stripMargin)),

    // semantic dedup: connected components over the cosine≥τ pair graph —
    // the same clustering operator driving token-level dedup, applied to
    // embedding-space near-duplicates (pairs from the LSH path)
    QuerySpec("emb_clusters", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Dedup.clusters(
          emb.select(col("vec_id").as("doc_id")),
          Vectors.cosinePairsLshAuto(emb, 0.4).select(col("id_a"), col("id_b")))
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
        .orderBy(col("vec_id"))
    },
      Some(s"""WITH RECURSIVE
         |$LSH_PAIR_CTES,
         |sym AS (SELECT id_a AS src, id_b AS dst FROM pr
         |        UNION ALL SELECT id_b, id_a FROM pr),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM sym
         |  UNION
         |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
         |lbl AS (SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
         |        FROM reach GROUP BY src)
         |SELECT v.vec_id AS vec_id, coalesce(l.cluster_id, v.vec_id) AS cluster_id
         |FROM embeddings v LEFT JOIN lbl l ON v.vec_id = l.vec_id
         |ORDER BY v.vec_id""".stripMargin)),

    QuerySpec("emb_knn", (s, dir) =>
      Vectors.knnGraphLshAuto(Tables.load(s, dir, "embeddings"), 0.4, 3)
        .orderBy(col("vec_id"), col("rank")),
      Some(s"""WITH $LSH_PAIR_CTES,
         |prq AS (SELECT id_a, id_b, ${Q6("cos")} AS cos_sim FROM pr),
         |sym AS (SELECT id_a AS vec_id, id_b AS nbr_id, cos_sim FROM prq
         |        UNION ALL SELECT id_b, id_a, cos_sim FROM prq),
         |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
         |                                   ORDER BY cos_sim DESC, nbr_id) AS rank
         |      FROM sym)
         |SELECT vec_id, nbr_id, CAST(rank AS BIGINT) AS rank, cos_sim
         |FROM r WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin)),

    // neighbor-level label agreement over the kNN graph: the "is this
    // embedding space any good" probe — per label, the fraction of kNN
    // edges staying inside the label (labelCohesion's centroid view
    // can't see a class dissolving at the kNN radius; serving can)
    QuerySpec("emb_knn_purity", (s, dir) =>
      Vectors.knnPurity(Tables.load(s, dir, "embeddings"), 0.4, 3)
        .orderBy(col("label")),
      // Mirrors Vectors.knnPurity: the emb_knn CTE chain (LSH pair graph,
      // symmetrized, per-vector rank ≤ 3), then label joins and a
      // per-label conditional aggregate.
      Some(s"""WITH $LSH_PAIR_CTES,
         |prq AS (SELECT id_a, id_b, ${Q6("cos")} AS cos_sim FROM pr),
         |sym AS (SELECT id_a AS vec_id, id_b AS nbr_id, cos_sim FROM prq
         |        UNION ALL SELECT id_b, id_a, cos_sim FROM prq),
         |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
         |                                   ORDER BY cos_sim DESC, nbr_id) AS rank
         |      FROM sym),
         |knn AS (SELECT vec_id, nbr_id FROM r WHERE rank <= 3),
         |lj AS (SELECT CAST(la.label AS BIGINT) AS label, k.vec_id,
         |              CASE WHEN la.label = lb.label THEN 1 ELSE 0 END AS same
         |       FROM knn k JOIN embeddings la ON la.vec_id = k.vec_id
         |                  JOIN embeddings lb ON lb.vec_id = k.nbr_id)
         |SELECT label, CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs,
         |       CAST(count(*) AS BIGINT) AS n_edges,
         |       CAST(sum(same) AS BIGINT) AS n_same,
         |       ${Q6("CAST(sum(same) AS DOUBLE) / count(*)")} AS purity
         |FROM lj GROUP BY label ORDER BY label""".stripMargin)),

    // embedding hygiene: per-vector L2 norms (degenerate-vector audit)
    QuerySpec("emb_norms", (s, dir) =>
      Vectors.norms(Tables.load(s, dir, "embeddings"))
        .orderBy(col("vec_id")),
      Some(s"""SELECT vec_id, CAST(len(embedding) AS BIGINT) AS n_dims,
         |       ${Q6(NORM_SQL)} AS l2_norm
         |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // embedding hygiene: per-dimension distribution (dead-dim audit)
    QuerySpec("emb_dim_stats", (s, dir) =>
      Vectors.dimStats(Tables.load(s, dir, "embeddings"))
        .orderBy(col("dim")),
      // per-dimension stats: index-exploded coordinates; means via exact
      // integer micro-unit sums (HUGEINT ≡ the engine's DECIMAL accumulation)
      Some(s"""WITH x AS (SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
         |           FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) g)
         |SELECT dim, min(x) AS d_min,
         |       ${MEAN6(s"sum(${US6("x")})", "count(*)")} AS d_mean,
         |       max(x) AS d_max, CAST(count(*) AS BIGINT) AS n
         |FROM x GROUP BY dim ORDER BY dim""".stripMargin)),

    // anisotropy audit: 5 exact-integer power-iteration steps toward the
    // dominant centered direction + its variance share (All-but-the-top)
    QuerySpec("emb_pca", (s, dir) =>
      Vectors.pcaPower(Tables.load(s, dir, "embeddings"), 64, 5)
        .orderBy(col("dim")),
      // mirrors Vectors.pcaPower through the Gram matrix: Σᵢ x̃ᵢ(x̃ᵢ·v) =
      // (Σᵢ x̃ᵢx̃ᵢᵀ)v exactly in integer arithmetic, so G is precomputed
      // once and the 5 rescaled iterations replay as 64×64 list math in a
      // recursive CTE — identical integers to the engine's corpus passes
      Some(s"""WITH RECURSIVE
         |x AS (SELECT vec_id, i AS k,
         |        CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS xu
         |      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) g),
         |muk AS (SELECT k, CAST(round(CAST(sum(xu) AS DOUBLE) / count(*), 0) AS BIGINT) AS m_us
         |        FROM x GROUP BY k),
         |xt AS (SELECT x.vec_id, x.k, x.xu - muk.m_us AS xq FROM x JOIN muk USING (k)),
         |g AS (SELECT a.k AS ki, b.k AS kj, sum(CAST(a.xq AS HUGEINT) * b.xq) AS gv
         |      FROM xt a JOIN xt b USING (vec_id) GROUP BY 1, 2),
         |gm AS (SELECT list(gl ORDER BY ki) AS gmat
         |       FROM (SELECT ki, list(gv ORDER BY kj) AS gl FROM g GROUP BY ki)),
         |it AS (
         |  SELECT 0 AS t, list_transform(generate_series(1, 64),
         |           k -> CAST(1000000 AS HUGEINT)) AS v, gmat
         |  FROM gm
         |  UNION ALL
         |  SELECT t + 1,
         |    list_transform(mv, a ->
         |      CASE WHEN list_max(list_transform(mv, q -> abs(q))) = 0
         |           THEN CAST(0 AS HUGEINT)
         |           ELSE CAST(round(CAST(a AS DOUBLE) /
         |                  CAST(list_max(list_transform(mv, q -> abs(q))) AS DOUBLE)
         |                  * 1000000.0, 0) AS HUGEINT) END),
         |    gmat
         |  FROM (SELECT t, gmat,
         |          list_transform(generate_series(1, 64), k ->
         |            list_sum(list_transform(generate_series(1, 64),
         |              l -> gmat[k][l] * v[l]))) AS mv
         |        FROM it WHERE t < 5) s
         |),
         |fin AS (SELECT v FROM it WHERE t = 5),
         |den AS (SELECT list_sum(list_transform(v, a -> a * a)) AS den FROM fin),
         |dots AS (SELECT xt.vec_id, sum(CAST(xt.xq AS HUGEINT) * fv.v[xt.k]) AS dot
         |         FROM xt, fin fv GROUP BY xt.vec_id),
         |nt AS (SELECT (SELECT sum(dot * dot) FROM dots) AS num,
         |              (SELECT sum(CAST(xq AS HUGEINT) * xq) FROM xt) AS trace)
         |SELECT muk.k - 1 AS dim,
         |       CAST(muk.m_us AS DOUBLE) / 1000000.0 + 0 AS mean,
         |       (CASE WHEN den.den = 0 THEN 0
         |             ELSE CAST(fin.v[muk.k] AS DOUBLE) / sqrt(CAST(den.den AS DOUBLE)) END)
         |         + 0 AS loading,
         |       (CASE WHEN den.den = 0 OR nt.trace = 0 THEN 0
         |             ELSE CAST(nt.num AS DOUBLE) /
         |                  (CAST(den.den AS DOUBLE) * CAST(nt.trace AS DOUBLE)) END)
         |         + 0 AS lambda_share
         |FROM muk, fin, den, nt
         |ORDER BY dim""".stripMargin)),

    // embedding hygiene: cosine to the exact-mean corpus centroid
    // (distribution-outlier audit)
    QuerySpec("emb_centroid_sim", (s, dir) =>
      Vectors.centroidSim(Tables.load(s, dir, "embeddings"))
        .orderBy(col("vec_id")),
      // the centroid replays dimStats' exact-mean arithmetic, so the two
      // engines agree on it bitwise; the cosine then mirrors DOT_SQL
      Some(s"""WITH x AS (SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
         |           FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) g),
         |c AS (SELECT dim, ${MEAN6(s"sum(${US6("x")})", "count(*)")} AS m
         |      FROM x GROUP BY dim),
         |cent AS (SELECT list(m ORDER BY dim) AS cvec FROM c),
         |e AS (SELECT vec_id, embedding, $NORM_SQL AS nrm FROM embeddings)
         |SELECT vec_id,
         |       CASE WHEN nrm > 0 AND sqrt(${DOT_SQL("cvec", "cvec")}) > 0
         |            THEN ${Q6(s"${DOT_SQL("embedding", "cvec")} / (nrm * sqrt(${DOT_SQL("cvec", "cvec")}))")}
         |       END AS centroid_sim
         |FROM e CROSS JOIN cent ORDER BY vec_id""".stripMargin)),

    // embedding-space outlier audit: centroid-cosine z-scores, the
    // ts_anomaly recipe on the embedding axis — corrupt/off-domain
    // vector candidates before dedup
    QuerySpec("emb_outliers", (s, dir) =>
      Vectors.outliers(Tables.load(s, dir, "embeddings"), 2.0)
        .orderBy(col("vec_id")),
      // centroid-cosine z-scores: the ts_anomaly moment recipe on the
      // embedding axis, over the exactly-replayed centroid_sim
      Some(s"""WITH x AS (SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
         |           FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) g),
         |c AS (SELECT dim, ${MEAN6(s"sum(${US6("x")})", "count(*)")} AS m
         |      FROM x GROUP BY dim),
         |cent AS (SELECT list(m ORDER BY dim) AS cvec FROM c),
         |e AS (SELECT vec_id, embedding, $NORM_SQL AS nrm FROM embeddings),
         |s AS (SELECT vec_id,
         |             CASE WHEN nrm > 0 AND sqrt(${DOT_SQL("cvec", "cvec")}) > 0
         |                  THEN ${Q6(s"${DOT_SQL("embedding", "cvec")} / (nrm * sqrt(${DOT_SQL("cvec", "cvec")}))")}
         |             END AS centroid_sim
         |      FROM e CROSS JOIN cent),
         |u AS (SELECT vec_id, centroid_sim, ${US6("centroid_sim")} AS us
         |      FROM s WHERE centroid_sim IS NOT NULL),
         |st AS (SELECT sum(us) AS s1, sum(CAST(us AS HUGEINT) * us) AS s2,
         |              count(*) AS n FROM u),
         |j AS (SELECT u.vec_id AS vec_id, u.centroid_sim AS centroid_sim, u.us AS us,
         |             CAST(st.s1 AS DOUBLE) / st.n AS mean,
         |             sqrt(CAST(st.s2 AS DOUBLE) / st.n
         |                  - (CAST(st.s1 AS DOUBLE) / st.n) * (CAST(st.s1 AS DOUBLE) / st.n)) AS std
         |      FROM u CROSS JOIN st)
         |SELECT vec_id, centroid_sim, ${Q6("(CAST(us AS DOUBLE) - mean) / std")} AS z_score
         |FROM j WHERE std > 0 AND abs((CAST(us AS DOUBLE) - mean) / std) >= 2.0
         |ORDER BY vec_id""".stripMargin)),

    // class-cohesion audit: per label, mean member cosine to the OWN
    // label centroid — the noisy-class health check
    QuerySpec("emb_label_cohesion", (s, dir) =>
      Vectors.labelCohesion(Tables.load(s, dir, "embeddings"))
        .orderBy(col("label")),
      // per-label centroids: the centroid_sim arithmetic grouped by label;
      // cohesion averages the q6 member cosines via µ-unit integer sums
      Some(s"""WITH x AS (SELECT label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
         |           FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) g),
         |c AS (SELECT label, dim, ${MEAN6(s"sum(${US6("x")})", "count(*)")} AS m
         |      FROM x GROUP BY 1, 2),
         |v AS (SELECT label, list(m ORDER BY dim) AS cvec FROM c GROUP BY 1),
         |e AS (SELECT label, embedding, $NORM_SQL AS nrm FROM embeddings),
         |s AS (SELECT e.label AS label,
         |             CASE WHEN nrm > 0 AND sqrt(${DOT_SQL("cvec", "cvec")}) > 0
         |                  THEN ${Q6(s"${DOT_SQL("embedding", "cvec")} / (nrm * sqrt(${DOT_SQL("cvec", "cvec")}))")}
         |             END AS cos
         |      FROM e JOIN v ON e.label = v.label),
         |u AS (SELECT label, ${US6("cos")} AS us FROM s WHERE cos IS NOT NULL)
         |SELECT label, CAST(count(*) AS BIGINT) AS n,
         |       ${MEAN6("sum(us)", "count(*)")} AS mean_cos
         |FROM u GROUP BY label ORDER BY label""".stripMargin)),

    // class-separation audit: label-centroid cosine matrix (labels²,
    // metadata-scale)
    QuerySpec("emb_label_sim", (s, dir) =>
      Vectors.labelCentroidSim(Tables.load(s, dir, "embeddings"))
        .orderBy(col("label_a"), col("label_b")),
      // label-centroid cosine matrix — the same centroid CTE self-joined
      Some(s"""WITH x AS (SELECT label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
         |           FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) g),
         |c AS (SELECT label, dim, ${MEAN6(s"sum(${US6("x")})", "count(*)")} AS m
         |      FROM x GROUP BY 1, 2),
         |v AS (SELECT label, list(m ORDER BY dim) AS cvec FROM c GROUP BY 1)
         |SELECT a.label AS label_a, b.label AS label_b,
         |       CASE WHEN sqrt(${DOT_SQL("a.cvec", "a.cvec")}) > 0
         |             AND sqrt(${DOT_SQL("b.cvec", "b.cvec")}) > 0
         |            THEN ${Q6(s"${DOT_SQL("a.cvec", "b.cvec")} / (sqrt(${DOT_SQL("a.cvec", "a.cvec")}) * sqrt(${DOT_SQL("b.cvec", "b.cvec")}))")}
         |       END AS sim
         |FROM v a CROSS JOIN v b ORDER BY label_a, label_b""".stripMargin)),

    // int8 scalar-quantization audit: per-vector reconstruction error on
    // the per-dim 256-level grid
    QuerySpec("emb_sq8", (s, dir) =>
      Vectors.sq8Audit(Tables.load(s, dir, "embeddings"))
        .orderBy(col("vec_id")),
      // SQ8: same per-dim min/max grid, same index-ordered error fold
      Some(s"""WITH x AS (SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
         |           FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) g),
         |st AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM x GROUP BY dim),
         |arr AS (SELECT list(mn ORDER BY dim) AS mn,
         |               list((mx - mn) / 255.0 ORDER BY dim) AS s FROM st),
         |er AS (SELECT vec_id,
         |              list_transform(generate_series(1, 64),
         |                i -> CASE WHEN s[i] > 0
         |                          THEN abs((CAST(embedding[i] AS DOUBLE) - mn[i])
         |                                   - round((CAST(embedding[i] AS DOUBLE) - mn[i]) / s[i]) * s[i])
         |                          ELSE abs(CAST(embedding[i] AS DOUBLE) - mn[i]) END) AS errs
         |       FROM embeddings CROSS JOIN arr)
         |SELECT vec_id, ${Q6("list_sum(errs) / 64.0")} AS mean_abs_err,
         |       ${Q6("list_max(errs)")} AS max_abs_err
         |FROM er ORDER BY vec_id""".stripMargin)),

    QuerySpec("emb_ann_topk", (s, dir) =>
      Vectors.annTopK(Tables.load(s, dir, "embeddings"), 5, 10)
        .orderBy(col("q_id"), col("rank")),
      Some(s"""WITH e AS (SELECT vec_id, embedding, $NORM_SQL AS nrm FROM embeddings),
         |p AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |             ${DOT_SQL("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |      FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id >= 5),
         |r AS (SELECT q_id, n_id, cos,
         |             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |      FROM p)
         |SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank, ${Q6("cos")} AS cos_sim
         |FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)),

    QuerySpec("emb_ann_lsh", (s, dir) =>
      Vectors.annLsh(Tables.load(s, dir, "embeddings"), 5, 10)
        .orderBy(col("q_id"), col("rank")),
      // Mirrors graft.sim.Vectors.annLsh exactly: hyperplane component
      // (t, b, d) = md5_number_lower('lsh|t|b|d') mapped to [-0.5, 0.5), sign
      // bits → per-table bucket, query probes its bucket plus all 1-bit flips,
      // candidates exact-cosine reranked. The driver computes the same md5-
      // derived planes, so buckets and cosines agree bit-for-bit.
      Some(s"""WITH e AS (SELECT vec_id, embedding, $NORM_SQL AS nrm FROM embeddings),
         |bk AS (SELECT e.vec_id, t.t AS tbl,
         |         CAST(list_sum(list_transform(generate_series(0, 3), bb ->
         |           CASE WHEN list_sum(list_transform(generate_series(1, 64), dd ->
         |                  CAST(e.embedding[dd] AS DOUBLE) * ${PLANE_SQL("t.t", "bb", "dd - 1")})) > 0
         |                THEN (1 << bb) ELSE 0 END)) AS BIGINT) AS bucket
         |       FROM e, (SELECT unnest(generate_series(0, 7)) AS t) t),
         |qp AS (SELECT b.vec_id, b.tbl, xor(b.bucket, f.f) AS bucket
         |       FROM bk b, (SELECT unnest([0, 1, 2, 4, 8]) AS f) f
         |       WHERE b.vec_id < 5),
         |cand AS (SELECT DISTINCT q.vec_id AS id_a, c.vec_id AS id_b
         |         FROM qp q JOIN bk c ON q.tbl = c.tbl AND q.bucket = c.bucket
         |         WHERE c.vec_id >= 5),
         |r AS (SELECT id_a, id_b,
         |             ${DOT_SQL("qa.embedding", "cb.embedding")} / (qa.nrm * cb.nrm) AS cos
         |      FROM cand JOIN e qa ON qa.vec_id = id_a JOIN e cb ON cb.vec_id = id_b),
         |rk AS (SELECT id_a, id_b, cos,
         |              row_number() OVER (PARTITION BY id_a ORDER BY cos DESC, id_b) AS rank
         |       FROM r)
         |SELECT id_a AS q_id, id_b AS n_id, CAST(rank AS BIGINT) AS rank, ${Q6("cos")} AS cos_sim
         |FROM rk WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)),

    // recall@k acceptance gate: fraction of the exact top-k the LSH ANN's
    // top-k contains, per cutoff — the number that justifies turning the
    // brute-force path off; exact side costs nQueries·corpus (the probe
    // sample), never corpus²
    QuerySpec("emb_ann_recall", (s, dir) =>
      Vectors.annRecall(Tables.load(s, dir, "embeddings"), 5, 10),
      // Mirrors Vectors.annRecall: the exact-top-10 and LSH-top-10 CTEs
      // (the emb_ann_topk / emb_ann_lsh oracles verbatim), one left join on
      // (q_id, n_id), conditional hit sums at cutoffs 1/5/10.
      Some(s"""WITH e AS (SELECT vec_id, embedding, $NORM_SQL AS nrm FROM embeddings),
         |p AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |             ${DOT_SQL("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |      FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id >= 5),
         |exr AS (SELECT q_id, n_id,
         |              row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |       FROM p),
         |bk AS (SELECT e.vec_id, t.t AS tbl,
         |         CAST(list_sum(list_transform(generate_series(0, 3), bb ->
         |           CASE WHEN list_sum(list_transform(generate_series(1, 64), dd ->
         |                  CAST(e.embedding[dd] AS DOUBLE) * ${PLANE_SQL("t.t", "bb", "dd - 1")})) > 0
         |                THEN (1 << bb) ELSE 0 END)) AS BIGINT) AS bucket
         |       FROM e, (SELECT unnest(generate_series(0, 7)) AS t) t),
         |qp AS (SELECT b.vec_id, b.tbl, xor(b.bucket, f.f) AS bucket
         |       FROM bk b, (SELECT unnest([0, 1, 2, 4, 8]) AS f) f
         |       WHERE b.vec_id < 5),
         |cand AS (SELECT DISTINCT q.vec_id AS id_a, c.vec_id AS id_b
         |         FROM qp q JOIN bk c ON q.tbl = c.tbl AND q.bucket = c.bucket
         |         WHERE c.vec_id >= 5),
         |r AS (SELECT id_a, id_b,
         |             ${DOT_SQL("qa.embedding", "cb.embedding")} / (qa.nrm * cb.nrm) AS cos
         |      FROM cand JOIN e qa ON qa.vec_id = id_a JOIN e cb ON cb.vec_id = id_b),
         |lshr AS (SELECT id_a AS q_id, id_b AS n_id,
         |              row_number() OVER (PARTITION BY id_a ORDER BY cos DESC, id_b) AS rank
         |       FROM r),
         |jx AS (SELECT x.q_id, x.rank AS rank_exact, l.rank AS rank_lsh
         |       FROM (SELECT * FROM exr WHERE rank <= 10) x
         |       LEFT JOIN (SELECT * FROM lshr WHERE rank <= 10) l
         |         ON x.q_id = l.q_id AND x.n_id = l.n_id),
         |h AS (SELECT sum(CASE WHEN rank_exact <= 1 AND rank_lsh <= 1 THEN 1 ELSE 0 END) AS hits_1,
         |             sum(CASE WHEN rank_exact <= 5 AND rank_lsh <= 5 THEN 1 ELSE 0 END) AS hits_5,
         |             sum(CASE WHEN rank_exact <= 10 AND rank_lsh <= 10 THEN 1 ELSE 0 END) AS hits_10,
         |             count(DISTINCT q_id) AS n_q
         |      FROM jx)
         |SELECT CAST(n_q AS BIGINT) AS n_q,
         |       CAST(hits_1 AS BIGINT) AS hits_1,
         |       ${Q6("CAST(hits_1 AS DOUBLE) / (n_q * 1)")} AS recall_1,
         |       CAST(hits_5 AS BIGINT) AS hits_5,
         |       ${Q6("CAST(hits_5 AS DOUBLE) / (n_q * 5)")} AS recall_5,
         |       CAST(hits_10 AS BIGINT) AS hits_10,
         |       ${Q6("CAST(hits_10 AS DOUBLE) / (n_q * 10)")} AS recall_10
         |FROM h""".stripMargin)),

    // the IVF acceptance gate: recall@{1,5,10} of the cell-pruned path
    // (zero-training seeds, nProbe=4 of 16 cells) vs the exact top-k —
    // the LSH gate's sibling, so BOTH serving paths carry a measured
    // recall before brute force is turned off
    QuerySpec("emb_ann_ivf_recall", (s, dir) =>
      Vectors.annRecallIvf(Tables.load(s, dir, "embeddings"), 5, 10),
      // Mirrors Vectors.annRecallIvf: the exact-top-k CTE from the LSH
      // recall oracle joined against the emb_ann_ivf_served CTEs (probe
      // CTE renamed iq to avoid the exact-pair alias), same hit sums.
      Some(s"""WITH e AS (SELECT vec_id, embedding, $NORM_SQL AS nrm FROM embeddings),
         |p AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |             ${DOT_SQL("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |      FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id >= 5),
         |exr AS (SELECT q_id, n_id,
         |              row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |       FROM p),
         |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cvec,
         |             list_sum(list_transform(embedding,
         |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS cn2
         |      FROM e WHERE vec_id >= 5 ORDER BY vec_id LIMIT 16),
         |a AS (SELECT e.vec_id, e.embedding, e.nrm, c.cell
         |      FROM e, c WHERE e.vec_id >= 5
         |      QUALIFY row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY (${DOT_SQL("e.embedding", "c.cvec")} * 2 - c.cn2) DESC, c.cell DESC) = 1),
         |iq AS (SELECT e.vec_id, e.embedding, e.nrm, c.cell
         |       FROM e, c WHERE e.vec_id < 5
         |       QUALIFY row_number() OVER (PARTITION BY e.vec_id
         |         ORDER BY (${DOT_SQL("e.embedding", "c.cvec")} * 2 - c.cn2) DESC, c.cell ASC) <= 4),
         |r AS (SELECT iq.vec_id AS q_id, a.vec_id AS n_id,
         |             ${DOT_SQL("iq.embedding", "a.embedding")} / (iq.nrm * a.nrm) AS cos
         |      FROM iq JOIN a ON iq.cell = a.cell),
         |ivfr AS (SELECT q_id, n_id,
         |              row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |       FROM r),
         |jx AS (SELECT x.q_id, x.rank AS rank_exact, l.rank AS rank_approx
         |       FROM (SELECT * FROM exr WHERE rank <= 10) x
         |       LEFT JOIN (SELECT * FROM ivfr WHERE rank <= 10) l
         |         ON x.q_id = l.q_id AND x.n_id = l.n_id),
         |h AS (SELECT sum(CASE WHEN rank_exact <= 1 AND rank_approx <= 1 THEN 1 ELSE 0 END) AS hits_1,
         |             sum(CASE WHEN rank_exact <= 5 AND rank_approx <= 5 THEN 1 ELSE 0 END) AS hits_5,
         |             sum(CASE WHEN rank_exact <= 10 AND rank_approx <= 10 THEN 1 ELSE 0 END) AS hits_10,
         |             count(DISTINCT q_id) AS n_q
         |      FROM jx)
         |SELECT CAST(n_q AS BIGINT) AS n_q,
         |       CAST(hits_1 AS BIGINT) AS hits_1,
         |       ${Q6("CAST(hits_1 AS DOUBLE) / (n_q * 1)")} AS recall_1,
         |       CAST(hits_5 AS BIGINT) AS hits_5,
         |       ${Q6("CAST(hits_5 AS DOUBLE) / (n_q * 5)")} AS recall_5,
         |       CAST(hits_10 AS BIGINT) AS hits_10,
         |       ${Q6("CAST(hits_10 AS DOUBLE) / (n_q * 10)")} AS recall_10
         |FROM h""".stripMargin)),

    // the PQ acceptance gate: with the LSH and IVF gates, all three
    // serving families (bucketed, cell-pruned, compressed-code) carry a
    // measured recall before brute force is turned off
    QuerySpec("emb_ann_pq_recall", (s, dir) =>
      Vectors.annRecallPq(Tables.load(s, dir, "embeddings"), 5, 10),
      // Mirrors Vectors.annRecallPq: the emb_ann_pq CTE chain verbatim,
      // the exact-top-k pair CTE (fresh names xp/exr beside the PQ chain's
      // e), and the shared hit sums.
      Some {
        val sseQ = "list_sum(list_transform(generate_series(1, 8), " +
          "i -> (v.svec[i] - c.cvec[i]) * (v.svec[i] - c.cvec[i])))"
        s"""WITH sv AS (SELECT vec_id, j.s AS sub,
           |              list_transform(generate_series(1, 8),
           |                i -> CAST(embedding[CAST(j.s AS INT) * 8 + i] AS DOUBLE)) AS svec
           |            FROM embeddings, (SELECT unnest(generate_series(0, 7)) AS s) j),
           |cb AS (SELECT sub, CAST(vec_id - 5 AS INT) AS code, svec AS cvec
           |       FROM sv WHERE vec_id >= 5 AND vec_id < 21),
           |d AS (SELECT v.vec_id, v.sub, c.code,
           |        list_sum(list_transform(generate_series(1, 8),
           |          i -> (v.svec[i] - c.cvec[i]) * (v.svec[i] - c.cvec[i]))) AS sse
           |      FROM sv v JOIN cb c USING (sub) WHERE v.vec_id >= 5),
           |r AS (SELECT vec_id, sub, code,
           |        row_number() OVER (PARTITION BY vec_id, sub ORDER BY sse, code) AS rn
           |      FROM d),
           |codes AS (SELECT vec_id AS n_id, sub, code FROM r WHERE rn = 1),
           |qd AS (SELECT v.vec_id AS q_id, v.sub, c.code,
           |         ${US6(sseQ)} AS dist_us
           |       FROM sv v JOIN cb c USING (sub) WHERE v.vec_id < 5),
           |adc AS (SELECT q_id, n_id, sum(dist_us) AS adc_us
           |        FROM codes JOIN qd USING (sub, code) GROUP BY 1, 2),
           |cand AS (SELECT *, row_number() OVER (PARTITION BY q_id
           |                     ORDER BY adc_us, n_id) AS rn
           |         FROM adc),
           |e AS (SELECT vec_id, embedding, $NORM_SQL AS nrm FROM embeddings),
           |x AS (SELECT c.q_id, c.n_id,
           |        ${DOT_SQL("q.embedding", "n.embedding")} / (q.nrm * n.nrm) AS cos
           |      FROM cand c JOIN e q ON q.vec_id = c.q_id
           |                  JOIN e n ON n.vec_id = c.n_id
           |      WHERE c.rn <= 32),
           |f AS (SELECT *, row_number() OVER (PARTITION BY q_id
           |                  ORDER BY cos DESC, n_id) AS rank
           |      FROM x),
           |xp AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           |             ${DOT_SQL("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
           |       FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id >= 5),
           |exr AS (SELECT q_id, n_id,
           |              row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
           |        FROM xp),
           |jx AS (SELECT x2.q_id, x2.rank AS rank_exact, l.rank AS rank_approx
           |       FROM (SELECT * FROM exr WHERE rank <= 10) x2
           |       LEFT JOIN (SELECT q_id, n_id, rank FROM f WHERE rank <= 10) l
           |         ON x2.q_id = l.q_id AND x2.n_id = l.n_id),
           |h AS (SELECT sum(CASE WHEN rank_exact <= 1 AND rank_approx <= 1 THEN 1 ELSE 0 END) AS hits_1,
           |             sum(CASE WHEN rank_exact <= 5 AND rank_approx <= 5 THEN 1 ELSE 0 END) AS hits_5,
           |             sum(CASE WHEN rank_exact <= 10 AND rank_approx <= 10 THEN 1 ELSE 0 END) AS hits_10,
           |             count(DISTINCT q_id) AS n_q
           |      FROM jx)
           |SELECT CAST(n_q AS BIGINT) AS n_q,
           |       CAST(hits_1 AS BIGINT) AS hits_1,
           |       ${Q6("CAST(hits_1 AS DOUBLE) / (n_q * 1)")} AS recall_1,
           |       CAST(hits_5 AS BIGINT) AS hits_5,
           |       ${Q6("CAST(hits_5 AS DOUBLE) / (n_q * 5)")} AS recall_5,
           |       CAST(hits_10 AS BIGINT) AS hits_10,
           |       ${Q6("CAST(hits_10 AS DOUBLE) / (n_q * 10)")} AS recall_10
           |FROM h""".stripMargin
      }),

    // the BITQ acceptance gate: recall@{1,5,10} of the sign-bit Hamming
    // prescreen path vs the exact top-k — closes the gate family (all
    // FOUR serving configs measured); the 1-bit extreme is where recall
    // damage is most likely, so this is the first gate a capacity-driven
    // compression change reads
    QuerySpec("emb_ann_bitq_recall", (s, dir) =>
      Vectors.annRecallBitq(Tables.load(s, dir, "embeddings"), 5, 10),
      // Mirrors Vectors.annRecallBitq: the emb_ann_bitq CTE chain verbatim
      // (sign-word fold, Hamming prescreen row_number ≤ 50, exact re-rank)
      // beside the exact-top-k pair CTE, and the shared hit sums (named hh
      // — the bitq chain already uses h for its Hamming pairs).
      Some(s"""WITH e AS (SELECT vec_id, embedding, $NORM_SQL AS nrm FROM embeddings),
         |p AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |             ${DOT_SQL("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |      FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id >= 5),
         |exr AS (SELECT q_id, n_id,
         |              row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |       FROM p),
         |c AS (SELECT vec_id,
         |        list_sum(list_transform(generate_series(1, 32), i ->
         |          CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (32 - i)) ELSE 0::BIGINT END)) AS lo,
         |        list_sum(list_transform(generate_series(1, 32), i ->
         |          CASE WHEN embedding[i + 32] > 0 THEN (1::BIGINT << (32 - i)) ELSE 0::BIGINT END)) AS hi
         |      FROM e),
         |h AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         |             CAST(bit_count(xor(q.lo, n.lo)) + bit_count(xor(q.hi, n.hi)) AS BIGINT) AS hamming
         |      FROM c q JOIN c n ON q.vec_id < 5 AND n.vec_id >= 5),
         |pre AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY hamming, n_id) AS hr FROM h),
         |r AS (SELECT p.q_id, p.n_id,
         |             ${DOT_SQL("q.embedding", "n.embedding")} / (q.nrm * n.nrm) AS cos
         |      FROM pre p JOIN e q ON q.vec_id = p.q_id JOIN e n ON n.vec_id = p.n_id
         |      WHERE p.hr <= 50),
         |bqr AS (SELECT q_id, n_id,
         |              row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM r),
         |jx AS (SELECT x.q_id, x.rank AS rank_exact, l.rank AS rank_approx
         |       FROM (SELECT * FROM exr WHERE rank <= 10) x
         |       LEFT JOIN (SELECT * FROM bqr WHERE rank <= 10) l
         |         ON x.q_id = l.q_id AND x.n_id = l.n_id),
         |hh AS (SELECT sum(CASE WHEN rank_exact <= 1 AND rank_approx <= 1 THEN 1 ELSE 0 END) AS hits_1,
         |             sum(CASE WHEN rank_exact <= 5 AND rank_approx <= 5 THEN 1 ELSE 0 END) AS hits_5,
         |             sum(CASE WHEN rank_exact <= 10 AND rank_approx <= 10 THEN 1 ELSE 0 END) AS hits_10,
         |             count(DISTINCT q_id) AS n_q
         |      FROM jx)
         |SELECT CAST(n_q AS BIGINT) AS n_q,
         |       CAST(hits_1 AS BIGINT) AS hits_1,
         |       ${Q6("CAST(hits_1 AS DOUBLE) / (n_q * 1)")} AS recall_1,
         |       CAST(hits_5 AS BIGINT) AS hits_5,
         |       ${Q6("CAST(hits_5 AS DOUBLE) / (n_q * 5)")} AS recall_5,
         |       CAST(hits_10 AS BIGINT) AS hits_10,
         |       ${Q6("CAST(hits_10 AS DOUBLE) / (n_q * 10)")} AS recall_10
         |FROM hh""".stripMargin)),

    // probe-depth tuning curve: recall@{1,5,10} at nProbe ∈ {1,2,4,8,16}
    // from ONE candidate pass (shallower probes are filters over the
    // deepest probe's materialized candidates) — the probe-budget curve
    // read next to the single-config acceptance gates
    QuerySpec("emb_ivf_probe_curve", (s, dir) =>
      Vectors.ivfProbeCurve(Tables.load(s, dir, "embeddings"), 5, 10)
        .orderBy(col("n_probe")),
      // Mirrors Vectors.ivfProbeCurve: the ivf_recall CTEs with the probe
      // rank kept per candidate (pr), a probe-depth values table, per-depth
      // approx ranks as filters over the ONE candidate set, and the recall
      // sums grouped by depth. Assignment ties → cell DESC (engine argmax
      // via max(struct)), probe ranking ties → cell ASC (engine window).
      Some(s"""WITH e AS (SELECT vec_id, embedding, $NORM_SQL AS nrm FROM embeddings),
         |p0 AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |             ${DOT_SQL("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |      FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id >= 5),
         |exr AS (SELECT q_id, n_id,
         |              row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |       FROM p0),
         |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cvec,
         |             list_sum(list_transform(embedding,
         |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS cn2
         |      FROM e WHERE vec_id >= 5 ORDER BY vec_id LIMIT 16),
         |a AS (SELECT e.vec_id, e.embedding, e.nrm, c.cell
         |      FROM e, c WHERE e.vec_id >= 5
         |      QUALIFY row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY (${DOT_SQL("e.embedding", "c.cvec")} * 2 - c.cn2) DESC, c.cell DESC) = 1),
         |iq AS (SELECT * FROM (
         |         SELECT e.vec_id, e.embedding, e.nrm, c.cell,
         |                row_number() OVER (PARTITION BY e.vec_id
         |                  ORDER BY (${DOT_SQL("e.embedding", "c.cvec")} * 2 - c.cn2) DESC, c.cell ASC) AS pr
         |         FROM e, c WHERE e.vec_id < 5) WHERE pr <= 16),
         |cand AS (SELECT iq.vec_id AS q_id, a.vec_id AS n_id, iq.pr,
         |              ${DOT_SQL("iq.embedding", "a.embedding")} / (iq.nrm * a.nrm) AS cos
         |         FROM iq JOIN a ON iq.cell = a.cell),
         |pv AS (SELECT unnest([1, 2, 4, 8, 16]) AS p),
         |ar AS (SELECT pv.p, cand.q_id, cand.n_id,
         |              row_number() OVER (PARTITION BY pv.p, cand.q_id
         |                ORDER BY cand.cos DESC, cand.n_id) AS rank
         |       FROM cand JOIN pv ON cand.pr <= pv.p),
         |jx AS (SELECT pv.p, x.q_id, x.rank AS rank_exact, l.rank AS rank_approx
         |       FROM pv CROSS JOIN (SELECT * FROM exr WHERE rank <= 10) x
         |       LEFT JOIN (SELECT * FROM ar WHERE rank <= 10) l
         |         ON l.p = pv.p AND x.q_id = l.q_id AND x.n_id = l.n_id),
         |h AS (SELECT p,
         |             sum(CASE WHEN rank_exact <= 1 AND rank_approx <= 1 THEN 1 ELSE 0 END) AS hits_1,
         |             sum(CASE WHEN rank_exact <= 5 AND rank_approx <= 5 THEN 1 ELSE 0 END) AS hits_5,
         |             sum(CASE WHEN rank_exact <= 10 AND rank_approx <= 10 THEN 1 ELSE 0 END) AS hits_10,
         |             count(DISTINCT q_id) AS n_q
         |      FROM jx GROUP BY p)
         |SELECT CAST(p AS BIGINT) AS n_probe, CAST(n_q AS BIGINT) AS n_q,
         |       CAST(hits_1 AS BIGINT) AS hits_1,
         |       ${Q6("CAST(hits_1 AS DOUBLE) / (n_q * 1)")} AS recall_1,
         |       CAST(hits_5 AS BIGINT) AS hits_5,
         |       ${Q6("CAST(hits_5 AS DOUBLE) / (n_q * 5)")} AS recall_5,
         |       CAST(hits_10 AS BIGINT) AS hits_10,
         |       ${Q6("CAST(hits_10 AS DOUBLE) / (n_q * 10)")} AS recall_10
         |FROM h ORDER BY n_probe""".stripMargin)),

    // rerank-depth tuning curve, the probe curve's sibling on the
    // compressed-code axis: recall@{1,5,10} at rerank ∈ {8,16,32,64}
    // from ONE ADC pass (shallower depths filter the deepest depth's
    // materialized, cosine-scored survivors) — the exact-fetch budget
    // chosen from a curve, not a guess
    QuerySpec("emb_pq_rerank_curve", (s, dir) =>
      Vectors.pqRerankCurve(Tables.load(s, dir, "embeddings"), 5, 10)
        .orderBy(col("rerank")),
      // Mirrors Vectors.pqRerankCurve: the emb_ann_pq CTE chain down to
      // the ADC sums, one ADC rank at the deepest depth (64), cosine on
      // those survivors only, then a rerank values table — every shallower
      // depth re-ranks the same candidate frame, recall sums per depth.
      Some {
        val sseQ = "list_sum(list_transform(generate_series(1, 8), " +
          "i -> (v.svec[i] - c.cvec[i]) * (v.svec[i] - c.cvec[i])))"
        s"""WITH sv AS (SELECT vec_id, j.s AS sub,
           |              list_transform(generate_series(1, 8),
           |                i -> CAST(embedding[CAST(j.s AS INT) * 8 + i] AS DOUBLE)) AS svec
           |            FROM embeddings, (SELECT unnest(generate_series(0, 7)) AS s) j),
           |cb AS (SELECT sub, CAST(vec_id - 5 AS INT) AS code, svec AS cvec
           |       FROM sv WHERE vec_id >= 5 AND vec_id < 21),
           |d AS (SELECT v.vec_id, v.sub, c.code,
           |        list_sum(list_transform(generate_series(1, 8),
           |          i -> (v.svec[i] - c.cvec[i]) * (v.svec[i] - c.cvec[i]))) AS sse
           |      FROM sv v JOIN cb c USING (sub) WHERE v.vec_id >= 5),
           |r AS (SELECT vec_id, sub, code,
           |        row_number() OVER (PARTITION BY vec_id, sub ORDER BY sse, code) AS rn
           |      FROM d),
           |codes AS (SELECT vec_id AS n_id, sub, code FROM r WHERE rn = 1),
           |qd AS (SELECT v.vec_id AS q_id, v.sub, c.code,
           |         ${US6(sseQ)} AS dist_us
           |       FROM sv v JOIN cb c USING (sub) WHERE v.vec_id < 5),
           |adc AS (SELECT q_id, n_id, sum(dist_us) AS adc_us
           |        FROM codes JOIN qd USING (sub, code) GROUP BY 1, 2),
           |cand AS (SELECT *, row_number() OVER (PARTITION BY q_id
           |                     ORDER BY adc_us, n_id) AS ar
           |         FROM adc),
           |e AS (SELECT vec_id, embedding, $NORM_SQL AS nrm FROM embeddings),
           |x AS (SELECT c.q_id, c.n_id, c.ar,
           |        ${DOT_SQL("q.embedding", "n.embedding")} / (q.nrm * n.nrm) AS cos
           |      FROM cand c JOIN e q ON q.vec_id = c.q_id
           |                  JOIN e n ON n.vec_id = c.n_id
           |      WHERE c.ar <= 64),
           |p0 AS (SELECT q.vec_id AS q_id, c2.vec_id AS n_id,
           |             ${DOT_SQL("q.embedding", "c2.embedding")} / (q.nrm * c2.nrm) AS cos
           |      FROM e q JOIN e c2 ON q.vec_id < 5 AND c2.vec_id >= 5),
           |exr AS (SELECT q_id, n_id,
           |              row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
           |       FROM p0),
           |rv AS (SELECT unnest([8, 16, 32, 64]) AS rr),
           |apr AS (SELECT rv.rr, x.q_id, x.n_id,
           |              row_number() OVER (PARTITION BY rv.rr, x.q_id
           |                ORDER BY x.cos DESC, x.n_id) AS rank
           |       FROM x JOIN rv ON x.ar <= rv.rr),
           |jx AS (SELECT rv.rr, ex.q_id, ex.rank AS rank_exact, l.rank AS rank_approx
           |       FROM rv CROSS JOIN (SELECT * FROM exr WHERE rank <= 10) ex
           |       LEFT JOIN (SELECT * FROM apr WHERE rank <= 10) l
           |         ON l.rr = rv.rr AND ex.q_id = l.q_id AND ex.n_id = l.n_id),
           |hh AS (SELECT rr,
           |             sum(CASE WHEN rank_exact <= 1 AND rank_approx <= 1 THEN 1 ELSE 0 END) AS hits_1,
           |             sum(CASE WHEN rank_exact <= 5 AND rank_approx <= 5 THEN 1 ELSE 0 END) AS hits_5,
           |             sum(CASE WHEN rank_exact <= 10 AND rank_approx <= 10 THEN 1 ELSE 0 END) AS hits_10,
           |             count(DISTINCT q_id) AS n_q
           |      FROM jx GROUP BY rr)
           |SELECT CAST(rr AS BIGINT) AS rerank, CAST(n_q AS BIGINT) AS n_q,
           |       CAST(hits_1 AS BIGINT) AS hits_1,
           |       ${Q6("CAST(hits_1 AS DOUBLE) / (n_q * 1)")} AS recall_1,
           |       CAST(hits_5 AS BIGINT) AS hits_5,
           |       ${Q6("CAST(hits_5 AS DOUBLE) / (n_q * 5)")} AS recall_5,
           |       CAST(hits_10 AS BIGINT) AS hits_10,
           |       ${Q6("CAST(hits_10 AS DOUBLE) / (n_q * 10)")} AS recall_10
           |FROM hh ORDER BY rerank""".stripMargin
      }),

    // binary-quantization ANN: sign-bit codes (two 32-bit words), integer
    // Hamming prescreen over a codes-only projection, exact re-rank of the
    // top-50 survivors — the 1-bit/lane point of the compression family
    QuerySpec("emb_ann_bitq", (s, dir) =>
      Vectors.annBitq(Tables.load(s, dir, "embeddings"), 5, 10)
        .orderBy(col("q_id"), col("rank")),
      // Mirrors Vectors.annBitq: sign-bit codes as two 32-bit words folded
      // MSB-first (Σ b_i·2^(32−i) — the sum form of the engine's acc*2+b
      // fold, never overflowing signed 64-bit), integer Hamming prescreen
      // keeps the top 50 per query (ties → lowest n_id), exact cosine in
      // DOT_SQL's index order re-ranks the survivors.
      Some(s"""WITH e AS (SELECT vec_id, embedding, $NORM_SQL AS nrm FROM embeddings),
         |c AS (SELECT vec_id,
         |        list_sum(list_transform(generate_series(1, 32), i ->
         |          CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (32 - i)) ELSE 0::BIGINT END)) AS lo,
         |        list_sum(list_transform(generate_series(1, 32), i ->
         |          CASE WHEN embedding[i + 32] > 0 THEN (1::BIGINT << (32 - i)) ELSE 0::BIGINT END)) AS hi
         |      FROM e),
         |h AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         |             CAST(bit_count(xor(q.lo, n.lo)) + bit_count(xor(q.hi, n.hi)) AS BIGINT) AS hamming
         |      FROM c q JOIN c n ON q.vec_id < 5 AND n.vec_id >= 5),
         |pre AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY hamming, n_id) AS hr FROM h),
         |r AS (SELECT p.q_id, p.n_id, p.hamming,
         |             ${DOT_SQL("q.embedding", "n.embedding")} / (q.nrm * n.nrm) AS cos
         |      FROM pre p JOIN e q ON q.vec_id = p.q_id JOIN e n ON n.vec_id = p.n_id
         |      WHERE p.hr <= 50),
         |rk AS (SELECT q_id, n_id, hamming, cos,
         |              row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM r)
         |SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank, hamming, ${Q6("cos")} AS cos_sim
         |FROM rk WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)),

    // Matryoshka/truncation audit: per-dim-prefix energy fraction stats —
    // the dim-vs-recall evidence read before building a truncated index
    QuerySpec("emb_mrl", (s, dir) =>
      Vectors.mrlAudit(Tables.load(s, dir, "embeddings"))
        .orderBy(col("dim")),
      // Mirrors Vectors.mrlAudit: prefix-energy fraction per truncation dim,
      // index-ordered prefix sums of squares, micro-unit mean per the Quant
      // contract (sum(BIGINT) → HUGEINT → DOUBLE rounds nearest like the
      // engine's DECIMAL(38,0) → DOUBLE cast).
      Some(s"""WITH e AS (SELECT vec_id, embedding, $NORM_SQL AS nrm FROM embeddings),
         |x AS (SELECT CAST(d.d AS BIGINT) AS dim,
         |             sqrt(list_sum(list_transform(generate_series(1, d.d), i ->
         |               CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) / e.nrm AS frac
         |      FROM e, (SELECT unnest([8, 16, 32, 48]) AS d) d)
         |SELECT dim, count(*) AS n_vecs,
         |       round(CAST(sum(CAST(round(frac * 1000000.0, 0) AS BIGINT)) AS DOUBLE) / count(*), 0) / 1000000.0 + 0 AS mean_frac,
         |       min(round(frac * 1000000.0, 0) / 1000000.0 + 0) AS min_frac,
         |       CAST(sum(CASE WHEN round(frac * 1000000.0, 0) / 1000000.0 < 0.95 THEN 1 ELSE 0 END) AS BIGINT) AS n_lossy
         |FROM x GROUP BY dim ORDER BY dim""".stripMargin)),

    // IVF cell-balance audit: per-cell load of the inverted file — the
    // serving-skew report (a hot cell = an unprunable partition at 100 TB)
    QuerySpec("emb_ivf_balance", (s, dir) =>
      Vectors.ivfBalance(Tables.load(s, dir, "embeddings"))
        .orderBy(col("cell")),
      // Mirrors Vectors.ivfBalance: the zero-Lloyd deterministic quantizer
      // (seeds = 16 lowest-id vectors over the WHOLE corpus — no query
      // split here), assignment argmax(2·v·c − |c|²) with ties → max cell,
      // per-cell counts + corpus share.
      Some(s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cvec,
         |             list_sum(list_transform(embedding,
         |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS cn2
         |      FROM e ORDER BY vec_id LIMIT 16),
         |a AS (SELECT e.vec_id, c.cell
         |      FROM e, c
         |      QUALIFY row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY (${DOT_SQL("e.embedding", "c.cvec")} * 2 - c.cn2) DESC, c.cell DESC) = 1),
         |g AS (SELECT cell, count(*) AS n_vecs FROM a GROUP BY cell),
         |t AS (SELECT count(*) AS total FROM e)
         |SELECT CAST(cell AS BIGINT) AS cell, CAST(n_vecs AS BIGINT) AS n_vecs,
         |       ${Q6("CAST(n_vecs AS DOUBLE) / total")} AS share
         |FROM g, t ORDER BY cell""".stripMargin)),

    // PQ code-usage balance, emb_ivf_balance's compressed-code sibling:
    // per (sub, code) assignment count + share, dead cells included —
    // names WHICH subspace's codebook to retrain when the recall
    // curves sag. nQueries = 5 so the audited codebook IS the corpus-
    // side one emb_ann_pq_recall / emb_pq_rerank_curve serve from
    // (query vectors excluded from seeds and counts alike).
    QuerySpec("emb_pq_balance", (s, dir) =>
      Vectors.pqBalance(Tables.load(s, dir, "embeddings"), 5)
        .orderBy(col("sub"), col("code")),
      // Mirrors Vectors.pqBalance(nQueries = 5): CORPUS-side seed codebook
      // (16 lowest corpus vec_ids ≥ 5, densely coded in id order — the
      // exact codebook emb_ann_pq_recall serves from), corpus-only argmin
      // assignment, per-cell counts grid-joined against the codebook's own
      // cells so zero-usage cells surface, 1-row corpus total.
      Some(s"""WITH sv AS (SELECT vec_id, j.s AS sub,
         |              list_transform(generate_series(1, 8),
         |                i -> CAST(embedding[CAST(j.s AS INT) * 8 + i] AS DOUBLE)) AS svec
         |            FROM (SELECT * FROM embeddings WHERE vec_id >= 5) emb5,
         |                 (SELECT unnest(generate_series(0, 7)) AS s) j),
         |seeds AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code
         |          FROM (SELECT vec_id FROM embeddings WHERE vec_id >= 5 ORDER BY vec_id LIMIT 16)),
         |cb AS (SELECT v.sub, s.code, v.svec AS cvec
         |       FROM sv v JOIN seeds s USING (vec_id)),
         |d AS (SELECT v.vec_id, v.sub, c.code,
         |        list_sum(list_transform(generate_series(1, 8),
         |          i -> (v.svec[i] - c.cvec[i]) * (v.svec[i] - c.cvec[i]))) AS sse
         |      FROM sv v JOIN cb c USING (sub)),
         |r AS (SELECT vec_id, sub, code,
         |        row_number() OVER (PARTITION BY vec_id, sub ORDER BY sse, code) AS rn
         |      FROM d),
         |cnt AS (SELECT sub, code, count(*) AS n FROM r WHERE rn = 1 GROUP BY 1, 2),
         |tot AS (SELECT count(*) AS total FROM embeddings WHERE vec_id >= 5)
         |SELECT CAST(g.sub AS BIGINT) AS sub, CAST(g.code AS BIGINT) AS code,
         |       CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_vecs,
         |       ${Q6("CAST(coalesce(cnt.n, 0) AS DOUBLE) / total")} AS share
         |FROM (SELECT DISTINCT sub, code FROM cb) g
         |LEFT JOIN cnt USING (sub, code) CROSS JOIN tot
         |ORDER BY sub, code""".stripMargin)),

    // product-quantization audit: 8×16 seed codebook (the served-IVF
    // zero-training trick), per-vector code word + exact-µ-unit MSE —
    // completes the compression triad (SQ8 / PQ / coarse IVF)
    QuerySpec("emb_pq", (s, dir) =>
      Vectors.pqAudit(Tables.load(s, dir, "embeddings"))
        .orderBy(col("vec_id")),
      // mirrors Vectors.pqAudit: seed codebook = subvectors of vec_id < 16,
      // direct index-ordered Σ(x−c)² fold, ties to the smallest code,
      // per-subspace SSE → µ-units before the cross-subspace sum
      Some(s"""WITH sv AS (SELECT vec_id, j.s AS sub,
         |              list_transform(generate_series(1, 8),
         |                i -> CAST(embedding[CAST(j.s AS INT) * 8 + i] AS DOUBLE)) AS svec
         |            FROM embeddings, (SELECT unnest(generate_series(0, 7)) AS s) j),
         |cb AS (SELECT sub, CAST(vec_id AS INT) AS code, svec AS cvec FROM sv WHERE vec_id < 16),
         |d AS (SELECT v.vec_id, v.sub, c.code,
         |        list_sum(list_transform(generate_series(1, 8),
         |          i -> (v.svec[i] - c.cvec[i]) * (v.svec[i] - c.cvec[i]))) AS sse
         |      FROM sv v JOIN cb c USING (sub)),
         |r AS (SELECT vec_id, sub, code, sse,
         |        row_number() OVER (PARTITION BY vec_id, sub ORDER BY sse, code) AS rn
         |      FROM d),
         |b AS (SELECT vec_id, sub, code, sse FROM r WHERE rn = 1)
         |SELECT vec_id, string_agg(CAST(code AS VARCHAR), '-' ORDER BY sub) AS codes,
         |       ${MEAN6(s"sum(${US6("sse")})", "64")} AS recon_mse
         |FROM b GROUP BY vec_id ORDER BY vec_id""".stripMargin)),

    // PQ-ADC serving on top of the codes: per-query m×k distance table
    // (µ-unit-exact entries, broadcast), ADC = m table lookups per
    // candidate, top-32 survivors exact-cosine re-ranked to top-10
    QuerySpec("emb_ann_pq", (s, dir) =>
      Vectors.annPq(Tables.load(s, dir, "embeddings"), 5, 10)
        .orderBy(col("q_id"), col("rank")),
      // mirrors Vectors.annPq: seed codebook from the 16 lowest-id CORPUS
      // vectors, codes by the direct SSE argmin, per-query µ-unit distance
      // tables, ADC = exact long sum of m lookups, top-32 → exact-cosine
      // top-10 re-rank — every stage a deterministic total order
      Some {
        val sseQ = "list_sum(list_transform(generate_series(1, 8), " +
          "i -> (v.svec[i] - c.cvec[i]) * (v.svec[i] - c.cvec[i])))"
        s"""WITH sv AS (SELECT vec_id, j.s AS sub,
           |              list_transform(generate_series(1, 8),
           |                i -> CAST(embedding[CAST(j.s AS INT) * 8 + i] AS DOUBLE)) AS svec
           |            FROM embeddings, (SELECT unnest(generate_series(0, 7)) AS s) j),
           |cb AS (SELECT sub, CAST(vec_id - 5 AS INT) AS code, svec AS cvec
           |       FROM sv WHERE vec_id >= 5 AND vec_id < 21),
           |d AS (SELECT v.vec_id, v.sub, c.code,
           |        list_sum(list_transform(generate_series(1, 8),
           |          i -> (v.svec[i] - c.cvec[i]) * (v.svec[i] - c.cvec[i]))) AS sse
           |      FROM sv v JOIN cb c USING (sub) WHERE v.vec_id >= 5),
           |r AS (SELECT vec_id, sub, code,
           |        row_number() OVER (PARTITION BY vec_id, sub ORDER BY sse, code) AS rn
           |      FROM d),
           |codes AS (SELECT vec_id AS n_id, sub, code FROM r WHERE rn = 1),
           |qd AS (SELECT v.vec_id AS q_id, v.sub, c.code,
           |         ${US6(sseQ)} AS dist_us
           |       FROM sv v JOIN cb c USING (sub) WHERE v.vec_id < 5),
           |adc AS (SELECT q_id, n_id, sum(dist_us) AS adc_us
           |        FROM codes JOIN qd USING (sub, code) GROUP BY 1, 2),
           |cand AS (SELECT *, row_number() OVER (PARTITION BY q_id
           |                     ORDER BY adc_us, n_id) AS rn
           |         FROM adc),
           |e AS (SELECT vec_id, embedding, $NORM_SQL AS nrm FROM embeddings),
           |x AS (SELECT c.q_id, c.n_id, c.adc_us,
           |        ${DOT_SQL("q.embedding", "n.embedding")} / (q.nrm * n.nrm) AS cos
           |      FROM cand c JOIN e q ON q.vec_id = c.q_id
           |                  JOIN e n ON n.vec_id = c.n_id
           |      WHERE c.rn <= 32),
           |f AS (SELECT *, row_number() OVER (PARTITION BY q_id
           |                  ORDER BY cos DESC, n_id) AS rank
           |      FROM x)
           |SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank,
           |       CAST(adc_us AS DOUBLE) / 1000000.0 + 0 AS adc_dist,
           |       ${Q6("cos")} AS cos_sim
           |FROM f WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin
      }),

    QuerySpec("emb_ann_ivf", (s, dir) =>
      Vectors.annIvf(Tables.load(s, dir, "embeddings"), 5, 10)
        .orderBy(col("q_id"), col("rank")),
      // no oracle: Lloyd-trained centroids (the default lloydIters = 3)
      // have no DuckDB replay; the oracle-replayable IVF queries run
      // the zero-training (lloydIters = 0) seed quantizer
      oracle = None),

    // the faiss IVF-PQ composition under an exact oracle: cell pruning ×
    // ADC code scan × exact re-rank in ONE hash-gated plan (zero-training
    // quantizer + seed codebook, shared kernels with IvfIndex.queryPq)
    QuerySpec("emb_ann_ivfpq", (s, dir) =>
      Vectors.annIvfPq(Tables.load(s, dir, "embeddings"), 5, 10)
        .orderBy(col("q_id"), col("rank")),
      // Mirrors Vectors.annIvfPq: the emb_ann_ivf_served cell CTEs (cells,
      // assignment ties cell DESC, probe ranking ties cell ASC) composed
      // with the emb_ann_pq code chain — the ADC sum restricted to
      // candidates whose cell is probed by the query.
      Some {
        val sseQ = "list_sum(list_transform(generate_series(1, 8), " +
          "i -> (v.svec[i] - c.cvec[i]) * (v.svec[i] - c.cvec[i])))"
        s"""WITH e AS (SELECT vec_id, embedding, $NORM_SQL AS nrm FROM embeddings),
           |cc AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cvec,
           |             list_sum(list_transform(embedding,
           |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS cn2
           |      FROM e WHERE vec_id >= 5 ORDER BY vec_id LIMIT 16),
           |aa AS (SELECT e.vec_id, c.cell
           |      FROM e, cc c WHERE e.vec_id >= 5
           |      QUALIFY row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY (${DOT_SQL("e.embedding", "c.cvec")} * 2 - c.cn2) DESC, c.cell DESC) = 1),
           |iq AS (SELECT e.vec_id AS q_id, c.cell
           |       FROM e, cc c WHERE e.vec_id < 5
           |       QUALIFY row_number() OVER (PARTITION BY e.vec_id
           |         ORDER BY (${DOT_SQL("e.embedding", "c.cvec")} * 2 - c.cn2) DESC, c.cell ASC) <= 4),
           |sv AS (SELECT vec_id, j.s AS sub,
           |              list_transform(generate_series(1, 8),
           |                i -> CAST(embedding[CAST(j.s AS INT) * 8 + i] AS DOUBLE)) AS svec
           |            FROM embeddings, (SELECT unnest(generate_series(0, 7)) AS s) j),
           |cb AS (SELECT sub, CAST(vec_id - 5 AS INT) AS code, svec AS cvec
           |       FROM sv WHERE vec_id >= 5 AND vec_id < 21),
           |d AS (SELECT v.vec_id, v.sub, c.code,
           |        list_sum(list_transform(generate_series(1, 8),
           |          i -> (v.svec[i] - c.cvec[i]) * (v.svec[i] - c.cvec[i]))) AS sse
           |      FROM sv v JOIN cb c USING (sub) WHERE v.vec_id >= 5),
           |r AS (SELECT vec_id, sub, code,
           |        row_number() OVER (PARTITION BY vec_id, sub ORDER BY sse, code) AS rn
           |      FROM d),
           |codes AS (SELECT vec_id AS n_id, sub, code FROM r WHERE rn = 1),
           |nc AS (SELECT codes.n_id, codes.sub, codes.code, aa.cell
           |       FROM codes JOIN aa ON aa.vec_id = codes.n_id),
           |qd AS (SELECT v.vec_id AS q_id, v.sub, c.code,
           |         ${US6(sseQ)} AS dist_us
           |       FROM sv v JOIN cb c USING (sub) WHERE v.vec_id < 5),
           |adc AS (SELECT qd.q_id, nc.n_id, sum(qd.dist_us) AS adc_us
           |        FROM nc JOIN qd USING (sub, code)
           |             JOIN iq ON iq.q_id = qd.q_id AND iq.cell = nc.cell
           |        GROUP BY 1, 2),
           |cand AS (SELECT *, row_number() OVER (PARTITION BY q_id
           |                     ORDER BY adc_us, n_id) AS rn
           |         FROM adc),
           |x AS (SELECT c.q_id, c.n_id, c.adc_us,
           |        ${DOT_SQL("q.embedding", "n.embedding")} / (q.nrm * n.nrm) AS cos
           |      FROM cand c JOIN e q ON q.vec_id = c.q_id
           |                  JOIN e n ON n.vec_id = c.n_id
           |      WHERE c.rn <= 32),
           |f AS (SELECT *, row_number() OVER (PARTITION BY q_id
           |                  ORDER BY cos DESC, n_id) AS rank
           |      FROM x)
           |SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank,
           |       CAST(adc_us AS DOUBLE) / 1000000.0 + 0 AS adc_dist,
           |       ${Q6("cos")} AS cos_sim
           |FROM f WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin
      }),

    // the FUSED gate: recall of the shipped IVF-PQ composition — the
    // per-family gates measure each approximation alone, but cell and
    // ADC misses don't multiply independently, so the production config
    // carries its own measured recall
    QuerySpec("emb_ann_ivfpq_recall", (s, dir) =>
      Vectors.annRecallIvfPq(Tables.load(s, dir, "embeddings"), 5, 10),
      // Mirrors Vectors.annRecallIvfPq: the emb_ann_ivfpq CTE chain
      // verbatim through the fused ranking `f`, the exact-top-k pair CTE
      // (xp/exr), and the shared hit sums.
      Some {
        val sseQ = "list_sum(list_transform(generate_series(1, 8), " +
          "i -> (v.svec[i] - c.cvec[i]) * (v.svec[i] - c.cvec[i])))"
        s"""WITH e AS (SELECT vec_id, embedding, $NORM_SQL AS nrm FROM embeddings),
           |cc AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cvec,
           |             list_sum(list_transform(embedding,
           |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS cn2
           |      FROM e WHERE vec_id >= 5 ORDER BY vec_id LIMIT 16),
           |aa AS (SELECT e.vec_id, c.cell
           |      FROM e, cc c WHERE e.vec_id >= 5
           |      QUALIFY row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY (${DOT_SQL("e.embedding", "c.cvec")} * 2 - c.cn2) DESC, c.cell DESC) = 1),
           |iq AS (SELECT e.vec_id AS q_id, c.cell
           |       FROM e, cc c WHERE e.vec_id < 5
           |       QUALIFY row_number() OVER (PARTITION BY e.vec_id
           |         ORDER BY (${DOT_SQL("e.embedding", "c.cvec")} * 2 - c.cn2) DESC, c.cell ASC) <= 4),
           |sv AS (SELECT vec_id, j.s AS sub,
           |              list_transform(generate_series(1, 8),
           |                i -> CAST(embedding[CAST(j.s AS INT) * 8 + i] AS DOUBLE)) AS svec
           |            FROM embeddings, (SELECT unnest(generate_series(0, 7)) AS s) j),
           |cb AS (SELECT sub, CAST(vec_id - 5 AS INT) AS code, svec AS cvec
           |       FROM sv WHERE vec_id >= 5 AND vec_id < 21),
           |d AS (SELECT v.vec_id, v.sub, c.code,
           |        list_sum(list_transform(generate_series(1, 8),
           |          i -> (v.svec[i] - c.cvec[i]) * (v.svec[i] - c.cvec[i]))) AS sse
           |      FROM sv v JOIN cb c USING (sub) WHERE v.vec_id >= 5),
           |r AS (SELECT vec_id, sub, code,
           |        row_number() OVER (PARTITION BY vec_id, sub ORDER BY sse, code) AS rn
           |      FROM d),
           |codes AS (SELECT vec_id AS n_id, sub, code FROM r WHERE rn = 1),
           |nc AS (SELECT codes.n_id, codes.sub, codes.code, aa.cell
           |       FROM codes JOIN aa ON aa.vec_id = codes.n_id),
           |qd AS (SELECT v.vec_id AS q_id, v.sub, c.code,
           |         ${US6(sseQ)} AS dist_us
           |       FROM sv v JOIN cb c USING (sub) WHERE v.vec_id < 5),
           |adc AS (SELECT qd.q_id, nc.n_id, sum(qd.dist_us) AS adc_us
           |        FROM nc JOIN qd USING (sub, code)
           |             JOIN iq ON iq.q_id = qd.q_id AND iq.cell = nc.cell
           |        GROUP BY 1, 2),
           |cand AS (SELECT *, row_number() OVER (PARTITION BY q_id
           |                     ORDER BY adc_us, n_id) AS rn
           |         FROM adc),
           |x AS (SELECT c.q_id, c.n_id,
           |        ${DOT_SQL("q.embedding", "n.embedding")} / (q.nrm * n.nrm) AS cos
           |      FROM cand c JOIN e q ON q.vec_id = c.q_id
           |                  JOIN e n ON n.vec_id = c.n_id
           |      WHERE c.rn <= 32),
           |f AS (SELECT *, row_number() OVER (PARTITION BY q_id
           |                  ORDER BY cos DESC, n_id) AS rank
           |      FROM x),
           |xp AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           |             ${DOT_SQL("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
           |       FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id >= 5),
           |exr AS (SELECT q_id, n_id,
           |              row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
           |        FROM xp),
           |jx AS (SELECT x2.q_id, x2.rank AS rank_exact, l.rank AS rank_approx
           |       FROM (SELECT * FROM exr WHERE rank <= 10) x2
           |       LEFT JOIN (SELECT q_id, n_id, rank FROM f WHERE rank <= 10) l
           |         ON x2.q_id = l.q_id AND x2.n_id = l.n_id),
           |h AS (SELECT sum(CASE WHEN rank_exact <= 1 AND rank_approx <= 1 THEN 1 ELSE 0 END) AS hits_1,
           |             sum(CASE WHEN rank_exact <= 5 AND rank_approx <= 5 THEN 1 ELSE 0 END) AS hits_5,
           |             sum(CASE WHEN rank_exact <= 10 AND rank_approx <= 10 THEN 1 ELSE 0 END) AS hits_10,
           |             count(DISTINCT q_id) AS n_q
           |      FROM jx)
           |SELECT CAST(n_q AS BIGINT) AS n_q,
           |       CAST(hits_1 AS BIGINT) AS hits_1,
           |       ${Q6("CAST(hits_1 AS DOUBLE) / (n_q * 1)")} AS recall_1,
           |       CAST(hits_5 AS BIGINT) AS hits_5,
           |       ${Q6("CAST(hits_5 AS DOUBLE) / (n_q * 5)")} AS recall_5,
           |       CAST(hits_10 AS BIGINT) AS hits_10,
           |       ${Q6("CAST(hits_10 AS DOUBLE) / (n_q * 10)")} AS recall_10
           |FROM h""".stripMargin
      }),

    // the IVF SERVING path under an exact oracle: zero Lloyd rounds means
    // the quantizer is the deterministic lowest-id seed vectors, so DuckDB
    // replays assignment + nProbe probe ranking + exact re-rank
    // bit-for-bit; Lloyd refinement (emb_ann_ivf above) stays rows-only,
    // its training pinned by specs
    QuerySpec("emb_ann_ivf_served", (s, dir) =>
      Vectors.annIvf(Tables.load(s, dir, "embeddings"), 5, 10, lloydIters = 0)
        .orderBy(col("q_id"), col("rank")),
      // Mirrors Vectors.annIvf(lloydIters = 0) — the serving path with the
      // deterministic seed quantizer: centroids = the 16 lowest-id corpus
      // vectors (cell = vec_id rank), corpus assigned by argmax(2·v·c − |c|²)
      // with ties → max cell, queries probe the 4 best cells (ties → min
      // cell), candidates exact-cosine reranked. Every dot replays DOT_SQL's
      // index order, so the hash matches bit-for-bit.
      Some(s"""WITH e AS (SELECT vec_id, embedding, $NORM_SQL AS nrm FROM embeddings),
         |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cvec,
         |             list_sum(list_transform(embedding,
         |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS cn2
         |      FROM e WHERE vec_id >= 5 ORDER BY vec_id LIMIT 16),
         |a AS (SELECT e.vec_id, e.embedding, e.nrm, c.cell
         |      FROM e, c WHERE e.vec_id >= 5
         |      QUALIFY row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY (${DOT_SQL("e.embedding", "c.cvec")} * 2 - c.cn2) DESC, c.cell DESC) = 1),
         |p AS (SELECT e.vec_id, e.embedding, e.nrm, c.cell
         |      FROM e, c WHERE e.vec_id < 5
         |      QUALIFY row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY (${DOT_SQL("e.embedding", "c.cvec")} * 2 - c.cn2) DESC, c.cell ASC) <= 4),
         |r AS (SELECT p.vec_id AS q_id, a.vec_id AS n_id,
         |             ${DOT_SQL("p.embedding", "a.embedding")} / (p.nrm * a.nrm) AS cos
         |      FROM p JOIN a ON p.cell = a.cell),
         |rk AS (SELECT q_id, n_id, cos,
         |              row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |       FROM r)
         |SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank, ${Q6("cos")} AS cos_sim
         |FROM rk WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)),

    // metadata-FILTERED serving: same-label top-k with the filter applied
    // to the inverted lists (pre-filter), the production vector-search
    // shape — candidates join on (cell, label), never post-filtered; the
    // probe count self-scales with the filter's selectivity
    // (adaptiveProbe: min(nCells, nProbe·|labels|) — the r12 gate read
    // 0.30 @10 at a FIXED 4/16, exactly the thinned-inverted-list
    // failure the adaptive rule closes)
    QuerySpec("emb_ann_filtered", (s, dir) =>
      Vectors.annIvf(Tables.load(s, dir, "embeddings"), 5, 10, lloydIters = 0, byLabel = true)
        .orderBy(col("q_id"), col("rank")),
      // Mirrors Vectors.annIvf(byLabel = true): the emb_ann_ivf_served CTEs with
      // label carried through assignment and probes, the candidate join
      // keyed on (cell, label) — the pre-filter — and the ADAPTIVE probe
      // count (Vectors.adaptiveProbe): least(nCells, nProbe · |labels|),
      // replayed as integer arithmetic over one count-distinct (nl).
      Some(s"""WITH e AS (SELECT vec_id, embedding, label, $NORM_SQL AS nrm FROM embeddings),
         |nl AS (SELECT least(16, 4 * count(DISTINCT label)) AS np
         |       FROM e WHERE vec_id >= 5),
         |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cvec,
         |             list_sum(list_transform(embedding,
         |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS cn2
         |      FROM e WHERE vec_id >= 5 ORDER BY vec_id LIMIT 16),
         |a AS (SELECT e.vec_id, e.embedding, e.nrm, e.label, c.cell
         |      FROM e, c WHERE e.vec_id >= 5
         |      QUALIFY row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY (${DOT_SQL("e.embedding", "c.cvec")} * 2 - c.cn2) DESC, c.cell DESC) = 1),
         |p AS (SELECT e.vec_id, e.embedding, e.nrm, e.label, c.cell
         |      FROM e, c, nl WHERE e.vec_id < 5
         |      QUALIFY row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY (${DOT_SQL("e.embedding", "c.cvec")} * 2 - c.cn2) DESC, c.cell ASC) <= nl.np),
         |r AS (SELECT p.vec_id AS q_id, a.vec_id AS n_id, p.label,
         |             ${DOT_SQL("p.embedding", "a.embedding")} / (p.nrm * a.nrm) AS cos
         |      FROM p JOIN a ON p.cell = a.cell AND p.label = a.label),
         |rk AS (SELECT q_id, n_id, label, cos,
         |              row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |       FROM r)
         |SELECT q_id, n_id, CAST(label AS BIGINT) AS label,
         |       CAST(rank AS BIGINT) AS rank, ${Q6("cos")} AS cos_sim
         |FROM rk WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)),

    // the filtered acceptance gate, now gating the ADAPTIVE config the
    // line above actually ships (and with the honest denominator:
    // Σ_q min(c, admissible_q) — a selective filter can leave a query
    // fewer than c admissible vectors)
    QuerySpec("emb_ann_filtered_recall", (s, dir) =>
      Vectors.annRecallIvf(Tables.load(s, dir, "embeddings"), 5, 10, byLabel = true),
      // Mirrors Vectors.annRecallIvf(byLabel = true): the emb_ann_ivf_recall CTEs
      // with the label equality on BOTH sides — exact pairs restricted to
      // q.label = c.label, served candidates keyed on (cell, label) at the
      // ADAPTIVE probe count (nl, as in emb_ann_filtered) — and the
      // FILTERED denominator: Σ_q min(c, admissible_q) from the exact
      // side's per-query row counts (Vectors.recallFrom), not n_q·c, so a
      // query with < c admissible vectors can still read 1.0 when the
      // served path returns its complete admissible set.
      Some(s"""WITH e AS (SELECT vec_id, embedding, label, $NORM_SQL AS nrm FROM embeddings),
         |nl AS (SELECT least(16, 4 * count(DISTINCT label)) AS np
         |       FROM e WHERE vec_id >= 5),
         |p AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |             ${DOT_SQL("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |      FROM e q JOIN e c
         |        ON q.vec_id < 5 AND c.vec_id >= 5 AND q.label = c.label),
         |exr AS (SELECT q_id, n_id,
         |              row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |       FROM p),
         |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cvec,
         |             list_sum(list_transform(embedding,
         |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS cn2
         |      FROM e WHERE vec_id >= 5 ORDER BY vec_id LIMIT 16),
         |a AS (SELECT e.vec_id, e.embedding, e.nrm, e.label, c.cell
         |      FROM e, c WHERE e.vec_id >= 5
         |      QUALIFY row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY (${DOT_SQL("e.embedding", "c.cvec")} * 2 - c.cn2) DESC, c.cell DESC) = 1),
         |iq AS (SELECT e.vec_id, e.embedding, e.nrm, e.label, c.cell
         |       FROM e, c, nl WHERE e.vec_id < 5
         |       QUALIFY row_number() OVER (PARTITION BY e.vec_id
         |         ORDER BY (${DOT_SQL("e.embedding", "c.cvec")} * 2 - c.cn2) DESC, c.cell ASC) <= nl.np),
         |r AS (SELECT iq.vec_id AS q_id, a.vec_id AS n_id,
         |             ${DOT_SQL("iq.embedding", "a.embedding")} / (iq.nrm * a.nrm) AS cos
         |      FROM iq JOIN a ON iq.cell = a.cell AND iq.label = a.label),
         |ivfr AS (SELECT q_id, n_id,
         |              row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |       FROM r),
         |jx AS (SELECT x.q_id, x.rank AS rank_exact, l.rank AS rank_approx
         |       FROM (SELECT * FROM exr WHERE rank <= 10) x
         |       LEFT JOIN (SELECT * FROM ivfr WHERE rank <= 10) l
         |         ON x.q_id = l.q_id AND x.n_id = l.n_id),
         |den AS (SELECT count(*) AS n_q,
         |               sum(least(1, nex)) AS den_1,
         |               sum(least(5, nex)) AS den_5,
         |               sum(least(10, nex)) AS den_10
         |        FROM (SELECT q_id, count(*) AS nex
         |              FROM exr WHERE rank <= 10 GROUP BY q_id)),
         |h AS (SELECT sum(CASE WHEN rank_exact <= 1 AND rank_approx <= 1 THEN 1 ELSE 0 END) AS hits_1,
         |             sum(CASE WHEN rank_exact <= 5 AND rank_approx <= 5 THEN 1 ELSE 0 END) AS hits_5,
         |             sum(CASE WHEN rank_exact <= 10 AND rank_approx <= 10 THEN 1 ELSE 0 END) AS hits_10
         |      FROM jx)
         |SELECT CAST(den.n_q AS BIGINT) AS n_q,
         |       CAST(hits_1 AS BIGINT) AS hits_1,
         |       ${Q6("CAST(hits_1 AS DOUBLE) / den_1")} AS recall_1,
         |       CAST(hits_5 AS BIGINT) AS hits_5,
         |       ${Q6("CAST(hits_5 AS DOUBLE) / den_5")} AS recall_5,
         |       CAST(hits_10 AS BIGINT) AS hits_10,
         |       ${Q6("CAST(hits_10 AS DOUBLE) / den_10")} AS recall_10
         |FROM h, den""".stripMargin)),

    // the COMPLETE production composition: metadata pre-filter × cell
    // pruning × compressed-code ADC scan × exact re-rank fused in one
    // plan (faiss IVFPQ + IDSelector) — the label keys the CODE rows
    // (cell, label) so an inadmissible candidate never reaches the ADC
    // sum, and the probe count rides the same adaptive selectivity rule
    // as emb_ann_filtered
    QuerySpec("emb_ann_filtered_pq", (s, dir) =>
      Vectors.annIvfPq(Tables.load(s, dir, "embeddings"), 5, 10, lloydIters = 0, byLabel = true)
        .orderBy(col("q_id"), col("rank")),
      // Mirrors Vectors.annIvfPq(byLabel = true): the emb_ann_ivfpq CTE chain with
      // the label carried through assignment (aa) and probes (iq) at the
      // ADAPTIVE probe count (nl), the code rows keyed (cell, label) in
      // the ADC join — an inadmissible candidate never enters the sum —
      // and the label surfaced through the rerank cut and exact re-rank.
      Some {
        val sseQ = "list_sum(list_transform(generate_series(1, 8), " +
          "i -> (v.svec[i] - c.cvec[i]) * (v.svec[i] - c.cvec[i])))"
        s"""WITH e AS (SELECT vec_id, embedding, label, $NORM_SQL AS nrm FROM embeddings),
           |nl AS (SELECT least(16, 4 * count(DISTINCT label)) AS np
           |       FROM e WHERE vec_id >= 5),
           |cc AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cvec,
           |             list_sum(list_transform(embedding,
           |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS cn2
           |      FROM e WHERE vec_id >= 5 ORDER BY vec_id LIMIT 16),
           |aa AS (SELECT e.vec_id, e.label, c.cell
           |      FROM e, cc c WHERE e.vec_id >= 5
           |      QUALIFY row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY (${DOT_SQL("e.embedding", "c.cvec")} * 2 - c.cn2) DESC, c.cell DESC) = 1),
           |iq AS (SELECT e.vec_id AS q_id, e.label, c.cell
           |       FROM e, cc c, nl WHERE e.vec_id < 5
           |       QUALIFY row_number() OVER (PARTITION BY e.vec_id
           |         ORDER BY (${DOT_SQL("e.embedding", "c.cvec")} * 2 - c.cn2) DESC, c.cell ASC) <= nl.np),
           |sv AS (SELECT vec_id, j.s AS sub,
           |              list_transform(generate_series(1, 8),
           |                i -> CAST(embedding[CAST(j.s AS INT) * 8 + i] AS DOUBLE)) AS svec
           |            FROM embeddings, (SELECT unnest(generate_series(0, 7)) AS s) j),
           |cb AS (SELECT sub, CAST(vec_id - 5 AS INT) AS code, svec AS cvec
           |       FROM sv WHERE vec_id >= 5 AND vec_id < 21),
           |d AS (SELECT v.vec_id, v.sub, c.code,
           |        list_sum(list_transform(generate_series(1, 8),
           |          i -> (v.svec[i] - c.cvec[i]) * (v.svec[i] - c.cvec[i]))) AS sse
           |      FROM sv v JOIN cb c USING (sub) WHERE v.vec_id >= 5),
           |r AS (SELECT vec_id, sub, code,
           |        row_number() OVER (PARTITION BY vec_id, sub ORDER BY sse, code) AS rn
           |      FROM d),
           |codes AS (SELECT vec_id AS n_id, sub, code FROM r WHERE rn = 1),
           |nc AS (SELECT codes.n_id, codes.sub, codes.code, aa.cell, aa.label
           |       FROM codes JOIN aa ON aa.vec_id = codes.n_id),
           |qd AS (SELECT v.vec_id AS q_id, v.sub, c.code,
           |         ${US6(sseQ)} AS dist_us
           |       FROM sv v JOIN cb c USING (sub) WHERE v.vec_id < 5),
           |adc AS (SELECT qd.q_id, nc.n_id, nc.label, sum(qd.dist_us) AS adc_us
           |        FROM nc JOIN qd USING (sub, code)
           |             JOIN iq ON iq.q_id = qd.q_id AND iq.cell = nc.cell
           |                    AND iq.label = nc.label
           |        GROUP BY 1, 2, 3),
           |cand AS (SELECT *, row_number() OVER (PARTITION BY q_id
           |                     ORDER BY adc_us, n_id) AS rn
           |         FROM adc),
           |x AS (SELECT c.q_id, c.n_id, c.label, c.adc_us,
           |        ${DOT_SQL("q.embedding", "n.embedding")} / (q.nrm * n.nrm) AS cos
           |      FROM cand c JOIN e q ON q.vec_id = c.q_id
           |                  JOIN e n ON n.vec_id = c.n_id
           |      WHERE c.rn <= 32),
           |f AS (SELECT *, row_number() OVER (PARTITION BY q_id
           |                  ORDER BY cos DESC, n_id) AS rank
           |      FROM x)
           |SELECT q_id, n_id, CAST(label AS BIGINT) AS label,
           |       CAST(rank AS BIGINT) AS rank,
           |       CAST(adc_us AS DOUBLE) / 1000000.0 + 0 AS adc_dist,
           |       ${Q6("cos")} AS cos_sim
           |FROM f WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin
      }),

    // its acceptance gate: the fused config vs the exact same-label
    // top-k, filtered denominator Σ_q min(c, admissible_q) — cell, ADC,
    // and filter misses interact, so the shipped composition carries its
    // own measured recall
    QuerySpec("emb_ann_filtered_pq_recall", (s, dir) =>
      Vectors.annRecallIvfPq(Tables.load(s, dir, "embeddings"), 5, 10, byLabel = true),
      // Mirrors Vectors.annRecallIvfPq(byLabel = true): the emb_ann_filtered_pq
      // CTE chain verbatim through the fused ranking `f`, the exact
      // SAME-LABEL top-k side (xp/exr — label as a join condition), the
      // filtered denominator Σ_q min(c, admissible_q), and the shared hit
      // sums.
      Some {
        val sseQ = "list_sum(list_transform(generate_series(1, 8), " +
          "i -> (v.svec[i] - c.cvec[i]) * (v.svec[i] - c.cvec[i])))"
        s"""WITH e AS (SELECT vec_id, embedding, label, $NORM_SQL AS nrm FROM embeddings),
           |nl AS (SELECT least(16, 4 * count(DISTINCT label)) AS np
           |       FROM e WHERE vec_id >= 5),
           |cc AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cvec,
           |             list_sum(list_transform(embedding,
           |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS cn2
           |      FROM e WHERE vec_id >= 5 ORDER BY vec_id LIMIT 16),
           |aa AS (SELECT e.vec_id, e.label, c.cell
           |      FROM e, cc c WHERE e.vec_id >= 5
           |      QUALIFY row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY (${DOT_SQL("e.embedding", "c.cvec")} * 2 - c.cn2) DESC, c.cell DESC) = 1),
           |iq AS (SELECT e.vec_id AS q_id, e.label, c.cell
           |       FROM e, cc c, nl WHERE e.vec_id < 5
           |       QUALIFY row_number() OVER (PARTITION BY e.vec_id
           |         ORDER BY (${DOT_SQL("e.embedding", "c.cvec")} * 2 - c.cn2) DESC, c.cell ASC) <= nl.np),
           |sv AS (SELECT vec_id, j.s AS sub,
           |              list_transform(generate_series(1, 8),
           |                i -> CAST(embedding[CAST(j.s AS INT) * 8 + i] AS DOUBLE)) AS svec
           |            FROM embeddings, (SELECT unnest(generate_series(0, 7)) AS s) j),
           |cb AS (SELECT sub, CAST(vec_id - 5 AS INT) AS code, svec AS cvec
           |       FROM sv WHERE vec_id >= 5 AND vec_id < 21),
           |d AS (SELECT v.vec_id, v.sub, c.code,
           |        list_sum(list_transform(generate_series(1, 8),
           |          i -> (v.svec[i] - c.cvec[i]) * (v.svec[i] - c.cvec[i]))) AS sse
           |      FROM sv v JOIN cb c USING (sub) WHERE v.vec_id >= 5),
           |r AS (SELECT vec_id, sub, code,
           |        row_number() OVER (PARTITION BY vec_id, sub ORDER BY sse, code) AS rn
           |      FROM d),
           |codes AS (SELECT vec_id AS n_id, sub, code FROM r WHERE rn = 1),
           |nc AS (SELECT codes.n_id, codes.sub, codes.code, aa.cell, aa.label
           |       FROM codes JOIN aa ON aa.vec_id = codes.n_id),
           |qd AS (SELECT v.vec_id AS q_id, v.sub, c.code,
           |         ${US6(sseQ)} AS dist_us
           |       FROM sv v JOIN cb c USING (sub) WHERE v.vec_id < 5),
           |adc AS (SELECT qd.q_id, nc.n_id, nc.label, sum(qd.dist_us) AS adc_us
           |        FROM nc JOIN qd USING (sub, code)
           |             JOIN iq ON iq.q_id = qd.q_id AND iq.cell = nc.cell
           |                    AND iq.label = nc.label
           |        GROUP BY 1, 2, 3),
           |cand AS (SELECT *, row_number() OVER (PARTITION BY q_id
           |                     ORDER BY adc_us, n_id) AS rn
           |         FROM adc),
           |x AS (SELECT c.q_id, c.n_id,
           |        ${DOT_SQL("q.embedding", "n.embedding")} / (q.nrm * n.nrm) AS cos
           |      FROM cand c JOIN e q ON q.vec_id = c.q_id
           |                  JOIN e n ON n.vec_id = c.n_id
           |      WHERE c.rn <= 32),
           |f AS (SELECT *, row_number() OVER (PARTITION BY q_id
           |                  ORDER BY cos DESC, n_id) AS rank
           |      FROM x),
           |xp AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           |             ${DOT_SQL("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
           |       FROM e q JOIN e c
           |         ON q.vec_id < 5 AND c.vec_id >= 5 AND q.label = c.label),
           |exr AS (SELECT q_id, n_id,
           |              row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
           |        FROM xp),
           |jx AS (SELECT x2.q_id, x2.rank AS rank_exact, l.rank AS rank_approx
           |       FROM (SELECT * FROM exr WHERE rank <= 10) x2
           |       LEFT JOIN (SELECT q_id, n_id, rank FROM f WHERE rank <= 10) l
           |         ON x2.q_id = l.q_id AND x2.n_id = l.n_id),
           |den AS (SELECT count(*) AS n_q,
           |               sum(least(1, nex)) AS den_1,
           |               sum(least(5, nex)) AS den_5,
           |               sum(least(10, nex)) AS den_10
           |        FROM (SELECT q_id, count(*) AS nex
           |              FROM exr WHERE rank <= 10 GROUP BY q_id)),
           |h AS (SELECT sum(CASE WHEN rank_exact <= 1 AND rank_approx <= 1 THEN 1 ELSE 0 END) AS hits_1,
           |             sum(CASE WHEN rank_exact <= 5 AND rank_approx <= 5 THEN 1 ELSE 0 END) AS hits_5,
           |             sum(CASE WHEN rank_exact <= 10 AND rank_approx <= 10 THEN 1 ELSE 0 END) AS hits_10
           |      FROM jx)
           |SELECT CAST(den.n_q AS BIGINT) AS n_q,
           |       CAST(hits_1 AS BIGINT) AS hits_1,
           |       ${Q6("CAST(hits_1 AS DOUBLE) / den_1")} AS recall_1,
           |       CAST(hits_5 AS BIGINT) AS hits_5,
           |       ${Q6("CAST(hits_5 AS DOUBLE) / den_5")} AS recall_5,
           |       CAST(hits_10 AS BIGINT) AS hits_10,
           |       ${Q6("CAST(hits_10 AS DOUBLE) / den_10")} AS recall_10
           |FROM h, den""".stripMargin
      }),
  )

  // ---- DuckDB oracle building blocks ------------------------------

  /** x^k as the LEFT-FOLD of k multiplications from 1.0 — the exact
    * IEEE sequence Vectors.expectedBandRecall's powN loop runs, so the
    * replay is bit-identical without trusting either engine's pow().
    * generate_series(1, 0) is empty, so k = 0 folds to 1.0.
    */
  private def powFoldSql(x: String, k: String): String =
    s"list_reduce(list_prepend(CAST(1.0 AS DOUBLE), " +
      s"list_transform(generate_series(1, $k), i -> ($x))), (a, b) -> a * b)"

  /** Per-table hit p^b + f·p^(b−1)(1−p) with the one-flip-floor budget
    * f = min(b, max(1, 16 − b)) — mirrors expectedBandRecall.hit.
    */
  private def bandHitSql(p: String, bits: String): String =
    s"(${powFoldSql(p, bits)} + " +
      s"CAST(least($bits, greatest(1, 16 - ($bits))) AS DOUBLE) * " +
      s"${powFoldSql(p, s"($bits) - 1")} * (CAST(1.0 AS DOUBLE) - $p))"

  /** 1 − (1−hit(b0+1))^nup (1−hit(b0))^(16−nup) over bsel's config —
    * mirrors Vectors.expectedBandRecall (p arrives as the shared
    * decimal literal from Vectors.bandP, never a libm acos).
    */
  private def expRecallSql(pLit: String): String = {
    val p = s"CAST($pLit AS DOUBLE)"
    s"(CAST(1.0 AS DOUBLE) - " +
      s"${powFoldSql(s"(CAST(1.0 AS DOUBLE) - ${bandHitSql(p, "(b0 + 1)")})", "nup")} * " +
      s"${powFoldSql(s"(CAST(1.0 AS DOUBLE) - ${bandHitSql(p, "b0")})", "(16 - nup)")})"
  }
  /** Mirrors graft.sim.Vectors.cosinePairsLshAuto (tau = 0.4, 16 tables,
    * fractional-bit occupancy budget) — buckets from the same md5-derived
    * planes, per-table widths from the same (b0, nUp) rule
    * (Vectors.autoBitsFrac: b0 = clamp(⌊log₂⌈n/4⌉⌋, 8, 28); nUp tables
    * bucket at b0 + 1 bits so the mean per-table collision rate stays
    * 1/⌈n/4⌉ instead of riding the power-of-two occupancy sawtooth —
    * nUp = (64·(u − 2^b0) + u) div (2u), exact integer half-up),
    * candidates = pairs whose buckets collide exactly or within the
    * per-table-width FLIP BUDGET (min(bits, max(1, 16 − bits)) 1-bit
    * probes — all bits at the b=8 floor, ONE from b ≥ 16) from either
    * endpoint — least/greatest symmetrizes the probe direction — then
    * exact cosine ≥ 0.4 verify in DOT_SQL's index order. Shared by
    * emb_cosine_pairs / emb_knn / emb_clusters / emb_lsh_load; yields
    * `pr` (id_a < id_b, raw cos) and `bk` (per-table buckets).
    */
  private val LSH_PAIR_CTES =
    s"""e AS (SELECT vec_id, embedding, $NORM_SQL AS nrm FROM embeddings),
       |bsel AS (SELECT b0, CASE WHEN b0 >= 28 OR u <= (CAST(1 AS BIGINT) << b0) THEN 0
       |                ELSE least(16, (64 * (u - (CAST(1 AS BIGINT) << b0)) + u) // (2 * u))
       |                END AS nup
       |         FROM (SELECT u, coalesce(
       |                 (SELECT max(k)
       |                  FROM (SELECT unnest(generate_series(8, 28)) AS k) ks
       |                  WHERE (CAST(1 AS BIGINT) << k) <= u), 8) AS b0
       |               FROM (SELECT (n + 3) // 4 AS u
       |                     FROM (SELECT count(*) AS n FROM embeddings) nn) uu) bb),
       |tsel AS (SELECT t.t AS tbl,
       |                bsel.b0 + (CASE WHEN t.t < bsel.nup THEN 1 ELSE 0 END) AS bits
       |         FROM (SELECT unnest(generate_series(0, 15)) AS t) t, bsel),
       |bk AS (SELECT e.vec_id, tsel.tbl,
       |         CAST(list_sum(list_transform(generate_series(0, tsel.bits - 1), bb ->
       |           CASE WHEN list_sum(list_transform(generate_series(1, 64), dd ->
       |                  CAST(e.embedding[dd] AS DOUBLE) * ${PLANE_SQL("tsel.tbl", "bb", "dd - 1")})) > 0
       |                THEN (CAST(1 AS BIGINT) << bb) ELSE 0 END)) AS BIGINT) AS bucket
       |       FROM e, tsel),
       |pp AS (SELECT vec_id, tbl,
       |              xor(bucket, unnest(list_prepend(CAST(0 AS BIGINT),
       |                list_transform(
       |                  generate_series(0, least(bits, greatest(1, 16 - bits)) - 1),
       |                  j -> CAST(1 AS BIGINT) << j)))) AS bucket
       |       FROM (SELECT b.vec_id, b.tbl, b.bucket, t.bits
       |             FROM bk b JOIN tsel t ON t.tbl = b.tbl) wb),
       |cand AS (SELECT DISTINCT least(p.vec_id, q.vec_id) AS id_a,
       |                         greatest(p.vec_id, q.vec_id) AS id_b
       |         FROM pp p JOIN bk q ON p.tbl = q.tbl AND p.bucket = q.bucket
       |         WHERE p.vec_id <> q.vec_id),
       |pr AS (SELECT id_a, id_b,
       |              ${DOT_SQL("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
       |       FROM cand JOIN e a ON a.vec_id = id_a JOIN e b ON b.vec_id = id_b
       |       WHERE ${DOT_SQL("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.4)""".stripMargin
}
