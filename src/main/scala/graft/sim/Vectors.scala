package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search over Array[Float] columns: brute-force
  * cosine (the correctness baseline) and random-hyperplane LSH (the scale
  * path).
  *
  * Numeric discipline: dot products and norms are accumulated in DOUBLE in
  * index order (the codegen'd `FloatVectorDot` expression — same value, to
  * the bit, as `aggregate(zip_with(...))`), which the DuckDB oracle mirrors
  * term-for-term (`list_sum(list_transform(...))`) — the two engines
  * produce bit-identical cosines, so threshold predicates select identical
  * pair sets (no boundary flakiness).
  */
object Vectors {
  import graft.plans.FloatVectorDot.dot

  /** Precompute the L2 norm once per vector — at pair time cosine is one
    * dot product and one divide, not three reductions. Rebalanced first:
    * vector math downstream is CPU-bound and must not inherit a
    * single-file scan's parallelism (see Tables.rebalance).
    */
  def withNorm(emb: DataFrame, vecCol: String = "embedding"): DataFrame =
    graft.Tables.rebalance(emb).withColumn("nrm", sqrt(dot(col(vecCol), col(vecCol))))

  private def cosine: Column =
    (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos")

  /** (id_a, va, na) and (id_b, vb, nb) sides of `emb`; `carry` names
    * columns (the filter label) kept unrenamed on both sides.
    */
  private def pairBase(emb: DataFrame,
                       carry: Seq[String] = Nil): (DataFrame, DataFrame) = {
    val kept = carry.map(col)
    val e = withNorm(emb).select(Seq(col("vec_id"), col("embedding"), col("nrm")) ++ kept: _*)
    (e.select(Seq(col("vec_id").as("id_a"), col("embedding").as("va"), col("nrm").as("na")) ++
        kept: _*),
      e.select(Seq(col("vec_id").as("id_b"), col("embedding").as("vb"), col("nrm").as("nb")) ++
        kept: _*))
  }

  /** All pairs with cosine ≥ tau (quadratic — scope with idLimit for
    * oracle-sized runs; LSH below is the corpus-scale path).
    */
  def cosinePairs(emb: DataFrame, tau: Double, idLimit: Option[Long] = None): DataFrame = {
    val scoped = idLimit.fold(emb)(l => emb.filter(col("vec_id") < l))
    val (a, b) = pairBase(scoped)
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", cosine)
      .filter(col("cos") >= tau)
      .select(col("id_a"), col("id_b"), graft.Quant.q6(col("cos")).as("cos_sim"))
  }

  /** Embedding hygiene: per-vector L2 norm (degenerate/zero/denormal
    * vectors poison cosine math and betray upstream encoder bugs) — one
    * narrow codegen'd pass, no shuffle. The norm is the same index-ordered
    * double reduction the cosine path uses, so the audit measures exactly
    * what similarity search will see.
    */
  def norms(emb: DataFrame, vecCol: String = "embedding"): DataFrame =
    withNorm(emb, vecCol).select(
      col("vec_id"),
      size(col(vecCol)).cast("long").as("n_dims"),
      graft.Quant.q6(col("nrm")).as("l2_norm"))

  /** Embedding hygiene: per-dimension distribution across the corpus
    * (min/mean/max per coordinate) — dead dimensions (constant or ~0) and
    * scale outliers mean the encoder or a normalization step is broken.
    * posexplode → groupBy(dim): the shuffle carries exactly corpus×dim
    * scalar rows with map-side partial aggregation; per-dim groups are
    * corpus-sized (unbounded), so means accumulate DECIMAL micro-units per
    * the graft.Quant rule.
    */
  def dimStats(emb: DataFrame, vecCol: String = "embedding"): DataFrame =
    graft.Tables.rebalance(emb)
      .select(posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(
        min(col("x")).cast("double").as("d_min"),
        graft.Quant.mean6(graft.Quant.sumUs6Unbounded(col("x").cast("double")),
          count(lit(1))).as("d_mean"),
        max(col("x")).cast("double").as("d_max"),
        count(lit(1)).as("n"))

  /** Embedding hygiene: cosine of every vector against the corpus
    * centroid — the distribution-outlier audit (wrong-modality or garbage
    * vectors sit far from the mass even when their norms look healthy;
    * the centroid-sim histogram is the first thing to look at after an
    * encoder change). The centroid's per-dimension means use the same
    * exact micro-unit sums as dimStats and are 6dp-quantized, so the
    * centroid itself is engine-portable and the oracle replays it
    * bit-for-bit. One posexplode aggregation produces the 1-row centroid
    * (metadata-scale), broadcast back over a single corpus pass —
    * nothing pairwise at any corpus size.
    */
  def centroidSim(emb: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val cent = graft.Tables.rebalance(emb)
      .select(posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(graft.Quant.mean6(graft.Quant.sumUs6Unbounded(col("x").cast("double")),
        count(lit(1))).as("m"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        p => p.getField("m")).as("cvec"))
      .withColumn("cnrm", sqrt(dot(col("cvec"), col("cvec"))))
    withNorm(emb, vecCol)
      .crossJoin(broadcast(cent))
      .select(col("vec_id"),
        when(col("nrm") > 0 && col("cnrm") > 0,
          graft.Quant.q6(dot(col(vecCol), col("cvec")) / (col("nrm") * col("cnrm"))))
          .as("centroid_sim"))
  }

  /** Per-label exact-mean centroids (the centroidSim arithmetic grouped
    * by label): #labels × dim rows reduced to one (label, cvec, cnrm)
    * row each — metadata-scale, broadcastable.
    */
  private def labelCentroids(emb: DataFrame, labelCol: String,
                             vecCol: String): DataFrame =
    graft.Tables.rebalance(emb)
      .select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(graft.Quant.mean6(graft.Quant.sumUs6Unbounded(col("x").cast("double")),
        count(lit(1))).as("m"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        p => p.getField("m")).as("cvec"))
      .withColumn("cnrm", sqrt(dot(col("cvec"), col("cvec"))))

  /** Class-cohesion audit — for every label: member count and mean
    * cosine of members to their OWN label centroid (low cohesion =
    * noisy / mislabeled class, the curriculum-mixing health check).
    * One posexplode aggregation for the centroids (metadata-scale,
    * broadcast back) + one corpus pass; the per-member cosines are
    * q6-exact and averaged via the µ-unit integer mean, so the
    * aggregate is partition-order-free and oracle-replayable.
    * Zero-norm members (null cosine) are excluded from n.
    */
  def labelCohesion(emb: DataFrame, labelCol: String = "label",
                    vecCol: String = "embedding"): DataFrame = {
    val cents = labelCentroids(emb, labelCol, vecCol)
    withNorm(emb, vecCol)
      .select(col(labelCol).as("label"), col(vecCol).as("v"), col("nrm"))
      .join(broadcast(cents), Seq("label"))
      .select(col("label"),
        when(col("nrm") > 0 && col("cnrm") > 0,
          graft.Quant.q6(dot(col("v"), col("cvec")) / (col("nrm") * col("cnrm"))))
          .as("cos"))
      .filter(col("cos").isNotNull)
      .withColumn("c_us", graft.Quant.us6(col("cos")).cast("decimal(38,0)"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        graft.Quant.mean6(sum(col("c_us")), count(lit(1))).as("mean_cos"))
  }

  /** Class-separation audit — the cosine between every pair of label
    * centroids (labels² rows, metadata-scale; high off-diagonal
    * similarity = classes an embedding-space dedup or router cannot
    * tell apart). Both sides of the product are the broadcastable
    * centroid table, so the "join" is labels × labels, never
    * corpus-anything.
    */
  def labelCentroidSim(emb: DataFrame, labelCol: String = "label",
                       vecCol: String = "embedding"): DataFrame = {
    val cents = labelCentroids(emb, labelCol, vecCol)
    val a = cents.select(col("label").as("label_a"), col("cvec").as("va"),
      col("cnrm").as("na"))
    val b = cents.select(col("label").as("label_b"), col("cvec").as("vb"),
      col("cnrm").as("nb"))
    a.crossJoin(broadcast(b))
      .select(col("label_a"), col("label_b"),
        when(col("na") > 0 && col("nb") > 0,
          graft.Quant.q6(dot(col("va"), col("vb")) / (col("na") * col("nb"))))
          .as("sim"))
  }

  /** Embedding-space outlier audit — the "find the corrupt / off-domain
    * vectors" cleaning pass a training pipeline runs before dedup: the
    * z-score of each vector's centroid cosine against the corpus
    * distribution, |z| ≥ τ flagged. The q6-quantized centroid_sim is
    * already engine-exact; its exact integer micro-unit form feeds one
    * moment row (n, Σ, Σ² — DECIMAL, unbounded group per the Quant
    * overflow rule) broadcast back, and mean/std/z assemble in the same
    * deterministic float expression as ts_anomaly — the anomaly recipe
    * pointed at the embedding axis. One narrow pass + one 1-row
    * broadcast: nothing pairwise at any corpus size. Zero-norm vectors
    * (null cosine) are excluded from both the moments and the output.
    */
  def outliers(emb: DataFrame, zThresh: Double, vecCol: String = "embedding"): DataFrame = {
    require(zThresh > 0, s"zThresh must be positive, got $zThresh")
    val sims = centroidSim(emb, vecCol)
      .filter(col("centroid_sim").isNotNull)
      .withColumn("s_us", graft.Quant.us6(col("centroid_sim")).cast("decimal(38,0)"))
    val stats = sims.agg(
      sum(col("s_us")).as("s1"),
      sum(col("s_us") * col("s_us")).as("s2"),
      count(lit(1)).as("n"))
    val mean = col("s1").cast("double") / col("n")
    val std = sqrt(col("s2").cast("double") / col("n") - mean * mean)
    val z = (col("s_us").cast("double") - mean) / std
    sims.crossJoin(broadcast(stats))
      .filter(std > 0 && abs(z) >= zThresh)
      .select(col("vec_id"), col("centroid_sim"), graft.Quant.q6(z).as("z_score"))
  }

  /** Dominant-direction audit — `iters` power-iteration steps toward the
    * top principal component of the CENTERED embedding cloud (the
    * anisotropy pathology of Mu & Viswanath 2018 "All-but-the-top": a
    * large common direction eats the similarity signal; its variance
    * share is the first number to check after an encoder change).
    * Emits one row per dimension: the per-dim mean, the unit loading of
    * the dominant direction, and the direction's variance share
    * (Rayleigh quotient / trace).
    *
    * Determinism contract: vectors quantize to exact integer µ-units,
    * centered on the rounded-integer per-dim mean; each iteration
    * computes v′ = Σᵢ x̃ᵢ(x̃ᵢ·v) in exact integer arithmetic (per-row
    * dots in longs, per-dim sums in DECIMAL — the unbounded-group rule)
    * and rescales to max|v′ₖ| = 10⁶ with ONE deterministic float
    * expression per component. The oracle replays the identical
    * integers through the Gram matrix: Σᵢ x̃ᵢ(x̃ᵢ·v) = (Σᵢ x̃ᵢx̃ᵢᵀ)v
    * exactly (integer arithmetic is associative), so it precomputes G
    * once and runs the same iterations as 64×64 list math in a
    * recursive CTE. The all-ones seed makes the run deterministic; the
    * audit is DEFINED as `iters` steps from that seed, so convergence
    * is not part of the contract.
    *
    * Scale shape: one posexplode aggregation for the means
    * (metadata-scale, broadcast back), then per iteration ONE narrow
    * corpus pass — per-row dot against the broadcast 1-row v, 64
    * map-side-partial decimal sums, no explode, no shuffle wider than
    * 64 partials per task. Nothing pairwise, nothing driver-side but
    * the plan itself.
    */
  def pcaPower(emb: DataFrame, dim: Int, iters: Int = 5,
               vecCol: String = "embedding"): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    require(iters >= 0, s"iters must be non-negative, got $iters")
    val session = emb.sparkSession
    val mu = graft.Tables.rebalance(emb)
      .select(posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(round(graft.Quant.sumUs6Unbounded(col("x").cast("double")).cast("double") /
        count(lit(1)), 0).cast("long").as("m_us"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m_us")))),
        p => p.getField("m_us")).as("mu"))
    val xq = graft.Tables.rebalance(emb)
      .crossJoin(broadcast(mu))
      .select(col("vec_id"), expr(
        s"""zip_with(transform($vecCol,
           |  e -> CAST(round(CAST(e AS DOUBLE) * 1000000.0D, 0) AS BIGINT)),
           |mu, (a, b) -> a - b)""".stripMargin).as("xq"))
    val dot = expr(
      "aggregate(zip_with(xq, v, (a, b) -> a * b), CAST(0 AS BIGINT), (s, p) -> s + p)")
    // Iterations are EAGER, MLlib-style: the quantized frame persists
    // once (a lazily-nested plan would rescan + recenter the corpus per
    // broadcast subtree — 7 scans) and each step collects only the 64
    // per-dim sums, re-emitting v as a literal — driver state is 64
    // longs, never data. Per-dim sums via posexplode + groupBy(dim), the
    // centroidSim shape: a single 64-column decimal projection would
    // blow the codegen method limit (Janino falls back to interpreted);
    // this stays narrow, map-side partials bounding the shuffle at 64
    // partials per task. The driver rescale replays EXACTLY the engine
    // float contract: BigDecimal.doubleValue is the DECIMAL→DOUBLE cast,
    // the division and ×10⁶ are IEEE, and the scale-0 HALF_UP round is
    // the graft.Quant rule — so the oracle's in-SQL iterations still
    // match bit for bit.
    val xqC = xq.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def rnd0(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    var v: Seq[Long] = Seq.fill(dim)(1000000L)
    for (_ <- 0 until iters) {
      val sums = xqC.withColumn("v", typedLit(v)).withColumn("dot", dot)
        .select(col("dot"), posexplode(col("xq")).as(Seq("dim", "xv")))
        .groupBy(col("dim"))
        .agg(sum(expr("CAST(xv AS DECIMAL(38,0)) * dot")).as("s"))
        .collect().map(r => r.getInt(0) -> r.getDecimal(1)).sortBy(_._1).map(_._2)
      val ma = sums.map(_.abs).reduceOption(_ max _)
      v =
        if (ma.forall(_.signum == 0)) Seq.fill(dim)(0L)
        else sums.map(s => rnd0(s.doubleValue / ma.get.doubleValue * 1e6)).toSeq
    }
    val vFrame = session.range(1).select(typedLit(v).as("v"))
    // The Rayleigh stats are ONE row — collect them eagerly (like every
    // iteration step) so xqC can unpersist HERE. Returning a lazy plan
    // over the persisted frame leaked one cached corpus-derived RDD per
    // call (the bench re-measure showed it: reps ran SLOWER than first
    // as storage eviction churned); the stats re-enter the plan as
    // literals, identical decimal→double arithmetic.
    val statsRow = xqC.withColumn("v", typedLit(v)).withColumn("dot", dot)
      .agg(
        sum(expr("CAST(dot AS DECIMAL(38,0)) * dot")).as("num"),
        sum(expr("aggregate(transform(xq, a -> a * a), CAST(0 AS BIGINT), (s, p) -> s + p)")
          .cast("decimal(38,0)")).as("trace"))
      .collect()(0)
    xqC.unpersist()
    def decLit(i: Int): Column =
      Option(statsRow.getDecimal(i)).map(d => lit(d).cast("decimal(38,0)"))
        .getOrElse(lit(null).cast("decimal(38,0)"))
    val stats = session.range(1)
      .select(decLit(0).as("num"), decLit(1).as("trace"))
    vFrame
      .withColumn("den",
        expr("aggregate(transform(v, a -> a * a), CAST(0 AS BIGINT), (s, p) -> s + p)"))
      .crossJoin(broadcast(stats))
      .crossJoin(broadcast(mu))
      .select(col("den"), col("num"), col("trace"), col("mu"),
        posexplode(col("v")).as(Seq("dim", "vk")))
      .select(
        col("dim").cast("long").as("dim"),
        (element_at(col("mu"), col("dim").cast("int") + 1).cast("double") / 1e6
          + lit(0d)).as("mean"),
        (when(col("den") === 0, lit(0d))
          .otherwise(col("vk").cast("double") / sqrt(col("den").cast("double")))
          + lit(0d)).as("loading"),
        (when(col("den") === 0 || col("trace") === 0, lit(0d))
          .otherwise(col("num").cast("double") /
            (col("den").cast("double") * col("trace").cast("double")))
          + lit(0d)).as("lambda_share"))
  }

  /** Int8 scalar-quantization audit — the "can we ship these embeddings
    * as int8" report: per-dimension (min, max) over the corpus define the
    * 256-level grid (code = round((x − min)/scale), scale = range/255 —
    * the standard SQ8 codec), and every vector reports its mean and max
    * absolute reconstruction error. Two passes, both narrow: one
    * posexplode aggregation for the per-dim ranges (metadata-scale,
    * broadcast back) and one codegen'd HOF projection for the errors —
    * no shuffle wider than the range table, no pairwise anything.
    * Constant dimensions (range 0) reconstruct exactly. All arithmetic
    * is index-ordered double math both engines replay bit-for-bit.
    */
  def sq8Audit(emb: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val rng = graft.Tables.rebalance(emb)
      .select(posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(min(col("x")).cast("double").as("mn"), max(col("x")).cast("double").as("mx"))
      .agg(array_sort(collect_list(struct(col("dim"), col("mn"), col("mx")))).as("ds"))
      .select(
        transform(col("ds"), p => p.getField("mn")).as("mn"),
        transform(col("ds"), p => (p.getField("mx") - p.getField("mn")) / 255.0).as("s"))
    graft.Tables.rebalance(emb).crossJoin(broadcast(rng))
      .withColumn("errs", expr(
        s"""zip_with(
           |  zip_with($vecCol, mn, (x, a) -> CAST(x AS DOUBLE) - a),
           |  s,
           |  (d, ss) -> CASE WHEN ss > 0 THEN abs(d - round(d / ss) * ss)
           |             ELSE abs(d) END)""".stripMargin))
      .select(col("vec_id"),
        graft.Quant.q6(expr("aggregate(errs, CAST(0 AS DOUBLE), (a, e) -> a + e)")
          / size(col(vecCol)).cast("double")).as("mean_abs_err"),
        graft.Quant.q6(array_max(col("errs"))).as("max_abs_err"))
  }

  /** The per-subspace squared reconstruction error Σ(x−c)² as the
    * DIRECT index-ordered fold over (svec, cvec) columns — shared by
    * every PQ stage so codes, MSEs, and ADC tables all add the same
    * doubles.
    */
  private[sim] def pqSse: Column = expr(
    """aggregate(
      |  zip_with(svec, cvec,
      |    (x, c) -> (CAST(x AS DOUBLE) - CAST(c AS DOUBLE))
      |            * (CAST(x AS DOUBLE) - CAST(c AS DOUBLE))),
      |  CAST(0 AS DOUBLE), (a, e) -> a + e)""".stripMargin)

  /** (vec_id, sub, svec): each vector exploded to its m subvectors. */
  private[sim] def pqSubvectors(df: DataFrame, m: Int,
                                vecCol: String = "embedding"): DataFrame = {
    val dim = 64
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    val subArrs = array((0 until m).map(j => slice(col(vecCol), j * sub + 1, sub)): _*)
    df.select(col("vec_id"), posexplode(subArrs).as(Seq("sub", "svec")))
  }

  /** Deterministic seed codebook (sub, code, cvec): the subvectors of
    * the `kCodes` lowest-id vectors of `corpus`, codes densely numbered
    * in vec_id order (the emb_ann_ivf_served zero-training rule).
    */
  private[sim] def pqCodebook(corpus: DataFrame, m: Int, kCodes: Int,
                              vecCol: String = "embedding"): DataFrame = {
    val seeds = corpus.select(col("vec_id"), col(vecCol)).orderBy(col("vec_id")).limit(kCodes)
      .withColumn("code", (row_number().over(graft.Bounded.window(col("vec_id"))) - 1).cast("int"))
    pqSubvectors(seeds.drop("code"), m, vecCol)
      .join(broadcast(seeds.select(col("vec_id"), col("code"))), Seq("vec_id"))
      .select(col("sub"), col("code"), col("svec").as("cvec"))
  }

  /** Corpus PQ codes (vec_id, sub, code) by the direct SSE argmin with
    * struct-min ties to the smallest code.
    */
  private[sim] def pqAssign(corpus: DataFrame, cb: DataFrame, m: Int,
                            vecCol: String = "embedding"): DataFrame =
    pqSubvectors(corpus, m, vecCol)
      .join(broadcast(cb), Seq("sub"))
      .withColumn("sse", pqSse)
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("sse"), col("code"))).as("best"))
      .select(col("vec_id"), col("sub"), col("best.code").as("code"))

  /** Per-query ADC distance tables (q_id, sub, code, dist_us) with
    * µ-unit-exact entries.
    */
  private[sim] def pqDistTable(queries: DataFrame, cb: DataFrame, m: Int,
                               vecCol: String = "embedding"): DataFrame =
    pqSubvectors(queries, m, vecCol)
      .join(broadcast(cb), Seq("sub"))
      .withColumn("dist_us", graft.Quant.us6(pqSse))
      .select(col("vec_id").as("q_id"), col("sub"), col("code"), col("dist_us"))

  /** Product-quantization audit — the "can we serve these embeddings from
    * PQ codes" report that completes the compression triad next to SQ8
    * (sq8Audit) and the coarse IVF quantizer: the D-dim vector splits
    * into `m` subspaces, each coded against a per-subspace codebook of
    * `k` entries, and every vector reports its code word plus the
    * µ-unit-exact mean squared reconstruction error (Jégou et al. 2011).
    *
    * The codebook is the DETERMINISTIC seed quantizer — the subvectors of
    * the k lowest-id corpus vectors — the same zero-training trick that
    * makes emb_ann_ivf_served exactly oracle-replayable (Lloyd-refined
    * codebooks belong to the rows-only training path). Assignment is
    * argmin of the DIRECT index-ordered Σ(x−c)² fold (no |s|²−2s·c+|c|²
    * cancellation — both engines replay the same adds), ties to the
    * smallest code via struct-min; per-subspace SSEs quantize to integer
    * µ-units before the cross-subspace sum, so the per-vector MSE is
    * order-free.
    *
    * Scale shape: subvector explode (m narrow rows/vector) → broadcast
    * join against the m·k-row codebook → map-side-partial struct-min →
    * per-vector word assembly over m-bounded groups. One corpus pass, no
    * shuffle wider than (vec_id, sub) summaries.
    */
  def pqAudit(emb: DataFrame, m: Int = 8, k: Int = 16,
              vecCol: String = "embedding"): DataFrame = {
    val cb = pqSubvectors(emb.filter(col("vec_id") < k), m, vecCol)
      .select(col("sub"), col("vec_id").cast("int").as("code"),
        col("svec").as("cvec"))
    pqSubvectors(graft.Tables.rebalance(emb), m, vecCol)
      .join(broadcast(cb), Seq("sub"))
      .withColumn("sse", pqSse)
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("sse"), col("code"))).as("best"))
      .groupBy(col("vec_id"))
      .agg(
        concat_ws("-", transform(
          array_sort(collect_list(struct(col("sub"), col("best.code").as("code")))),
          x => x.getField("code").cast("string"))).as("codes"),
        sum(graft.Quant.us6(col("best.sse"))).as("sse_us"))
      .select(col("vec_id"), col("codes"),
        graft.Quant.mean6(col("sse_us"), lit(64)).as("recon_mse"))
  }

  /** The PQ-ADC distance table shared by annPq and pqRerankCurve:
    * codebook assignment (one corpus pass, broadcast codebook, map-side-
    * partial argmin), per-query broadcast distance tables, ADC = m table
    * lookups summed as an order-free long — (id_a = query, id_b = corpus
    * vector, adc_us), the frame every ADC rank cut reads.
    */
  private def pqAdcDistances(emb: DataFrame, nQueries: Int, m: Int,
                             kCodes: Int, vecCol: String): DataFrame = {
    val corpus = emb.filter(col("vec_id") >= nQueries)
    val cb = pqSubvectors(corpus.filter(col("vec_id") < nQueries + kCodes), m, vecCol)
      .select(col("sub"), (col("vec_id") - nQueries).cast("int").as("code"),
        col("svec").as("cvec"))
    val codes = pqAssign(graft.Tables.rebalance(corpus), cb, m, vecCol)
      .select(col("vec_id").as("id_b"), col("sub"), col("code"))
    // pqDistTable's table with the rename before the codebook join
    // (pqDistTable renames after it, which plans one Project fewer)
    val dt = pqSubvectors(emb.filter(col("vec_id") < nQueries), m, vecCol)
      .select(col("vec_id").as("id_a"), col("sub"), col("svec"))
      .join(broadcast(cb), Seq("sub"))
      .withColumn("dist_us", graft.Quant.us6(pqSse))
      .select(col("id_a"), col("sub"), col("code"), col("dist_us"))
    codes.join(broadcast(dt), Seq("sub", "code"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("dist_us")).as("adc_us"))
  }

  /** PQ-ADC ANN serving (Jégou et al. 2011 §IV) — the query path on top
    * of pqAudit's codes, completing the serving triad next to annLsh
    * (bucket pruning) and annIvf (cell pruning): each query builds an
    * m×k DISTANCE TABLE against the codebook once, every corpus vector's
    * approximate distance is then m table lookups summed (never a 64-dim
    * dot per candidate), and the top-`rerank` ADC survivors are
    * exact-cosine re-ranked to the final top-k.
    *
    * Determinism: the codebook is the seed quantizer over the `kCodes`
    * lowest-id CORPUS vectors (the pqAudit / emb_ann_ivf_served
    * zero-training rule); distance-table entries quantize to integer
    * µ-units (one per (query, sub, code) — exact), so the ADC sum is an
    * order-free long and both the ADC rank (adc_us asc, vec_id) and the
    * re-rank (cos desc, vec_id) are total orders the oracle replays
    * bit-for-bit.
    *
    * Scale shape: codebook and distance tables are metadata
    * (m·kCodes / nQueries·m·kCodes rows) and BROADCAST; corpus codes are
    * computed in one pass (the pqAudit shape) and the ADC lookup join
    * fans m rows per (query, vector) that a map-side partial sum
    * collapses before the (q, vec) shuffle; the exact re-rank touches
    * only nQueries·rerank full vectors through a keyed equi-join. In a
    * full deployment the corpus codes persist next to the IVF cells
    * (IvfIndex) so ADC scans only probed cells — the kernel here is the
    * same. (The ADC frame is shared with pqRerankCurve through
    * pqAdcDistances.)
    */
  def annPq(emb: DataFrame, nQueries: Int, k: Int, m: Int = 8, kCodes: Int = 16,
            rerank: Int = 32, vecCol: String = "embedding"): DataFrame = {
    require(rerank >= k, s"rerank=$rerank must cover k=$k")
    val adc = pqAdcDistances(emb, nQueries, m, kCodes, vecCol)
    // bounded two-phase ADC cut (rankPerQuery): the corpus-scale ADC
    // frame must never funnel one query's rows through a single task's
    // sort — same round-11 fix as annBitq's Hamming prescreen
    val cand = rankPerQuery(adc, Seq(col("adc_us"), col("id_b")), rerank)
      .select(col("id_a").as("q_id"), col("id_b").as("n_id"), col("adc_us"))
    val qv = withNorm(emb.filter(col("vec_id") < nQueries), vecCol)
      .select(col("vec_id").as("q_id"), col(vecCol).as("va"), col("nrm").as("na"))
    val cv = withNorm(emb.filter(col("vec_id") >= nQueries), vecCol)
      .select(col("vec_id").as("n_id"), col(vecCol).as("vb"), col("nrm").as("nb"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    cand.join(broadcast(qv), Seq("q_id")).join(cv, Seq("n_id"))
      .withColumn("cos", cosine)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank").cast("long").as("rank"),
        (col("adc_us").cast("double") / 1e6 + lit(0d)).as("adc_dist"),
        graft.Quant.q6(col("cos")).as("cos_sim"))
  }

  /** PQ rerank-depth tuning curve — emb_ivf_probe_curve's sibling on the
    * compressed-code axis: recall@`ks` of the ADC-prescreened path at
    * EVERY rerank depth in `reranks`, from ONE ADC pass. The acceptance
    * gate (annRecallPq) measures one rerank config; this sweeps the
    * axis, so the exact-fetch budget (the only full-vector I/O a PQ
    * serving path pays) is chosen from a curve, not a guess.
    *
    * Scale shape: the ADC frame ranks ONCE at the deepest depth via the
    * bounded two-phase rankPerQuery; the survivors (≤ nQueries ×
    * reranks.last rows — metadata scale) fetch vectors and score exact
    * cosine ONCE (localCheckpoint, the minhashTune recipe); every
    * shallower depth is a filter + bounded re-rank over that tiny frame.
    * Exact side = annTopK's audit-on-a-sample price, shared ranked
    * frame. Deterministic seed codebook keeps the whole curve
    * oracle-replayable.
    */
  def pqRerankCurve(emb: DataFrame, nQueries: Int, k: Int,
                    reranks: Seq[Int] = Seq(8, 16, 32, 64),
                    ks: Seq[Int] = Seq(1, 5, 10),
                    m: Int = 8, kCodes: Int = 16): DataFrame = {
    // only the DEEPEST depth must cover k — depths below k are the
    // interesting left edge of the curve (recall@k caps at depth/k there)
    require(reranks.nonEmpty && reranks == reranks.sorted && reranks.last >= k,
      s"reranks must be ascending with last >= k=$k: $reranks")
    requireCutoffs(ks, k)
    val adc = pqAdcDistances(emb, nQueries, m, kCodes, "embedding")
    val deep = rankPerQuery(adc, Seq(col("adc_us"), col("id_b")), reranks.last)
      .withColumnRenamed("rank", "ar")
    val qv = withNorm(emb.filter(col("vec_id") < nQueries))
      .select(col("vec_id").as("id_a"), col("embedding").as("va"), col("nrm").as("na"))
    val cv = withNorm(emb.filter(col("vec_id") >= nQueries))
      .select(col("vec_id").as("id_b"), col("embedding").as("vb"), col("nrm").as("nb"))
    val cand = deep.join(broadcast(qv), Seq("id_a")).join(cv, Seq("id_b"))
      .withColumn("cos", cosine)
      .select(col("id_a"), col("id_b"), col("ar"), col("cos"))
      .localCheckpoint()
    val exact = annTopK(emb, nQueries, k).localCheckpoint()
    reranks.map { r =>
      val ap = rankPerQuery(cand.filter(col("ar") <= r),
          Seq(col("cos").desc, col("id_b")), k)
        .select(col("id_a").as("q_id"), col("id_b").as("n_id"), col("rank"))
      recallFrom(exact, ap, ks).withColumn("rerank", lit(r.toLong))
    }.reduce(_ unionByName _)
      .select(col("rerank") +: (col("n_q") +: ks.flatMap(c =>
        Seq(col(s"hits_$c"), col(s"recall_$c")))): _*)
  }

  /** LSH-bucketed near-dup pair generation — the corpus-scale form of
    * cosinePairs, and the embedding-space analogue of text MinHash dedup
    * (Dedup.minhashPairs): candidates = vector pairs sharing a bucket in
    * ANY of `nTables` random-hyperplane tables (1-bit multiprobe on one
    * side — a pair collides if either endpoint's bucket is within Hamming
    * distance 1 of the other's, stacking per-table recall), then EXACT
    * cosine verification ≥ tau, so the output is a subset of
    * cosinePairs(emb, tau) with no false positives.
    *
    * Scale shape: bucketing is one narrow codegen'd pass (LshBuckets);
    * the candidate stage is an EQUALITY shuffle join on (table, bucket) —
    * per-bucket bounded work, never an all-pairs nested loop — carrying
    * ONLY (vec_id, tbl, bucket): LATE MATERIALIZATION. Embeddings join
    * back by id after the candidate set is deduplicated, so the heavy
    * payload crosses the wire once per distinct surviving endpoint, not
    * once per (table × probe-flip) bucket row: the earlier shape hauled
    * the full vector through the probe explode — (bits+1)·nTables
    * vector-carrying rows per vector, ~90 GB of candidate-join shuffle at
    * 2M×64f — and died spilling at the 1000× decade (ENOSPC); the
    * key-only shape is ~20 B/row there (≈6 GB), and the exact-cosine
    * verify now runs once per DISTINCT pair instead of once per
    * duplicate candidate. Raise `bitsPerTable` with corpus size to keep
    * bucket occupancy bounded (work ≈ nTables · Σ_bucket |bucket|²).
    *
    * Recall: per-table collision for a pair at angle θ is
    * p^b + f·p^(b-1)(1−p) with p = 1 − θ/π and f the flip budget below;
    * union over tables. At the small-corpus floor (16×8 + all-bit
    * probe), ≥ 99.99% for true near-dups (cos ≥ 0.8) and ~94% at the
    * 0.4 floor on near-random 64-dim data (DedupSimSpec pins both
    * against the exact generator).
    *
    * THE FLIP BUDGET (r13, measured at the 1000× decade): each 1-bit
    * flip probe costs a full exact-bucket's worth of RANDOM background
    * collisions — n/2^b expected candidates per vector per table, in
    * BOTH probe directions — while its recall contribution decays as
    * p^(b−1)(1−p). At b = 19 / 2M vectors the 19 flips were 4.6 B
    * background candidate rows against 328 M exact ones (emb_lsh_load
    * priced the exact mass at 164 M pairs; the flips held ~14× that),
    * a measured ENOSPC that no occupancy knob fixes. So multiprobe is
    * the FLOOR-REGIME recall subsidy it actually is: at b = 8 every bit
    * probes (tiny corpus, candidates cheap, p^8 needs the boost), one
    * flip retires per bit of corpus growth — flips = min(b,
    * max(1, 16 − b)) — down to a ONE-FLIP floor from b ≥ 16 (r16; the
    * r15 hard zero measured 0.39 recall in the 0.80–0.90 cosine band
    * at the 15@19+1@18 campaign config, i.e. emb_dup_sweep's τ=0.8
    * output silently under-counted its lowest band by ~61%). The one
    * retained flip doubles the probe fan (~2·occ·nTables ≈ 128 extra
    * background candidates per vector, all killed map-side by the SQ8
    * prescreen for ~100 B each) and lifts the per-table collision for
    * a band-floor pair from p^b to p^b + p^(b−1)(1−p) — the measured
    * band table lives in DedupSimSpec ("one-flip regime").
    *
    * The md5-derived planes are engine-portable (LshBuckets.planes), so
    * the DuckDB oracle replays buckets, probes, flip budget, and
    * cosines bit-for-bit — the bucketed path is hash-gated, not merely
    * spec'd.
    */
  def cosinePairsLsh(emb: DataFrame, tau: Double,
                     nTables: Int = 16, bitsPerTable: Int = 8, dim: Int = 64): DataFrame =
    cosinePairsLshBits(emb, tau, nTables, bitsPerTable, 0, dim)

  /** The generic generator behind cosinePairsLsh/cosinePairsLshAuto:
    * `nUp` of the `nTables` tables use `b0 + 1` bucket bits and the rest
    * use `b0` — the FRACTIONAL-BIT occupancy budget (autoBitsFrac). Bit
    * planes are indexed (table, bit, dim) independently of the table's
    * total bit count, so a b0-bit bucket is exactly the (b0+1)-bit
    * bucket with its top bit masked off: one LshBuckets pass at the
    * wider width serves both table classes, and the SQL oracle replays
    * the per-table widths plane-for-plane. The flip budget is per table
    * CLASS (flips = min(bits, max(1, 16 − bits)) at that table's width),
    * so a mixed config probes exactly what two uniform configs would.
    */
  private[graft] def cosinePairsLshBits(emb: DataFrame, tau: Double, nTables: Int,
                                        b0: Int, nUp: Int, dim: Int): DataFrame = {
    require(nUp >= 0 && nUp <= nTables, s"nUp must be in [0, $nTables], got $nUp")
    val e = withNorm(emb)
    // both bucket-join sides carry the SQ8 PRESCREEN payload (64 code
    // bytes + four scalars instead of the 64-float vector): the r14
    // stage decomposition measured the exact-cosine verify join-back
    // — candidate pairs × full-vector bytes, exchanged twice — as ~90%
    // of generator wall-clock at both campaign scales. The prescreen
    // evaluates INSIDE the bucket join's output, before the distinct
    // shuffle, so a background collision (the overwhelming majority at
    // any tau the consumers use) costs one 64-byte integer dot and never
    // reaches the distinct, let alone the full-vector joins.
    val pay = Seq("codes", "mn", "st", "sumc", "nrm")
    val hashed = lshHashed(sq8Payload(e, dim), nTables, b0, nUp, dim, pay)
    // probe side carries the exact bucket plus the BUDGETED 1-bit flips
    // (see the flip-budget doc above); the base side stays exact —
    // symmetrized by least/greatest below, so a pair is a candidate if
    // EITHER endpoint probes into the other's bucket
    val probe = hashed
      .withColumn("bucket", explode(lshProbeArr(nTables, b0, nUp)))
      .select(col("vec_id").as("id_p") +: col("tbl") +: col("bucket") +:
        pay.map(c => col(c).as(s"${c}_p")): _*)
    val base = hashed
      .select(col("vec_id").as("id_q") +: col("tbl") +: col("bucket") +:
        pay.map(c => col(c).as(s"${c}_q")): _*)
    // candidate ID pairs: prescreened (conservatively — sq8Admit can
    // only pass a superset of the exact-tau survivors, so the output is
    // bit-identical to the unprescreened plan), THEN deduplicated before
    // any full vector attaches — the distinct shuffle carries 16-byte
    // pairs for survivors only, and each survivor's exact cosine is
    // computed exactly once
    // id_p < id_q (not =!=): the candidate relation is SYMMETRIC — the
    // probe array is the exact bucket plus low-bit flips, so a probes
    // into b's bucket iff b probes into a's (equal buckets hit both ways;
    // a single flipped low bit hits both ways; any other difference hits
    // neither) — which means every unordered pair used to survive the
    // join TWICE, paying the SQ8 prescreen and the distinct input twice.
    // Keeping only the ordered direction halves prescreen evaluations and
    // distinct-shuffle rows with a bit-identical surviving pair set.
    val cand = probe.join(base, Seq("tbl", "bucket"))
      .filter(col("id_p") < col("id_q"))
      .filter(sq8Admit(tau, dim))
      .select(col("id_p").as("id_a"), col("id_q").as("id_b"))
      .distinct()
    // dot(va, vb) is bitwise order-independent (per-term products commute,
    // accumulation is index-ordered), so endpoint order never matters
    cand
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("va"),
        col("nrm").as("na")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
        col("nrm").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= tau)
      .select(col("id_a"), col("id_b"), graft.Quant.q6(col("cos")).as("cos_sim"))
  }

  /** The (tbl, bucket) rows of a fractional-bit LSH grid — `nUp` tables
    * at b0+1 bits, the rest at b0 (ONE LshBuckets pass at the wider
    * width; a b0-bit bucket is the (b0+1)-bit bucket with its top bit
    * masked off). `carry` names extra per-vector columns that ride along
    * (the prescreen payload). Shared by cosinePairsLshBits and lshLoad,
    * so the load pricing sees exactly the buckets the generator joins.
    */
  private[graft] def lshHashed(e: DataFrame, nTables: Int, b0: Int, nUp: Int,
                             dim: Int, carry: Seq[String] = Nil): DataFrame = {
    val bitsHi = if (nUp > 0) b0 + 1 else b0
    val hashed0 = e.select(col("vec_id") +: carry.map(col) :+
      posexplode(graft.plans.LshBuckets.buckets(col("embedding"), nTables, bitsHi, dim))
        .as(Seq("tbl", "bucket")): _*)
    if (nUp == 0 || nUp == nTables) hashed0
    else hashed0.withColumn("bucket",
      when(col("tbl") < nUp, col("bucket"))
        .otherwise(col("bucket").bitwiseAND(lit((1L << b0) - 1))))
  }

  /** The budgeted multiprobe array over a `lshHashed` row — exact bucket
    * plus the per-width 1-bit flips (flips = min(bits, max(1, 16 − bits));
    * see the flip-budget doc on cosinePairsLsh).
    */
  private[graft] def lshProbeArr(nTables: Int, b0: Int, nUp: Int): Column = {
    def probeOf(bits: Int): Column = {
      val flipBits = math.min(bits, math.max(1, 16 - bits))
      array((-1 until flipBits).map { j =>
        if (j < 0) col("bucket") else col("bucket").bitwiseXOR(lit(1L << j))
      }: _*)
    }
    if (nUp == 0) probeOf(b0)
    else if (nUp == nTables) probeOf(b0 + 1)
    else when(col("tbl") < nUp, probeOf(b0 + 1)).otherwise(probeOf(b0))
  }

  /** Attach the SQ8 prescreen payload to a withNorm frame: the per-vector
    * code block (graft.plans.Sq8Encode — one byte per dimension on the
    * vector's own [min, max] grid) plus the scalars the reconstructed
    * dot needs (mn, step, Σcodes — the latter via sq8Dot against an
    * all-ones block, so it is exactly the sum the codes realize). ~100
    * serialized bytes per 64-dim vector vs ~270 for the float array.
    */
  private[graft] def sq8Payload(e: DataFrame, dim: Int): DataFrame = {
    import graft.plans.Sq8Quant.{sq8Dot, sq8Encode}
    e.withColumn("mn", array_min(col("embedding")).cast("double"))
      .withColumn("st",
        (array_max(col("embedding")).cast("double") - col("mn")) / 255.0)
      .withColumn("codes", sq8Encode(col("embedding"), col("mn"), col("st")))
      .withColumn("sumc", sq8Dot(col("codes"), lit(Array.fill(dim)(1.toByte))))
  }

  /** The conservative admission predicate over a joined candidate row
    * whose endpoints carry (codes, mn, st, sumc, nrm) suffixed _p / _q:
    * keep iff the SQ8-reconstructed dot plus its rigorous error envelope
    * could still reach tau·|a|·|b| — i.e. iff the EXACT cosine could be
    * ≥ tau. Derivation: x̂_i = mn + st·code_i reconstructs each
    * component to within st/2 (Sq8Encode rounds to the nearest grid
    * point; clamping never binds because (x−mn)/st ≤ 255 by
    * construction), so
    *   |dot(x,y) − dot(x̂,ŷ)| ≤ Σ|x_i−x̂_i||y_i| + Σ|x̂_i||y_i−ŷ_i|
    *                          ≤ (st_x/2)·‖y‖₁ + (st_y/2)·(‖x‖₁ + d·st_x/2)
    * and Cauchy–Schwarz bounds ‖·‖₁ ≤ √d·‖·‖₂ (the norms are already on
    * the row), giving
    *   env = (√d/2)(st_p·nrm_q + st_q·nrm_p) + (d/4)·st_p·st_q.
    * The reconstructed dot itself is pure double arithmetic over
    * exactly-known integers (Sq8Dot is an exact long), so a 10⁻⁶
    * relative margin on env plus a 10⁻⁹ absolute slack dominates every
    * float-rounding residue by orders of magnitude. A pair the exact
    * verify would keep therefore ALWAYS passes — the prescreen moves
    * work, never answers.
    */
  private[graft] def sq8Admit(tau: Double, dim: Int): Column = {
    import graft.plans.Sq8Quant.sq8Dot
    val dotHat = lit(dim.toDouble) * col("mn_p") * col("mn_q") +
      col("mn_p") * col("st_q") * col("sumc_q").cast("double") +
      col("mn_q") * col("st_p") * col("sumc_p").cast("double") +
      col("st_p") * col("st_q") *
        sq8Dot(col("codes_p"), col("codes_q")).cast("double")
    val env = lit(0.500001 * math.sqrt(dim.toDouble)) *
        (col("st_p") * col("nrm_q") + col("st_q") * col("nrm_p")) +
      lit(0.250001 * dim.toDouble) * col("st_p") * col("st_q")
    dotHat + env + lit(1e-9) * (col("nrm_p") * col("nrm_q") + lit(1.0)) >=
      lit(tau) * col("nrm_p") * col("nrm_q")
  }

  /** The bitsPerTable auto-scaling rule shared by cosinePairsLshAuto and
    * its spec: enough bits that expected bucket occupancy stays ≤
    * `targetOccupancy` (b = ⌈log₂(n / occ)⌉), floored at the default 8
    * (below it recall rises but so does the n²/2^b candidate term — the
    * documented quadratic) and capped at 28 (268M buckets — buckets are
    * never materialized, so the cap only bounds per-vector hash work;
    * 28 keeps occupancy ≤ 4 out to a 10⁹-vector corpus. The old cap of
    * 24 guarded the all-bit probe fan-out, which the flip budget in
    * cosinePairsLsh retires by b = 16; at 24 a 10⁹ corpus would degrade
    * to occupancy ~60 and pay 16·60 ≈ 1000 exact candidates per
    * vector).
    *
    * Why the default occupancy is 4, not 32 (the r13 1000×-decade
    * lesson, the parameter half of the fix whose probe half is
    * cosinePairsLsh's flip budget): candidate mass per vector is
    * nTables·occ·(1 + flips), so occupancy multiplies EVERY probe's
    * collision background. At occ = 32 and 2M vectors the generator
    * priced out at 17 BILLION candidate rows (~500 GB of
    * distinct-shuffle spill, a measured ENOSPC); occ = 4 probes three
    * bits deeper and cuts the exact-bucket mass 8× while the 16-table
    * union keeps near-dup recall ≈ 1.0 (per-table collision for a
    * cos ≥ 0.95 pair is p^b(1 + f(1−p)/p) with p ≈ 0.9; the
    * mid-similarity band below τ ≈ 0.8 is the documented
    * collision-probability gap at either occupancy). Candidates stay
    * linear in n by the same occupancy bound; the knob only moves WHERE
    * on the recall-vs-mass curve the generator sits — emb_lsh_load
    * prices the realized mass (incl. skew) before a fleet pays it.
    */
  def autoBits(n: Long, targetOccupancy: Long = 4L): Int = {
    require(targetOccupancy > 0, s"targetOccupancy must be positive, got $targetOccupancy")
    val cells = math.max(1L, (n + targetOccupancy - 1) / targetOccupancy)
    val ceilLog2 =
      if (cells <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(cells - 1)
    math.min(28, math.max(8, ceilLog2))
  }

  /** Fractional-bit occupancy budget — the r14 fix for autoBits' power-
    * of-two SAWTOOTH (the measured r13 decade residual: between bit
    * steps the realized occupancy drifts across (target/2, target] — at
    * the 1000× decade it rode 3.05 → 3.81 while the corpus grew 10×, so
    * exact-bucket candidate mass grew 12.5× flat and 16.9× with skew,
    * and every pair-graph decade ratio carried the drift). Instead of
    * one width for all tables, `nUp` of the `nTables` tables bucket at
    * b0 + 1 bits and the rest at b0, chosen so the MEAN per-table
    * collision rate stays pinned at 1/u (u = ⌈n / occ⌉ target cells):
    * with c = 2^b0 ≤ u < 2c, solving nUp/2^(b0+1) + (nTables − nUp)/2^b0
    * = nTables/u gives nUp = 2·nTables·(1 − c/u), rounded half-up in
    * exact integer arithmetic — (4·nTables·(u − c) + u) div (2u) — so
    * the SQL oracle reproduces the same (b0, nUp) from the same count.
    * Candidate mass is then 16·n·occ/2-flat at EVERY corpus size, and
    * the decade mass ratio collapses to 10× · skew-drift. Same clamps
    * as autoBits (b0 floored at 8, capped at 28 with nUp = 0); at the
    * floor or whenever the rounding lands on 0 or nTables the config
    * degenerates to a uniform width, so the gate-SF pair sets are
    * BIT-IDENTICAL to the r13 generator (u=125 → (8,0) ≡ b=8; u=500 →
    * (8,16) ≡ b=9 — verified against all three driver SFs).
    */
  def autoBitsFrac(n: Long, targetOccupancy: Long = 4L, nTables: Int = 16): (Int, Int) = {
    require(targetOccupancy > 0, s"targetOccupancy must be positive, got $targetOccupancy")
    require(nTables > 0, s"nTables must be positive, got $nTables")
    val u = math.max(1L, (n + targetOccupancy - 1) / targetOccupancy)
    val b0 = math.min(28, math.max(8, 63 - java.lang.Long.numberOfLeadingZeros(u)))
    val c = 1L << b0
    val nUp = if (b0 >= 28 || u <= c) 0
      else math.min(nTables.toLong, (4L * nTables * (u - c) + u) / (2L * u)).toInt
    (b0, nUp)
  }

  /** 1 − acos(c)/π for the four sweep band floors, as FIXED decimal
    * literals shared verbatim with the SQL oracle — neither engine
    * evaluates a libm acos, so the replay is bit-identical by
    * construction (the text_entropy lesson: transcendental libm calls
    * are the one place two engines legitimately disagree).
    */
  private[graft] val bandP: Seq[(Int, Double)] = Seq(
    80 -> 0.7951672353008665,
    90 -> 0.8564337068712937,
    95 -> 0.8989173758957401,
    99 -> 0.9549465863555878)

  /** Closed-form expected recall of cosinePairsLshAuto for a pair at
    * exact cosine c (passed as p = 1 − acos(c)/π, one of bandP), at the
    * config autoBitsFrac picks for corpus size n: per-table hit
    * p^b + f·p^(b−1)(1−p) with the per-width flip budget, union over
    * the fractional-bit table mix. Arithmetic is a LEFT-FOLD of
    * multiplications over the shared literals — the SQL oracle replays
    * the identical fold (list_reduce), so the emitted columns are
    * hash-gated like any other value, not merely documented. UNQUANTIZED
    * (callers q6 at the edge).
    */
  def expectedBandRecall(n: Long, p: Double, nTables: Int = 16,
                         targetOccupancy: Long = 4L): Double = {
    val (b0, nUp) = autoBitsFrac(n, targetOccupancy, nTables)
    def powN(x: Double, k: Int): Double = {
      var a = 1.0; var i = 0; while (i < k) { a *= x; i += 1 }; a
    }
    def hit(bits: Int): Double = {
      val f = math.min(bits, math.max(1, 16 - bits))
      powN(p, bits) + f.toDouble * powN(p, bits - 1) * (1.0 - p)
    }
    1.0 - powN(1.0 - hit(b0 + 1), nUp) * powN(1.0 - hit(b0), nTables - nUp)
  }

  /** Corpus-size-adaptive cosinePairsLsh — the lttbAuto pattern on the
    * dedup axis: ONE map-side count probe picks bitsPerTable via
    * autoBitsFrac, so the fixed-b quadratic candidate term n²/2^b (§7d's
    * documented knob, the 10×-run's worst ratios) turns into bounded
    * expected occupancy at any corpus size — candidates ≈ n·occ·nTables,
    * linear in n — and the fractional split pins the mean collision rate
    * at 1/⌈n/occ⌉ between power-of-two steps (the r13 decade's 16.9×
    * mass growth for 10× data was the occupancy sawtooth drifting
    * 3.05 → 3.81). The result is the same exact-verified subset contract
    * as cosinePairsLsh at the chosen widths.
    *
    * RECALL CONTRACT BY REGIME (per-table hit = p^b + f·p^(b−1)(1−p)
    * with p = 1 − θ/π and f the flip budget, union over 16 tables;
    * flips retire one per bit from the b=8 floor down to the ONE-FLIP
    * floor at b ≥ 16 — r16; the r15 hard zero cost 61% of the
    * 0.80–0.90 band). MEASURED at the 1000×-campaign config
    * (15@19 + 1@18 bits, one flip) on planted pairs of known exact
    * cosine (DedupSimSpec "one-flip regime", the gate for this table):
    *   - NEAR-DUPS (cos ≥ 0.99): measured 1.00 (159/159); one-flip
    *     theory ≥ 0.98 at the 0.99 edge — the band the dedup/cluster/
    *     keep-best family actually consumes.
    *   - HIGH (cos 0.95–0.99): measured 0.97; theory 0.94 at the 0.95
    *     edge (zero-flip was 0.96 / 0.89).
    *   - 0.90–0.95: measured 0.78; theory 0.64 at the 0.90 edge
    *     (zero-flip was 0.69 / 0.58).
    *   - MID (cos 0.8–0.9): still the documented GAP — measured 0.46
    *     band-wide (zero-flip 0.39), theory 0.23 at exactly cos 0.8
    *     (spec floor 0.40 band-wide). The gap is also SURFACED in-band:
    *     emb_dup_sweep emits exp_recall_80/90/95/99 (expectedBandRecall
    *     — the same closed form, oracle-replayed), so a campaign reader
    *     sees the under-count next to the counts it discounts. Callers
    *     that need the mid band at ≥ 10⁶-vector corpora must raise
    *     nTables (the recall knob: 64 tables ≈ 1 − (1−hit)^64) or lower
    *     tau on a PRE-FILTERED subset; this generator deliberately
    *     trades the mid band for linear candidate mass (the r13 ENOSPC
    *     lesson — each recovered mid-band point costs occ·nTables
    *     background candidates, and the retained single flip already
    *     doubles the probe fan for the ~0.07 it buys).
    */
  def cosinePairsLshAuto(emb: DataFrame, tau: Double, nTables: Int = 16,
                         targetOccupancy: Long = 4L, dim: Int = 64): DataFrame = {
    val n = emb.agg(count(lit(1))).head.getLong(0)
    val (b0, nUp) = autoBitsFrac(n, targetOccupancy, nTables)
    cosinePairsLshBits(emb, tau, nTables, b0, nUp, dim)
  }

  /** LSH bucket-load audit — the embedding-side member of the
    * price-before-you-pay family (Dedup.hammingLoad's hyperplane
    * sibling): per hash table, live-bucket count, hottest bucket, and
    * Σ C(load, 2) — the exact-bucket candidate mass a cosinePairsLshAuto
    * run will feed the SQ8 prescreen (the 1-bit multiprobe multiplies it
    * by ≤ bitsPerTable + 1; autoBits keeps expected occupancy bounded,
    * and THIS table is the check that it actually did — hyperplane LSH
    * buckets skew when the corpus is anisotropic, which emb_pca
    * measures and this audit prices). One bucket pass + two keyed
    * map-side-partial aggregations; no join anywhere.
    */
  def lshLoad(emb: DataFrame, nTables: Int = 16, targetOccupancy: Long = 4L,
              dim: Int = 64): DataFrame = {
    val n = emb.agg(count(lit(1))).head.getLong(0)
    // price the REALIZED fractional-bit config (autoBitsFrac), not a
    // uniform approximation of it — the audit must see the same buckets
    // cosinePairsLshAuto will pay for
    val (b0, nUp) = autoBitsFrac(n, targetOccupancy, nTables)
    lshHashed(emb, nTables, b0, nUp, dim)
      .groupBy(col("tbl"), col("bucket")).agg(count(lit(1)).as("load"))
      .groupBy(col("tbl"))
      .agg(sum(col("load")).as("n_items"),
        count(lit(1)).as("n_buckets"),
        max(col("load")).as("max_load"),
        sum(expr("load * (load - 1) div 2")).as("cand_pairs"))
      .select(col("tbl").cast("long").as("tbl"), col("n_items"),
        col("n_buckets"), col("max_load"), col("cand_pairs"))
  }

  /** Cross-corpus cosine near-dup pairs via LSH buckets — the SEMANTIC
    * contamination detector (the embedding-space member of the
    * contamination triad: verbatim 8-gram, trigram-Jaccard, and this):
    * every (corpus, probe) pair sharing a bucket in any table, exact
    * cosine ≥ tau verify, probe side 1-bit multiprobed. The probe side
    * (a benchmark) is small by construction, so its multiprobed bucket
    * table BROADCASTS and the candidate stage is a broadcast hash join
    * on (table, bucket) — the corpus is hashed in one narrow codegen
    * pass and never shuffled. Output (corpus id, probe id, cos_sim),
    * a subset of the exact cross pairs with no false positives; same
    * md5-derived planes as cosinePairsLsh, so the oracle replays it
    * bit-for-bit.
    */
  def crossCosinePairsLsh(corpus: DataFrame, probes: DataFrame, tau: Double,
                          nTables: Int = 16, bitsPerTable: Int = 8,
                          dim: Int = 64): DataFrame = {
    def hashed(df: DataFrame) = withNorm(df)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        posexplode(graft.plans.LshBuckets.buckets(col("embedding"), nTables, bitsPerTable, dim))
          .as(Seq("tbl", "bucket")))
    val probeFlips = (-1 until bitsPerTable).map { j =>
      if (j < 0) col("bucket") else expr(s"bucket ^ ${1 << j}")
    }
    val q = broadcast(hashed(probes)
      .withColumn("bucket", explode(array(probeFlips: _*)))
      .select(col("vec_id").as("id_b"), col("embedding").as("vb"), col("nrm").as("nb"),
        col("tbl"), col("bucket")))
    hashed(corpus)
      .select(col("vec_id").as("id_a"), col("embedding").as("va"), col("nrm").as("na"),
        col("tbl"), col("bucket"))
      .join(q, Seq("tbl", "bucket"))
      .select(col("id_a"), col("id_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= tau)
      .select(col("id_a"), col("id_b"), graft.Quant.q6(col("cos")).as("cos_sim"))
      .distinct()
  }

  /** k-NN similarity graph over the corpus, restricted to the cosine ≥ tau
    * candidate pairs: each vector's top-k neighbors by cosine (rank ties
    * broken by neighbor id on the quantized similarity, so the cut is
    * deterministic). The tau floor is what keeps this linear-ish — the
    * graph consumes the near-dup pair set. This is the input artifact of
    * graph-based semantic dedup and of NN-descent-style ANN index builds.
    *
    * SCALE SCOPE: this exact-generator form is the oracle/spec mirror
    * ONLY. Its pair generator is brute-force (corpus²  candidate scoring)
    * and, unlike the LSH generator, nothing bounds a vertex's degree — a
    * hub vertex at low tau funnels its whole neighbor list through one
    * task in knnFromPairs' single window, so the degree-bound argument
    * that justifies that window does NOT transfer here. The registered
    * corpus-scale path is knnGraphLsh/knnGraphLshAuto, whose occupancy-
    * bounded generator supplies the bound.
    */
  def knnGraph(emb: DataFrame, tau: Double, k: Int): DataFrame =
    knnFromPairs(cosinePairs(emb, tau), k)

  /** knnGraph served from the LSH-bucketed pair generator — the registered
    * corpus-scale path (the exact-generator form above is the oracle/spec
    * mirror).
    */
  def knnGraphLsh(emb: DataFrame, tau: Double, k: Int,
                  nTables: Int = 16, bitsPerTable: Int = 8, dim: Int = 64): DataFrame =
    knnFromPairs(cosinePairsLsh(emb, tau, nTables, bitsPerTable, dim), k)

  /** knnGraphLsh over the corpus-size-adaptive pair generator. */
  def knnGraphLshAuto(emb: DataFrame, tau: Double, k: Int, nTables: Int = 16,
                      targetOccupancy: Long = 4L, dim: Int = 64): DataFrame =
    knnFromPairs(cosinePairsLshAuto(emb, tau, nTables, targetOccupancy, dim), k)

  /** The symmetrize + per-vector top-k tail shared by both generators.
    * `pairs` carries (id_a, id_b, cos_sim) with id_a < id_b.
    *
    * The rank is deliberately the SINGLE window on vec_id, not the
    * two-phase rankPerQuery cut: unlike a query×corpus frame (annTopK),
    * the input here is the PAIR GRAPH, whose per-vertex group size is a
    * vertex's candidate degree — already bounded by the occupancy-bounded
    * LSH generator (≤ targetOccupancy × nTables × (bits+1) expected
    * candidates before the τ filter; measured max degree 64, avg 32.6 on
    * the 200k-vector 100× corpus) and distributed over 100k+ distinct
    * vec_id keys, so no task ever sorts more than a partition-sized
    * group. Any corpus that breaks the degree bound has already broken
    * the candidate JOIN (bucket blowup), which hammingLoad/lshLoad price
    * before a run — the rank is never the binding constraint. Measured
    * at 100×: single window 25.4 s vs two-phase 37.3 s on the
    * identical graph — the extra (vec_id, slice) exchange+sort costs
    * ~47% for a funnel that cannot occur here.
    */
  def knnFromPairs(pairs: DataFrame, k: Int): DataFrame = {
    // symmetrize by exploding each pair into both directions — a union of
    // two selects over `pairs` would execute the candidate join TWICE
    // (plan branches don't share subtrees, only exchanges)
    val sym = pairs.select(explode(array(
        struct(col("id_a").as("vec_id"), col("id_b").as("nbr_id"), col("cos_sim")),
        struct(col("id_b").as("vec_id"), col("id_a").as("nbr_id"), col("cos_sim")))).as("e"))
      .select(col("e.vec_id"), col("e.nbr_id"), col("e.cos_sim"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos_sim").desc, col("nbr_id"))
    sym.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("nbr_id"),
        col("rank").cast("long").as("rank"), col("cos_sim"))
  }

  /** Bounded two-phase per-query top-k — the ts_topk_windows recipe on
    * the similarity axis. A single `row_number PARTITION BY id_a` over a
    * query×corpus frame funnels EVERY corpus row for a query through one
    * task's sort: at 10^9 vectors that is nQueries single-partition
    * billion-row sorts. Instead the local phase ranks within (id_a,
    * aggregation slice) — groups are partition-sized — and only each
    * slice's top k survive to the final per-query rank, whose input is
    * ≤ k × #slices rows per query regardless of corpus size. Any row in
    * the global top k is in its slice's top k, so the cut is exact; `ord`
    * must end in a deterministic tiebreaker (both phases order
    * identically), so the result is hash-identical to the naive rank.
    * Shared by annTopK (and through it annRecall's exact side) and
    * annBitq's Hamming prescreen.
    */
  private[sim] def rankPerQuery(df: DataFrame, ord: Seq[Column], k: Int,
                                key: String = "id_a"): DataFrame = {
    val local = Window.partitionBy(col(key), col("slice")).orderBy(ord: _*)
    val global = Window.partitionBy(col(key)).orderBy(ord: _*)
    df.withColumn("slice", spark_partition_id())
      .withColumn("lrnk", row_number().over(local)).filter(col("lrnk") <= k)
      .withColumn("rank", row_number().over(global)).filter(col("rank") <= k)
      .drop("slice", "lrnk")
  }

  /** The filter's carried column: `label` under byLabel, none otherwise. */
  private def labelOf(byLabel: Boolean): Seq[String] = if (byLabel) Seq("label") else Nil

  /** A ranked (id_a, id_b[, label], rank, cos) frame as the serving
    * output (q_id, n_id[, label as long], rank, cos_sim).
    */
  private def servedTopK(df: DataFrame, byLabel: Boolean): DataFrame =
    df.select(Seq(col("id_a").as("q_id"), col("id_b").as("n_id")) ++
      labelOf(byLabel).map(c => col(c).cast("long").as(c)) ++
      Seq(col("rank").cast("long").as("rank"), graft.Quant.q6(col("cos")).as("cos_sim")): _*)

  /** Brute-force cosine top-k: for each query vector (vec_id < nQueries),
    * the k nearest corpus vectors (vec_id >= nQueries) with rank. The
    * query side is tiny → broadcast, so the "cross join" is a single
    * pass over the corpus with no shuffle; the rank is the bounded
    * two-phase cut (rankPerQuery) so no task ever sorts the corpus for
    * one query.
    *
    * `byLabel` is the metadata-FILTERED form, the exact side of the
    * filtered serving gate: for each query, the k nearest corpus vectors
    * sharing the query's `label`, output with the label. The label is a
    * join KEY (not a post-filter), so the only pairs ever scored are the
    * admissible ones; the query side still broadcasts and the rank rides
    * the same bounded cut.
    */
  def annTopK(emb: DataFrame, nQueries: Int, k: Int, byLabel: Boolean = false): DataFrame = {
    val (a, b) = pairBase(emb, labelOf(byLabel))
    val q = broadcast(a.filter(col("id_a") < nQueries))
    val corpus = b.filter(col("id_b") >= nQueries)
    val pairs = if (byLabel) q.join(corpus, Seq("label")) else q.join(corpus)
    servedTopK(rankPerQuery(pairs.withColumn("cos", cosine),
      Seq(col("cos").desc, col("id_b")), k), byLabel)
  }

  // Hyperplane generation + caching live in graft.plans.LshBuckets (md5-
  // derived, reproducible across engines — the basis of the LSH oracle).

  /** Centroids enter every plan as a BROADCAST nCells-row DataFrame, not
    * as nCells×dim literal columns — a 1000-literal expression tree costs
    * more in per-query analysis than the broadcast join it replaces.
    */
  private[sim] def centDf(spark: org.apache.spark.sql.SparkSession,
                          cents: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    broadcast(cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq, c.map(x => x * x).sum) }.toSeq
      .toDF("cell", "cvec", "cn2"))
  }

  /** Every row of `df` against every centroid, with `score` = 2·v·c − |c|²:
    * the argmax is the nearest centroid by Euclidean distance (|v|² is
    * constant per row). The one centroid score of assignment and probing.
    */
  private def cellScores(df: DataFrame, cents: DataFrame): DataFrame =
    df.join(cents).withColumn("score", dot(col("embedding"), col("cvec")) * 2 - col("cn2"))

  /** Each query's `nProbe` best cells (score desc, cell), with the probe
    * rank `pr` — the probe of both IVF query tails and ivfProbeCurve.
    */
  private def probeCells(queries: DataFrame, cents: DataFrame, nProbe: Int): DataFrame = {
    val wp = Window.partitionBy(col("vec_id")).orderBy(col("score").desc, col("cell"))
    cellScores(queries, cents)
      .withColumn("pr", row_number().over(wp))
      .filter(col("pr") <= nProbe)
  }

  /** Nearest centroid by Euclidean distance = argmax(2·v·c − |c|²);
    * max(struct(score, cell)) is a deterministic argmax (ties → max cell).
    * `carry` names metadata columns (e.g. the filter label) preserved
    * through the assignment — per-vec_id constants, so first() is exact.
    */
  private[sim] def assignTo(corpus: DataFrame, cents: DataFrame,
                            carry: Seq[String] = Nil): DataFrame =
    cellScores(corpus, cents)
      .groupBy(col("vec_id"))
      .agg(max(struct(col("score"), col("cell"))).getField("cell").as("cell"),
        (first(col("embedding")).as("embedding") +: first(col("nrm")).as("nrm") +:
          carry.map(c => first(col(c)).as(c))): _*)

  /** The nProbe-cells + exact-cosine-rerank query tail shared by annIvf
    * and the persisted IvfIndex. `queries` carries (vec_id, embedding,
    * nrm, plus label under byLabel); output (q_id, n_id[, label], rank,
    * cos_sim).
    *
    * `byLabel`: probes carry the query's label, the candidate join keys
    * on (cell, label), and the rank is the same bounded two-phase cut
    * (exact wrt the probed admissible set).
    *
    * `nLabelDirs > 0` (byLabel only) selects the label-HASH-BUCKETED
    * layout (an index built by IvfIndex.build(byLabel = true) past its
    * maxLabelDirs threshold — the small-files guard: (cell × label)
    * directories explode as nCells·|labels| at high label cardinality,
    * 10⁷ dirs at 10⁴ labels × 2¹⁰ cells). There the assignment files are
    * partitioned by (cell, lbk = pmod(xxhash64(label), nLabelDirs)) — a
    * grid bounded at nCells·nLabelDirs at ANY cardinality — the probe
    * side derives the same lbk from each query's label, and the join
    * keys on (cell, lbk, label): the two partition columns drive the
    * directory pruning, the label equality stays exact inside the pruned
    * bucket (which holds ~|labels|/nLabelDirs labels' rows). Results are
    * identical to the plain layout — lbk is derived, never decides
    * membership.
    */
  private[sim] def ivfQuery(cents: DataFrame, assigned: DataFrame,
                            queries: DataFrame, k: Int, nProbe: Int,
                            byLabel: Boolean = false, nLabelDirs: Int = 0): DataFrame = {
    val lab = labelOf(byLabel)
    val probes0 = probeCells(queries, cents, nProbe)
      .select(Seq(col("vec_id").as("id_a"), col("embedding").as("va"),
        col("nrm").as("na")) ++ (lab :+ "cell").map(col): _*)
    // lbk derivation MUST match IvfIndex.build bit-for-bit — both sides
    // call the shared lbkCol (labelKind canonical form), so an
    // int32-labeled index queried with long labels derives the same
    // bucket, and an unsupported label type fails loudly here instead
    // of pruning to the wrong directories
    val lbk = if (nLabelDirs > 0) Seq("lbk") else Nil
    val probes = broadcast(if (nLabelDirs > 0)
      probes0.withColumn("lbk", lbkCol(probes0, nLabelDirs))
      else probes0)
    val cand = assigned.select(Seq(col("vec_id").as("id_b"), col("embedding").as("vb"),
      col("nrm").as("nb")) ++ (lab ++ ("cell" +: lbk)).map(col): _*)
    // the probed-cell candidate frame is nProbe/nCells of the CORPUS per
    // query in a handful of query groups — the few-giant-groups geometry
    // the bounded two-phase cut exists for (at 10^9 vectors a plain
    // per-query window funnels a quarter-billion rows through one task)
    servedTopK(rankPerQuery(
      probes.join(cand, ("cell" +: lbk) ++ lab).withColumn("cos", cosine),
      Seq(col("cos").desc, col("id_b")), k), byLabel)
  }

  /** The IVF-PQ query tail (the faiss-standard composition): probe the
    * nProbe best cells exactly as ivfQuery does, but scan them through
    * PQ CODES + per-query ADC distance tables instead of full vectors —
    * the probed-cell scan touches m small ints per candidate — then
    * exact-cosine re-rank the top `rerank` ADC survivors from the full
    * vectors (a keyed equi-join bounded by nQueries·rerank rows). With
    * nProbe = nCells this degenerates to exactly annPq's candidate set
    * (spec-pinned bit-identical); with nProbe < nCells the cell pruning
    * multiplies PQ's per-candidate savings.
    *
    * `byLabel`: probes carry the query's label and the compressed-code
    * candidate join keys on (cell, label) — an inadmissible code row
    * never enters the ADC aggregation; the label rides through both cuts
    * to the output.
    */
  private[sim] def ivfPqQuery(cents: DataFrame, cb: DataFrame, codes: DataFrame,
                              assigned: DataFrame, queries: DataFrame,
                              k: Int, nProbe: Int, rerank: Int,
                              m: Int = 8, byLabel: Boolean = false): DataFrame = {
    require(rerank >= k, s"rerank=$rerank must cover k=$k")
    val lab = labelOf(byLabel)
    val probes = broadcast(probeCells(queries, cents, nProbe)
      .select(col("vec_id").as("q_id") +: (lab :+ "cell").map(col): _*))
    val dt = broadcast(pqDistTable(queries, cb, m))
    // the probed (and, under byLabel, admissible) code frame is
    // (nProbe/nCells)·(1/|labels|) of the corpus codes per query — still
    // corpus-scale in few query groups
    val adc = codes.select(Seq(col("vec_id").as("n_id"), col("sub"), col("code"),
        col("cell")) ++ lab.map(col): _*)
      .join(probes, "cell" +: lab)
      .join(dt, Seq("q_id", "sub", "code"))
      .groupBy((Seq("q_id", "n_id") ++ lab).map(col): _*)
      .agg(sum(col("dist_us")).as("adc_us"))
    // ADC prescreen cut: the bounded two-phase cut, same contract as
    // pqAdcDistances' rerank cut
    val cand = rankPerQuery(adc, Seq(col("adc_us"), col("n_id")), rerank, key = "q_id")
      .select((Seq("q_id", "n_id") ++ lab :+ "adc_us").map(col): _*)
    val qv = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("va"), col("nrm").as("na"))
    val cv = assigned.select(col("vec_id").as("n_id"),
      col("embedding").as("vb"), col("nrm").as("nb"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    cand.join(broadcast(qv), Seq("q_id")).join(cv, Seq("n_id"))
      .withColumn("cos", cosine)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(Seq(col("q_id"), col("n_id")) ++
        lab.map(c => col(c).cast("long").as(c)) ++
        Seq(col("rank").cast("long").as("rank"),
          (col("adc_us").cast("double") / 1e6 + lit(0d)).as("adc_dist"),
          graft.Quant.q6(col("cos")).as("cos_sim")): _*)
  }

  /** The probes a query takes: `nProbe`, or under byLabel
    * adaptiveProbe(nCells, nProbe, |labels|) over one count-distinct of
    * the corpus's label column.
    */
  private def probeCount(corpus: DataFrame, nCells: Int, nProbe: Int,
                         byLabel: Boolean): Int =
    if (!byLabel) nProbe
    else adaptiveProbe(nCells, nProbe, corpus.agg(countDistinct(col("label"))).head.getLong(0))

  /** IVF (inverted-file) ANN — the other classic scale path besides LSH.
    *
    * A coarse quantizer of `nCells` centroids is trained with a few Lloyd
    * rounds (deterministic init: the nCells lowest-id corpus vectors); the
    * corpus is assigned to its nearest centroid ONCE; each query probes
    * only the `nProbe` nearest cells and exact-cosine-reranks the vectors
    * in them — touching nProbe/nCells of the corpus instead of all of it.
    *
    * Scale shape: the centroid table is tiny by construction (it IS the
    * compression), so it is collected to the driver and re-enters every
    * plan as a broadcast (centDf) — assignment is a broadcast argmax pass
    * over the corpus, no shuffle; the per-query candidate join shuffles
    * on the cell id. Lloyd's mean-update is a posexplode + groupBy(cell,
    * pos) aggregation — distributed, with only nCells×dim averaged values
    * ever collected. Assignment minimizes Euclidean distance (argmax of
    * 2·v·c − |c|², |v|² constant per row); re-rank uses exact cosine.
    *
    * `byLabel` is metadata-FILTERED IVF ANN — the production
    * vector-search shape (faiss's IDSelector / the "filtered search"
    * problem): each query retrieves top-k only among corpus vectors
    * sharing its `label`, and the output gains the label. The filter is
    * applied to the INVERTED LISTS (pre-filter), never to the ranked
    * output (post-filter): post-filtering a fixed-k unfiltered probe
    * silently loses recall whenever the filter is selective — fewer than
    * k admissible survivors remain — while the pre-filter keeps the full
    * probed-cell admissible set in the rank. Spark-first that is one
    * extra equi-join key: candidates join on (cell, label), so at
    * deployment scale a label-partitioned assignment table turns the
    * filter into partition pruning at the parquet scan and the shuffle
    * carries only admissible candidates.
    *
    * Under byLabel `nProbe` is the UNFILTERED probe budget; the probes
    * actually taken are adaptiveProbe(nCells, nProbe, |labels|) =
    * min(nCells, nProbe·|labels|). The filter thins each probed inverted
    * list by its selectivity (~1/|labels| under a uniform label), so a
    * fixed nProbe sees ~1/|labels| of the admissible candidates the
    * unfiltered config was tuned for — the round-12 gate measured exactly
    * that failure (recall@10 = 0.30 at a fixed 4/16). Scaling the probe
    * count by the label cardinality restores the expected
    * admissible-candidate mass; the min() saturation is the honest
    * small-index limit (16 cells cannot serve a 10%-selective filter
    * without probing all of them — brute force within the label IS the
    * right answer there), while a deployment-scale index (nCells ≫
    * nProbe·|labels|) still probes a fraction. The rule is integer
    * arithmetic over one count-distinct of the label column (metadata
    * scale), so the oracle replays it; the adaptive config's recall is
    * measured by annRecallIvf(byLabel = true).
    */
  def annIvf(emb: DataFrame, nQueries: Int, k: Int,
             nCells: Int = 16, nProbe: Int = 4, lloydIters: Int = 3,
             trainLimit: Long = 200000L, byLabel: Boolean = false): DataFrame = {
    val spark = emb.sparkSession
    val all = withNorm(emb)
    val corpus = all.filter(col("vec_id") >= nQueries).cache()
    val cents = trainCentroids(corpus, nCells, lloydIters, trainLimit)
    val assigned = assignTo(corpus, centDf(spark, cents), carry = labelOf(byLabel))
    val probes = probeCount(corpus, nCells, nProbe, byLabel)
    // Lloyd's driver-side collects are done — release the cached corpus
    // (the final returned plan rescans it once; holding the cache for a
    // lazily-consumed result would leak executor storage per call)
    corpus.unpersist()
    ivfQuery(centDf(spark, cents), assigned,
      all.filter(col("vec_id") < nQueries), k, probes, byLabel)
  }

  /** The selectivity→nProbe map for filtered ANN: probe
    * min(nCells, nProbe·|labels|) cells, so the expected ADMISSIBLE
    * candidate count matches what the unfiltered config at `nProbe`
    * sees (each list is thinned ~1/|labels|). Long arithmetic so a
    * high-cardinality filter saturates at nCells instead of
    * overflowing; saturation = exhaustive-within-label, the correct
    * selective-filter fallback.
    */
  private[graft] def adaptiveProbe(nCells: Int, nProbe: Int, nLabels: Long): Int = {
    require(nLabels >= 1, s"label cardinality must be >= 1, got $nLabels")
    math.min(nCells.toLong, nProbe.toLong * nLabels).toInt
  }

  /** The bucketed layout's label TYPE contract, shared by build and
    * query so the two sides cannot desync: integral labels canonicalize
    * through LONG before hashing (xxhash64 is type-sensitive, and a
    * string canonical form would still split double 7.0 → "7.0" from
    * int 7 → "7" while the label equality predicate coerce-matches —
    * the silent wrong-directory prune this contract exists to prevent);
    * string labels hash as-is; every other type is REJECTED loudly at
    * build and at query instead of deriving a silently wrong bucket.
    * The kind string is persisted in the index meta (layout_version 2)
    * and checked at query time, so a cross-FAMILY batch (string labels
    * against an integral-built index) fails with a named error too.
    */
  private[sim] def labelKind(df: DataFrame): String =
    df.schema("label").dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType =>
        "integral"
      case org.apache.spark.sql.types.StringType => "string"
      case other => throw new IllegalArgumentException(
        s"bucketed filtered index supports integral or string label types, got $other — " +
          "cast the label column to long or string")
    }

  /** lbk = pmod(xxhash64(canonical label), nDirs) over the canonical
    * form labelKind prescribes — the ONE derivation both
    * IvfIndex.build(byLabel = true) and the query path call.
    */
  private[sim] def lbkCol(df: DataFrame, nDirs: Int): Column = {
    val canon =
      if (labelKind(df) == "integral") col("label").cast("long") else col("label")
    pmod(xxhash64(canon), lit(nDirs.toLong)).cast("int")
  }

  /** Fused IVF-PQ ANN — the faiss-standard composition (cell pruning ×
    * compressed-code scan × exact re-rank) as ONE oracle-gated plan, the
    * direct analogue of annIvf for the persisted IvfIndex.queryPq path
    * (shared kernels: trainCentroids / assignTo / pqCodebook / pqAssign /
    * ivfPqQuery — the spec pins the persisted path equal to annPq's
    * candidates at nProbe = nCells). Zero Lloyd rounds + the
    * deterministic lowest-id seed codebook keep every stage
    * DuckDB-replayable, so the full composition hash-gates: assignment
    * argmax, probe ranking, per-cell ADC sums in exact µ-units, and the
    * bounded re-rank join of nQueries·rerank full vectors.
    *
    * `byLabel` is FILTERED IVF-PQ — the complete production composition:
    * metadata pre-filter × cell pruning × compressed-code ADC scan ×
    * exact re-rank in ONE oracle-gated plan. This is the shape a deployed
    * vector store actually serves (faiss IVFPQ + IDSelector): the index
    * is compressed because the corpus doesn't fit, AND every query
    * carries a predicate. The approximations interact (the filter thins
    * the ADC candidate pool exactly as it thins the inverted lists, so a
    * compressed config tuned unfiltered sags under a selective predicate
    * for the same reason the r12 filtered-IVF gate read 0.30).
    *
    * Composition order matters and is pre-everything: the label is an
    * equi-join key on the CODE rows (cell, label), so an inadmissible
    * candidate never reaches the ADC sum, the rerank cut, or the exact
    * re-rank — never post-filtered at any stage. The probe count rides
    * the same adaptiveProbe(nCells, nProbe, |labels|) rule as annIvf
    * (one count-distinct, oracle-replayable); recall of the shipped
    * config is measured by annRecallIvfPq(byLabel = true) against the
    * exact same-label top-k.
    */
  def annIvfPq(emb: DataFrame, nQueries: Int, k: Int,
               nCells: Int = 16, nProbe: Int = 4, rerank: Int = 32,
               m: Int = 8, kCodes: Int = 16, lloydIters: Int = 0,
               trainLimit: Long = 200000L, byLabel: Boolean = false): DataFrame = {
    val spark = emb.sparkSession
    val all = withNorm(emb)
    val corpus = all.filter(col("vec_id") >= nQueries).cache()
    val cents = trainCentroids(corpus, nCells, lloydIters, trainLimit)
    val cd = centDf(spark, cents)
    val lab = labelOf(byLabel)
    val assigned = assignTo(corpus, cd, carry = lab)
    val cb = pqCodebook(assigned, m, kCodes)
    val codes = pqAssign(assigned, cb, m)
      .join(assigned.select(("vec_id" +: "cell" +: lab).map(col): _*), Seq("vec_id"))
    val probes = probeCount(corpus, nCells, nProbe, byLabel)
    // quantizer training's driver-side collects are done — release the
    // cache (the returned plan rescans once; same stance as annIvf)
    corpus.unpersist()
    ivfPqQuery(cd, broadcast(cb), codes, assigned,
      all.filter(col("vec_id") < nQueries), k, probes, rerank, m, byLabel)
  }

  /** Train the coarse quantizer over an already-normed (and ideally
    * cached) corpus — shared by annIvf and IvfIndex.build.
    */
  private[sim] def trainCentroids(corpus: DataFrame, nCells: Int, lloydIters: Int,
                                  trainLimit: Long): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def assign(cents: Array[Array[Double]]): DataFrame =
      assignTo(corpus, centDf(spark, cents))

    // Two training regimes, one quantizer contract (deterministic
    // lowest-id seed, argmax(2·v·c − |c|², ties → max cell), mean update
    // skipping empty cells):
    //  - corpus ≤ trainLimit: Lloyd runs on the driver over ONE collect —
    //    the coarse quantizer is tiny, and three distributed rounds are
    //    pure job-scheduling overhead (this is also how production IVF
    //    trains at 10^9 vectors: on a bounded SAMPLE, never the corpus).
    //  - above the limit: distributed rounds — per-cell/per-dim means via
    //    posexplode aggregation, only nCells×dim values ever collected.
    // One COUNT decides the regime; the small regime then needs exactly one
    // more job (the training collect), which also yields the deterministic
    // lowest-id seeds — three separate driver jobs (seed limit+collect,
    // count, train collect) measurably dominate the sub-second IVF build.
    //
    // lloydIters == 0 short-circuits BOTH regimes: the quantizer is just
    // the seed vectors, so one TakeOrdered(nCells) job suffices at any
    // corpus size (this is the oracle-replayable serving configuration —
    // emb_ann_ivf_served).
    if (lloydIters == 0)
      return corpus.orderBy(col("vec_id")).limit(nCells)
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val corpusN = corpus.count()
    var cents: Array[Array[Double]] = null
    if (corpusN <= trainLimit) {
      val vecs = corpus.select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().sortBy(_._1).map(_._2.toArray)
      cents = vecs.take(nCells).map(_.map(_.toDouble))
      val dim = if (vecs.isEmpty) 0 else vecs(0).length
      var iter = 0
      while (iter < lloydIters) {
        val cn2 = cents.map(c => c.map(x => x * x).sum)
        val sums = Array.fill(nCells)(new Array[Double](dim))
        val counts = new Array[Long](nCells)
        vecs.foreach { v =>
          var best = -1; var bestScore = 0.0
          var c = 0
          while (c < nCells) {
            var s = 0.0
            var d = 0
            while (d < dim) { s += v(d).toDouble * cents(c)(d); d += 1 }
            val score = s * 2 - cn2(c)
            if (best < 0 || score >= bestScore) { best = c; bestScore = score }
            c += 1
          }
          counts(best) += 1
          var d = 0
          while (d < dim) { sums(best)(d) += v(d).toDouble; d += 1 }
        }
        cents = cents.zipWithIndex.map { case (c, i) =>
          if (counts(i) == 0) c.clone()
          else sums(i).map(_ / counts(i))
        }
        iter += 1
      }
    } else {
      cents = corpus.orderBy(col("vec_id")).limit(nCells)
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      var iter = 0
      while (iter < lloydIters) {
        val means = assign(cents)
          .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy(col("cell"), col("pos")).agg(avg(col("v")).as("m"))
          .collect()
        val next = cents.map(_.clone())
        means.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
        cents = next
        iter += 1
      }
    }
    cents
  }

  /** Random-hyperplane LSH ANN: `nTables` hash tables of `bitsPerTable`
    * sign bits each; candidates = corpus vectors sharing a bucket with the
    * query in ANY table (union over tables → recall stacks per table), with
    * 1-bit multiprobe on the query side (query also probes every bucket at
    * Hamming distance 1 — recall of (p^b + b·p^(b-1)(1−p)) per table instead
    * of p^b, at bitsPerTable+1 probes); exact cosine re-rank of candidates
    * only. The per-table bucket join is an equality shuffle join on
    * (table, bucket) — bounded work per bucket, no quadratic pass, which is
    * the property that matters at 10^9 vectors. Probing cost lives on the
    * tiny query side; the corpus is hashed exactly once.
    */
  def annLsh(emb: DataFrame, nQueries: Int, k: Int,
             nTables: Int = 8, bitsPerTable: Int = 4, dim: Int = 64): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // Bucketing is ONE narrow codegen'd pass (LshBuckets): every vector's
    // bucket in all tables computed in place — no hyperplane join, no
    // groupBy shuffle; the only data movement is the candidate join below.
    val hashed = withNorm(emb)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        posexplode(graft.plans.LshBuckets.buckets(col("embedding"), nTables, bitsPerTable, dim))
          .as(Seq("tbl", "bucket")))
    val probeFlips = (-1 until bitsPerTable).map { j =>
      if (j < 0) col("bucket") else expr(s"bucket ^ ${1 << j}")
    }
    val q = broadcast(hashed.filter(col("vec_id") < nQueries)
      .withColumn("bucket", explode(array(probeFlips: _*)))
      .select(col("vec_id").as("id_a"), col("embedding").as("va"), col("nrm").as("na"),
        col("tbl"), col("bucket")))
    val corpus = hashed.filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("id_b"), col("embedding").as("vb"), col("nrm").as("nb"),
        col("tbl"), col("bucket"))
    val cand = q.join(corpus, Seq("tbl", "bucket"))
      .select(col("id_a"), col("va"), col("na"), col("id_b"), col("vb"), col("nb"))
      .distinct()
    val w = Window.partitionBy(col("id_a")).orderBy(col("cos").desc, col("id_b"))
    cand
      .withColumn("cos", cosine)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id_a").as("q_id"), col("id_b").as("n_id"),
        col("rank").cast("long").as("rank"), graft.Quant.q6(col("cos")).as("cos_sim"))
  }

  /** ANN recall audit — the number that justifies serving from the LSH
    * path at all: for each cutoff in `ks`, what fraction of the EXACT
    * top-k neighbors does the bucketed ANN's top-k contain (recall@k,
    * averaged over the probe queries)? Run on a bounded probe sample (the
    * same nQueries bound both serving paths take), it's the acceptance
    * gate a serving config must pass before the brute-force path is
    * turned off — and the exact side's cost is nQueries·corpus, the
    * audit-on-a-sample price, never corpus².
    *
    * One left join of the two already-ranked top-k frames on
    * (q_id, n_id); every cutoff is a conditional sum over that |q|·k-row
    * frame — metadata scale (recallFrom).
    */
  def annRecall(emb: DataFrame, nQueries: Int, k: Int,
                ks: Seq[Int] = Seq(1, 5, 10)): DataFrame = {
    requireCutoffs(ks, k)
    recallFrom(annTopK(emb, nQueries, k), annLsh(emb, nQueries, k), ks)
  }

  /** The IVF member of the acceptance-gate pair: recall@k of the
    * cell-pruned serving path (annIvf at the oracle-replayable
    * zero-training configuration) vs the exact top-k — the number that
    * justifies an (nCells, nProbe) config before the brute-force path is
    * turned off, exactly as annRecall does for the LSH path. Same
    * audit-on-a-sample price (the exact side is nQueries·corpus through
    * the bounded two-phase rank), same metadata-scale join.
    *
    * `byLabel` gates the pre-filtered path (annIvf(byLabel = true), which
    * self-scales its probe count by the label cardinality — see
    * adaptiveProbe) against the exact filtered top-k
    * (annTopK(byLabel = true)). A filter changes the recall geometry:
    * probing the same nProbe cells yields FEWER admissible candidates
    * (the filter thins each inverted list by its selectivity), so a
    * config that gates green unfiltered can sag under a selective
    * filter — this gate measured exactly that (0.30 @10 at a fixed 4/16)
    * before the adaptive rule shipped, and now gates the rule itself.
    */
  def annRecallIvf(emb: DataFrame, nQueries: Int, k: Int,
                   ks: Seq[Int] = Seq(1, 5, 10),
                   nCells: Int = 16, nProbe: Int = 4,
                   byLabel: Boolean = false): DataFrame = {
    requireCutoffs(ks, k)
    recallFrom(annTopK(emb, nQueries, k, byLabel),
      annIvf(emb, nQueries, k, nCells, nProbe, lloydIters = 0, byLabel = byLabel), ks)
  }

  /** The PQ member — recall@k of the ADC-prescreened product-quantization
    * path (annPq: per-subspace codebooks, integer-µs ADC distances, exact
    * re-rank of the top-`rerank` survivors) vs the exact top-k. With the
    * LSH and IVF gates, every serving family the engine ships (bucketed,
    * cell-pruned, compressed-code) now carries a measured recall.
    */
  def annRecallPq(emb: DataFrame, nQueries: Int, k: Int,
                  ks: Seq[Int] = Seq(1, 5, 10), rerank: Int = 32): DataFrame = {
    requireCutoffs(ks, k)
    recallFrom(annTopK(emb, nQueries, k),
      annPq(emb, nQueries, k, rerank = rerank), ks)
  }

  /** The FUSED member — recall@k of the full IVF-PQ composition
    * (annIvfPq: cell pruning × compressed-code ADC scan × exact
    * re-rank) vs the exact top-k. The per-family gates measure each
    * approximation alone; production serves the COMPOSITION, and its
    * recall is not the product of the parts (a cell miss and an ADC
    * miss can hit the same neighbor) — so the config that actually
    * ships gets its own measured gate. Shared recallFrom join,
    * audit-on-a-sample exact side on the bounded two-phase rank.
    *
    * `byLabel` gates the filtered composition (annIvfPq(byLabel = true)
    * at its adaptive probe count) against the exact same-label top-k: the
    * three approximations (cell miss, ADC miss, filter thinning) interact
    * in the candidate pool, so neither the unfiltered gate nor the
    * filtered IVF gate stands in for it.
    */
  def annRecallIvfPq(emb: DataFrame, nQueries: Int, k: Int,
                     ks: Seq[Int] = Seq(1, 5, 10),
                     nCells: Int = 16, nProbe: Int = 4,
                     rerank: Int = 32, byLabel: Boolean = false): DataFrame = {
    requireCutoffs(ks, k)
    recallFrom(annTopK(emb, nQueries, k, byLabel),
      annIvfPq(emb, nQueries, k, nCells, nProbe, rerank, byLabel = byLabel), ks)
  }

  /** The BITQ member — recall@k of the sign-bit Hamming-prescreened path
    * (annBitq: two 32-bit sign words per vector, XOR+popcount prescreen,
    * exact re-rank of the top-`cand` survivors) vs the exact top-k. This
    * closes the acceptance-gate family: all FOUR serving configurations
    * (LSH bucketed, IVF cell-pruned, PQ compressed-code, BITQ
    * binary-quantized) now carry a measured recall before the
    * brute-force path is turned off — the 1-bit extreme is exactly where
    * recall damage is most likely, so it is the gate a capacity-driven
    * config change reads first. Same audit-on-a-sample price and
    * metadata-scale join as the other three gates; both ranked sides
    * ride the bounded two-phase rankPerQuery cut.
    */
  def annRecallBitq(emb: DataFrame, nQueries: Int, k: Int,
                    ks: Seq[Int] = Seq(1, 5, 10), cand: Int = 50): DataFrame = {
    requireCutoffs(ks, k)
    recallFrom(annTopK(emb, nQueries, k),
      annBitq(emb, nQueries, k, cand = cand), ks)
  }

  /** Every recall cutoff must lie in [1, k] — checked before any job. */
  private def requireCutoffs(ks: Seq[Int], k: Int): Unit =
    require(ks.nonEmpty && ks.forall(c => c >= 1 && c <= k),
      s"every cutoff must be in [1, $k]: $ks")

  /** The recall reducer of every serving-path gate and tuning curve: one
    * left join of two already-ranked top-k frames on (q_id, n_id), grouped
    * per query into the exact row count `nex` and the hits at each
    * cutoff, then summed into n_q, hits_c and den_c — metadata scale.
    *
    * The denominator is den_c = Σ_q min(c, nex_q), NOT n_q·c. The exact
    * side ranks rank ≤ k rows per query, so nex_q IS min(k, admissible_q):
    * a query whose label class (or whole corpus) has fewer than c
    * admissible vectors can only ever match that many, and charging it c
    * would read red even when the served path returns the COMPLETE
    * admissible set — the distorted metric would demand probe growth that
    * cannot help. Where every query has ≥ c exact rows, den_c = n_q·c.
    */
  private def recallFrom(exact: DataFrame, approx: DataFrame,
                         ks: Seq[Int]): DataFrame = {
    val ex = exact.select(col("q_id"), col("n_id"), col("rank").as("rank_exact"))
    val ap = approx.select(col("q_id"), col("n_id"), col("rank").as("rank_approx"))
    val perQ = count(lit(1)).as("nex") +: ks.map { c =>
      sum(when(col("rank_exact") <= c && col("rank_approx") <= c, 1L)
        .otherwise(0L)).as(s"hits_$c")
    }
    val totals = count(lit(1)).as("n_q") +: ks.flatMap { c =>
      Seq(sum(col(s"hits_$c")).as(s"hits_$c"),
        sum(least(lit(c.toLong), col("nex"))).as(s"den_$c"))
    }
    ex.join(ap, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id")).agg(perQ.head, perQ.tail: _*)
      .agg(totals.head, totals.tail: _*)
      .select(col("n_q") +: ks.flatMap { c =>
        Seq(col(s"hits_$c"),
          graft.Quant.q6(col(s"hits_$c").cast("double") / col(s"den_$c"))
            .as(s"recall_$c"))
      }: _*)
  }

  /** IVF probe-depth tuning curve: recall@k of the cell-pruned serving
    * path at EVERY candidate nProbe in one audit — the "how many probes
    * do I actually need" decision table read next to ivfBalance before
    * an (nCells, nProbe) config ships. The acceptance gates
    * (annRecallIvf) measure ONE config; this sweeps the whole axis so
    * the probe budget is chosen from a curve, not a guess.
    *
    * Scale shape: the candidate join runs ONCE at the DEEPEST probe
    * (each candidate carries `pr`, its cell's probe rank for that
    * query); every shallower probe's ranking is a filter over that same
    * materialized frame (localCheckpoint — the minhashTune recipe), so
    * the sweep costs one candidate pass + |probes| bounded two-phase
    * ranks, never |probes| corpus scans. With probes.last = nCells the
    * deepest pass degenerates to the brute-force audit price — the same
    * audit-on-a-sample stance as annRecall's exact side (nQueries is
    * the sampled probe set, not production traffic). Both rank cuts ride
    * rankPerQuery, so no task ever sorts the corpus for one query.
    * Zero Lloyd rounds keeps the quantizer the deterministic lowest-id
    * seed set, so the whole curve is oracle-replayable.
    */
  def ivfProbeCurve(emb: DataFrame, nQueries: Int, k: Int,
                    nCells: Int = 16,
                    probes: Seq[Int] = Seq(1, 2, 4, 8, 16),
                    ks: Seq[Int] = Seq(1, 5, 10)): DataFrame = {
    require(probes.nonEmpty && probes == probes.sorted &&
      probes.head >= 1 && probes.last <= nCells,
      s"probes must be ascending within [1, $nCells]: $probes")
    requireCutoffs(ks, k)
    val spark = emb.sparkSession
    val all = withNorm(emb)
    val corpus = all.filter(col("vec_id") >= nQueries)
    val cents = centDf(spark, trainCentroids(corpus, nCells, 0, nCells.toLong))
    val assigned = assignTo(corpus, cents)
    val qcells = broadcast(probeCells(all.filter(col("vec_id") < nQueries), cents, probes.last)
      .select(col("vec_id").as("id_a"), col("embedding").as("va"),
        col("nrm").as("na"), col("cell"), col("pr")))
    val cand = qcells
      .join(assigned.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
        col("nrm").as("nb"), col("cell")), Seq("cell"))
      .withColumn("cos", cosine)
      .select(col("id_a"), col("id_b"), col("pr"), col("cos"))
      .localCheckpoint()
    val exact = annTopK(emb, nQueries, k).localCheckpoint()
    probes.map { p =>
      val ap = rankPerQuery(cand.filter(col("pr") <= p),
          Seq(col("cos").desc, col("id_b")), k)
        .select(col("id_a").as("q_id"), col("id_b").as("n_id"), col("rank"))
      recallFrom(exact, ap, ks).withColumn("n_probe", lit(p.toLong))
    }.reduce(_ unionByName _)
      .select(col("n_probe") +: (col("n_q") +: ks.flatMap(c =>
        Seq(col(s"hits_$c"), col(s"recall_$c")))): _*)
  }

  /** IVF cell-balance audit: the load profile of the inverted file the
    * cell-pruned ANN serves from — per cell, vector count and corpus
    * share. Skew here IS serving skew (a hot cell makes every probe that
    * touches it scan a corpus-scale partition, and at 100 TB decides
    * whether partition pruning actually bounds query cost), so this is
    * the report read before shipping an IVF index. Zero Lloyd rounds
    * keeps the quantizer the deterministic lowest-id seed set, making
    * the whole audit oracle-replayable; assignment is the same broadcast
    * argmax pass the serving path uses, the profile one |cells|-row agg.
    */
  def ivfBalance(emb: DataFrame, nCells: Int = 16): DataFrame = {
    val spark = emb.sparkSession
    val corpus = withNorm(emb)
    val cents = centDf(spark, trainCentroids(corpus, nCells, 0, nCells.toLong))
    val total = corpus.agg(count(lit(1)).as("total"))
    assignTo(corpus, cents)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"))
      .crossJoin(broadcast(total))
      .withColumn("share",
        graft.Quant.q6(col("n_vecs").cast("double") / col("total")))
      .select(col("cell").cast("long").as("cell"), col("n_vecs"), col("share"))
  }

  /** kNN label-agreement audit — the standard "is this embedding space
    * any good for training" probe run BEFORE an ANN index is built on
    * it: per label, the fraction of k-nearest-neighbor edges whose
    * neighbor shares the vector's label. High purity = labels form
    * coherent neighborhoods (the space supports retrieval/clustering);
    * a low-purity label names exactly which class the space confuses.
    * Complements the centroid-level labelCohesion/labelSim audits with
    * the NEIGHBOR-level view — a label can have a tight centroid and
    * still dissolve into other classes at the kNN radius, and kNN is
    * what serving actually does.
    *
    * Scale shape: rides the registered corpus-scale kNN graph
    * (knnGraphLshAuto — LSH-bucketed pair generation, never pairwise;
    * the tau floor keeps the graph ~linear); labels join as a 2-column
    * projection keyed on vec_id (the graph side shuffles, the label
    * side co-partitions); the result is a |labels|-row aggregate with
    * map-side partials. n_vecs counts vectors that HAVE a neighbor at
    * the tau floor (isolated vectors carry no edge and no vote).
    */
  def knnPurity(emb: DataFrame, tau: Double, k: Int,
                labelCol: String = "label"): DataFrame = {
    val g = knnGraphLshAuto(emb, tau, k).select(col("vec_id"), col("nbr_id"))
    val lab = emb.select(col("vec_id"), col(labelCol).cast("long").as("label"))
    g.join(lab, Seq("vec_id"))
      .join(lab.select(col("vec_id").as("nbr_id"), col("label").as("nbr_label")),
        Seq("nbr_id"))
      .groupBy(col("label"))
      .agg(countDistinct(col("vec_id")).as("n_vecs"),
        count(lit(1)).as("n_edges"),
        sum(when(col("label") === col("nbr_label"), 1L).otherwise(0L)).as("n_same"))
      .withColumn("purity",
        graft.Quant.q6(col("n_same").cast("double") / col("n_edges")))
  }

  /** PQ code-usage balance audit — emb_ivf_balance's sibling on the
    * compressed-code axis: per (subquantizer, code), the number of
    * corpus vectors assigned and their corpus share, EVERY codebook
    * cell reported including zero-usage ones (a dead code is wasted
    * capacity — the codebook effectively shrinks and ADC distances
    * coarsen; a hot code is the skew under which ADC loses its
    * discriminating power for that subspace). The table read next to
    * emb_ann_pq_recall / emb_pq_rerank_curve when a PQ config
    * underperforms: the curves say HOW MUCH recall is lost, this says
    * WHICH subspace's codebook to retrain.
    *
    * `nQueries` splits the table the way the serving path
    * (pqAdcDistances) does: vec_id < nQueries are query vectors and are
    * excluded from BOTH the seed codebook and the assignment counts, so
    * the audited codebook is bit-identical to the one
    * emb_ann_pq_recall / emb_pq_rerank_curve actually serve from
    * (corpus seeds nQueries..nQueries+kCodes−1, codes 0..kCodes−1 in id
    * order). nQueries = 0 audits a whole-table codebook (the pqAudit
    * convention).
    *
    * Scale shape: one assignment pass (broadcast codebook, map-side-
    * partial argmin — the shared pqAssign kernel), an m·kCodes-bounded
    * count, a grid left-join against the codebook's own cells (so
    * zero-usage cells surface), and a 1-row broadcast total.
    */
  def pqBalance(emb: DataFrame, nQueries: Int = 0, m: Int = 8, kCodes: Int = 16,
                vecCol: String = "embedding"): DataFrame = {
    val corpus = emb.filter(col("vec_id") >= nQueries)
    val cb = pqCodebook(corpus, m, kCodes, vecCol)
    val counts = pqAssign(corpus, cb, m, vecCol)
      .groupBy(col("sub"), col("code")).agg(count(lit(1)).as("cnt"))
    val total = corpus.agg(count(lit(1)).as("total"))
    cb.select(col("sub"), col("code"))
      .join(counts, Seq("sub", "code"), "left")
      .withColumn("n_vecs", coalesce(col("cnt"), lit(0L)))
      .crossJoin(broadcast(total))
      .select(col("sub").cast("long").as("sub"), col("code").cast("long").as("code"),
        col("n_vecs"),
        graft.Quant.q6(col("n_vecs").cast("double") / col("total")).as("share"))
  }

  /** Matryoshka / truncation audit: the energy fraction of each vector
    * that survives truncation to its first `d` lanes —
    * sqrt(Σ_{i≤d} x_i²) / ‖v‖, which IS the cosine between v and its
    * zero-padded d-lane prefix, i.e. exactly the similarity distortion a
    * d-dim serving index would introduce for that vector. The audit a
    * pipeline runs before choosing the dim-vs-recall point of a truncated
    * ANN index. One narrow codegen pass (prefix dots are index-ordered
    * FloatVectorDot reductions, mirrored term-for-term by the oracle);
    * the only shuffle is the |dims|-row final aggregate, and the mean
    * uses exact micro-unit sums per the Quant contract so it is
    * independent of partial-aggregation order.
    */
  def mrlAudit(emb: DataFrame, dims: Seq[Int] = Seq(8, 16, 32, 48)): DataFrame = {
    val e = withNorm(emb)
    val entries = dims.map { d =>
      val pre = slice(col("embedding"), 1, d)
      struct(lit(d).cast("long").as("dim"),
        (sqrt(dot(pre, pre)) / col("nrm")).as("frac"))
    }
    e.select(explode(array(entries: _*)).as("x"))
      .select(col("x.dim").as("dim"), col("x.frac").as("frac"))
      .groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n_vecs"),
        graft.Quant.mean6(graft.Quant.sumUs6Unbounded(col("frac")),
          count(lit(1))).as("mean_frac"),
        min(graft.Quant.q6(col("frac"))).as("min_frac"),
        sum(when(graft.Quant.q6(col("frac")) < 0.95, 1L).otherwise(0L))
          .as("n_lossy"))
  }

  /** MSB-first fold of the sign bits of `len` lanes starting at 1-based
    * `start` into one non-negative long (≤ 32 lanes per word, so the sum
    * formulation the oracle uses — Σ b_i·2^(len−i) — never overflows a
    * signed 64-bit in either engine).
    */
  private def signWord(start: Int, len: Int): Column =
    expr(s"aggregate(slice(embedding, $start, $len), CAST(0 AS BIGINT), " +
      "(acc, x) -> acc * 2 + IF(x > CAST(0 AS FLOAT), CAST(1 AS BIGINT), CAST(0 AS BIGINT)))")

  /** Binary-quantization ANN — the memory-extreme point of the
    * compression family (SQ8 = 8 bits/lane, PQ ≈ 1 bit/lane with a
    * codebook, BITQ = 1 sign bit/lane with a FREE distance): 64 lanes
    * become two 32-bit sign words, candidate generation is Hamming
    * distance (XOR + popcount — pure integer codegen, no float math, no
    * codebook), and exact cosine re-ranks only the top-`cand` survivors
    * per query.
    *
    * Scale shape: codes are folded in ONE narrow codegen pass over the
    * corpus (at 100 TB they would be persisted like IvfIndex, making the
    * prescreen scan dim/8 bytes per vector); the prescreen joins a
    * (vec_id, lo, hi) projection against a broadcast nQueries-row probe
    * table — no float math until the re-rank, which fetches vectors for
    * only the ≤ nQueries×cand survivors.
    */
  def annBitq(emb: DataFrame, nQueries: Int, k: Int, cand: Int = 50): DataFrame = {
    // The sign-word fold packs bits MSB-first assuming exactly 64 lanes;
    // a shorter vector would land its bits in the LOW positions of the lo
    // word while the oracle's fixed Σ b_i·2^(32−i) layout leaves HIGH
    // positions zero — silently divergent Hamming distances. Probe the
    // first row's dim (bounded: limit(1) on a narrow projection) and fail
    // loudly instead.
    val dimProbe = emb.select(size(col("embedding")).as("d")).limit(1).collect()
    require(dimProbe.headOption.forall(_.getInt(0) == 64),
      s"annBitq packs sign bits into two 32-bit words and requires 64-dim " +
        s"embeddings; got dim=${dimProbe.headOption.map(_.getInt(0)).orNull}")
    val coded = withNorm(emb)
      .withColumn("lo", signWord(1, 32))
      .withColumn("hi", signWord(33, 32))
    val q = broadcast(coded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("id_a"), col("embedding").as("va"),
        col("nrm").as("na"), col("lo").as("qlo"), col("hi").as("qhi")))
    val codes = coded.filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("id_b"), col("lo"), col("hi"))
    // bounded two-phase top-cand cut (rankPerQuery): the prescreen's
    // linear Hamming scan is the operator's honest price, but its rank
    // must never funnel the whole corpus through one task's sort
    val pres = rankPerQuery(
        q.join(codes).withColumn("hamming",
          (bit_count(expr("qlo ^ lo")) + bit_count(expr("qhi ^ hi"))).cast("long")),
        Seq(col("hamming"), col("id_b")), cand)
      .select(col("id_a"), col("va"), col("na"), col("id_b"), col("hamming"))
    val fetch = withNorm(emb)
      .select(col("vec_id").as("id_b"), col("embedding").as("vb"), col("nrm").as("nb"))
    val w = Window.partitionBy(col("id_a")).orderBy(col("cos").desc, col("id_b"))
    pres.join(fetch, Seq("id_b"))
      .withColumn("cos", cosine)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id_a").as("q_id"), col("id_b").as("n_id"),
        col("rank").cast("long").as("rank"), col("hamming"),
        graft.Quant.q6(col("cos")).as("cos_sim"))
  }
}
