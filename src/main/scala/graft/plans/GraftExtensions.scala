package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Session extension entry point:
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
  *
  * Installs the optimizer rule and registers graft's custom expressions as
  * SQL functions, so `spark.sql` users get the same codegen'd primitives
  * as the Column API:
  *   fvec_dot(a, b), dtw_distance(qa, ca), minhash_sig(norm, n, k),
  *   simhash_sig(norm), hashed_shingles(norm, n), sorted_intersect_count(a, b)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def longLit(e: Expression, what: String): Long = e match {
    case Literal(v: Long, LongType) => v
    case Literal(v: Int, IntegerType) => v.toLong
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def dblLit(e: Expression, what: String): Double = e match {
    case Literal(v: Double, org.apache.spark.sql.types.DoubleType) => v
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case Literal(v: Int, IntegerType) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$what must be a numeric literal, got $other")
  }

  private def strLit(e: Expression, what: String): String = e match {
    case Literal(v, org.apache.spark.sql.types.StringType) if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  private def fn(name: String, usage: String)(builder: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name),
      new ExpressionInfo("graft.plans", name, usage),
      (args: Seq[Expression]) => builder(args))

  private def tfn(name: String, usage: String)(builder: Seq[Expression] => LogicalPlan) =
    (new FunctionIdentifier(name),
      new ExpressionInfo("graft.plans", name, usage),
      (args: Seq[Expression]) => builder(args))

  // TVF helpers: the first argument names a table/view, resolved against
  // SparkSession.active — the THREAD-LOCAL active session at function-
  // resolution time, which in a multi-session app (cloned sessions,
  // Connect) may differ from the session that registered the extension.
  // Single-session deployments (this engine's contract) are unaffected;
  // a missing view is rethrown as an AnalysisException naming the TVF
  // argument so it surfaces as an analysis error, not a builder crash.
  private def view(e: Expression): org.apache.spark.sql.DataFrame = {
    val name = strLit(e, "view name")
    try org.apache.spark.sql.SparkSession.active.table(name)
    catch {
      // only the genuine missing-relation error gets relabeled with the
      // TVF context; any other analysis failure (e.g. an unresolvable
      // view DEFINITION) must keep its own error class — and either way
      // the original exception rides along as the cause, so the
      // diagnostic chain survives the rewrap
      case ex: org.apache.spark.sql.AnalysisException
          if ex.getCondition == "TABLE_OR_VIEW_NOT_FOUND" =>
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "TABLE_OR_VIEW_NOT_FOUND",
          messageParameters = Map("relationName" ->
            (s"`$name` (a graft TVF view argument, resolved in the " +
              "ACTIVE session's catalog)")),
          cause = Some(ex))
    }
  }
  private def keyCols(e: Expression): Seq[String] =
    strLit(e, "key columns").split(",").map(_.trim).filter(_.nonEmpty).toSeq

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => DivComparisonBounds)
    ext.injectPlannerStrategy(_ => GraftStrategies)
    ext.injectFunction(fn("fvec_dot",
      "fvec_dot(a, b) - double dot product of two float/double arrays") {
      case Seq(a, b) => FloatVectorDot(a, b)
    })
    ext.injectFunction(fn("dtw_distance",
      "dtw_distance(qa, ca) - exact DTW distance of two bigint arrays (null if either is empty)") {
      case Seq(q, c) => DtwDistance(q, c)
    })
    ext.injectFunction(fn("minhash_sig",
      "minhash_sig(norm, n, k) - k-function MinHash over word n-gram shingles") {
      case Seq(s, n, k) => MinHashSig(s, intLit(n, "n"), intLit(k, "k"))
    })
    ext.injectFunction(fn("simhash_sig",
      "simhash_sig(norm) - 64-bit SimHash of the words of norm") {
      case Seq(s) => SimHashSig(s)
    })
    ext.injectFunction(fn("hashed_shingles",
      "hashed_shingles(norm, n) - sorted distinct hashed word n-gram shingles") {
      case Seq(s, n) => HashedShingles(s, intLit(n, "n"))
    })
    ext.injectFunction(fn("sorted_intersect_count",
      "sorted_intersect_count(a, b) - |a ∩ b| of sorted distinct long arrays") {
      case Seq(a, b) => SortedIntersectCount(a, b)
    })
    // SQL TABLE functions: the core read operators callable straight from
    // spark.sql — `SELECT * FROM graft_windows('pts', 'uuid', 0, 100, 10)`.
    // The builder runs at analysis time in the calling session, so the TVF
    // expands to the operator's own DataFrame plan — identical pushdown,
    // codegen, and partial aggregation; nothing is interpreted per row.
    import graft.ts.TimeSeriesOps
    ext.injectTableFunction(tfn("graft_raw_values",
      "graft_raw_values(view, keys_csv, start, end) - time-ordered raw scan of [start, end)") {
      case Seq(v, k, s0, e0) =>
        TimeSeriesOps.rawValues(view(v), keyCols(k),
          longLit(s0, "start"), longLit(e0, "end")).queryExecution.logical
    })
    ext.injectTableFunction(tfn("graft_windows",
      "graft_windows(view, keys_csv, start, end, width) - StatPoints per fixed-width window") {
      case Seq(v, k, s0, e0, w) =>
        TimeSeriesOps.windows(view(v), keyCols(k),
          longLit(s0, "start"), longLit(e0, "end"), longLit(w, "width"))
          .queryExecution.logical
    })
    ext.injectTableFunction(tfn("graft_aligned_windows",
      "graft_aligned_windows(view, keys_csv, start, end, pw) - StatPoints per 2^pw-aligned bucket") {
      case Seq(v, k, s0, e0, pw) =>
        TimeSeriesOps.alignedWindows(view(v), keyCols(k),
          longLit(s0, "start"), longLit(e0, "end"), intLit(pw, "pointWidth"))
          .queryExecution.logical
    })
    ext.injectTableFunction(tfn("graft_gaps",
      "graft_gaps(view, keys_csv, start, end, width) - empty grid windows per stream") {
      case Seq(v, k, s0, e0, w) =>
        TimeSeriesOps.gaps(view(v), keyCols(k),
          longLit(s0, "start"), longLit(e0, "end"), longLit(w, "width"))
          .queryExecution.logical
    })
    ext.injectTableFunction(tfn("graft_asof_join",
      "graft_asof_join(left_view, right_view, keys_csv[, tolerance_us]) - " +
        "latest right value at or before each left row's timestamp") {
      case Seq(lv, rv, k) =>
        TimeSeriesOps.asofJoin(view(lv), view(rv), keyCols(k)).queryExecution.logical
      case Seq(lv, rv, k, tol) =>
        TimeSeriesOps.asofJoin(view(lv), view(rv), keyCols(k),
          toleranceUs = Some(longLit(tol, "tolerance_us"))).queryExecution.logical
    })
    ext.injectTableFunction(tfn("graft_forecast",
      "graft_forecast(view, keys_csv, start, end, width, period, alpha, beta, gamma, horizon) - " +
        "h-step Holt-Winters projection per stream") {
      case Seq(v, k, s0, e0, w, p, a, b, g, h) =>
        TimeSeriesOps.holtWintersForecast(view(v), keyCols(k),
          longLit(s0, "start"), longLit(e0, "end"), longLit(w, "width"),
          intLit(p, "period"), dblLit(a, "alpha"), dblLit(b, "beta"),
          dblLit(g, "gamma"), intLit(h, "horizon")).queryExecution.logical
    })
    ext.injectTableFunction(tfn("graft_band",
      "graft_band(view, keys_csv, start, end, width, k, n_sigma) - " +
        "Bollinger envelope (trailing-k mean ± n_sigma·σ) per stream") {
      case Seq(v, kc, s0, e0, w, kk, ns) =>
        TimeSeriesOps.bollingerBands(view(v), keyCols(kc),
          longLit(s0, "start"), longLit(e0, "end"), longLit(w, "width"),
          intLit(kk, "k"), dblLit(ns, "n_sigma")).queryExecution.logical
    })
    ext.injectTableFunction(tfn("graft_peaks",
      "graft_peaks(view, keys_csv, start, end, width, k, min_prom_us) - " +
        "window-mean peaks with strict k-shoulder dominance and a prominence floor") {
      case Seq(v, kc, s0, e0, w, kk, mp) =>
        TimeSeriesOps.peaks(view(v), keyCols(kc),
          longLit(s0, "start"), longLit(e0, "end"), longLit(w, "width"),
          intLit(kk, "k"), longLit(mp, "min_prom_us")).queryExecution.logical
    })
    ext.injectTableFunction(tfn("graft_changepoints",
      "graft_changepoints(view, keys_csv, start, end, width, k, min_shift_us) - " +
        "offline mean-shift change points over the window-mean series") {
      case Seq(v, kc, s0, e0, w, kk, ms) =>
        TimeSeriesOps.changePoints(view(v), keyCols(kc),
          longLit(s0, "start"), longLit(e0, "end"), longLit(w, "width"),
          intLit(kk, "k"), longLit(ms, "min_shift_us")).queryExecution.logical
    })
    ext.injectTableFunction(tfn("graft_motifs",
      "graft_motifs(view, keys_csv, start, end, width, w, k) - " +
        "top-k SAX subsequence motifs across the fleet") {
      case Seq(v, kc, s0, e0, wd, sw, kk) =>
        graft.ts.Downsample.motifs(view(v), keyCols(kc),
          longLit(s0, "start"), longLit(e0, "end"), longLit(wd, "width"),
          intLit(sw, "w"), intLit(kk, "k")).queryExecution.logical
    })
    ext.injectTableFunction(tfn("graft_savgol",
      "graft_savgol(view, keys_csv, start, end, width) - " +
        "Savitzky-Golay 5-point smoothing of the window-mean series") {
      case Seq(v, kc, s0, e0, w) =>
        TimeSeriesOps.savgol(view(v), keyCols(kc),
          longLit(s0, "start"), longLit(e0, "end"), longLit(w, "width"))
          .queryExecution.logical
    })
    ext.injectTableFunction(tfn("graft_boxplot",
      "graft_boxplot(view, keys_csv, start, end, width, whisker) - " +
        "five-number summary + Tukey-fence outlier counts per window") {
      case Seq(v, kc, s0, e0, w, wh) =>
        TimeSeriesOps.boxplotWindows(view(v), keyCols(kc),
          longLit(s0, "start"), longLit(e0, "end"), longLit(w, "width"),
          dblLit(wh, "whisker")).queryExecution.logical
    })
    ext.injectTableFunction(tfn("graft_burnrate",
      "graft_burnrate(view, keys_csv, start, end, widths_csv, bad_gt, slo) - " +
        "multi-window SLO burn rate; bad = value > bad_gt") {
      case Seq(v, kc, s0, e0, ws, bg, sl) =>
        val widths = strLit(ws, "widths").split(",").map(_.trim.toLong).toSeq
        TimeSeriesOps.burnRate(view(v), keyCols(kc),
          longLit(s0, "start"), longLit(e0, "end"), widths,
          org.apache.spark.sql.functions.col("value") > dblLit(bg, "bad_gt"),
          dblLit(sl, "slo")).queryExecution.logical
    })
    ext.injectTableFunction(tfn("graft_dedup_exact",
      "graft_dedup_exact(view) - exact-dedup verdict per document of (doc_id, text)") {
      case Seq(v) =>
        graft.text.Dedup.exact(view(v)).queryExecution.logical
    })
    ext.injectTableFunction(tfn("graft_shard",
      "graft_shard(view, min_quality, budget_per_stratum) - the one-pass " +
        "training-shard manifest over (doc_id, text, source)") {
      case Seq(v, mq, b) =>
        graft.text.TextFunctions.corpusShard(view(v), dblLit(mq, "min_quality"),
          longLit(b, "budget_per_stratum")).queryExecution.logical
    })
  }
}
