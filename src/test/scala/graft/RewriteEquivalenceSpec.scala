package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ts.TimeSeriesOps

/** Randomized equivalence guards for the distributed rewrites: the
  * two-phase prefix sum (budget fill / sequence packing) and the bounded
  * per-window top-k replaced naive single-task windows for scale — the
  * oracle gate pins them on ONE dataset; these pin the algebra against
  * the naive reference on arbitrary skewed inputs (including the
  * one-giant-stratum shape the rewrites exist for).
  */
class RewriteEquivalenceSpec extends SparkSuite {
  import spark.implicits._

  private def randomDocs(seed: Long, n: Int, strata: Int) = {
    val rnd = new scala.util.Random(seed)
    // skew: stratum 0 gets ~half the docs — the single-reducer killer
    (1 to n).map { i =>
      val s = if (rnd.nextBoolean()) 0 else rnd.nextInt(strata)
      (i.toLong, s"src$s", (rnd.nextInt(50) + 1).toLong,
        f"${rnd.nextLong()}%016x")
    }.toDF("doc_id", "stratum", "n_tokens", "rank_key")
  }

  test("two-phase prefix sum equals the single-window reference") {
    for (seed <- Seq(1L, 42L, 2026L)) {
      val docs = randomDocs(seed, 500, 5)
      val w = Window.partitionBy(col("stratum"))
        .orderBy(col("rank_key"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val ref = docs.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .select("doc_id", "cum_tokens")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = graft.text.TextFunctions.stratumPrefixSum(docs)
        .select("doc_id", "cum_tokens")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == ref, s"seed $seed: ${got.size} rows vs ${ref.size}")
    }
  }

  // skewed point sets for the sliced-scan guards: stream s0 holds ~half
  // the points (spanning several range slices at 4 shuffle partitions),
  // timestamps collide on a coarse grid so (t, value) ties — including
  // full-duplicate rows — land on and across slice boundaries
  private def randomPoints(seed: Long, n: Int, streams: Int) = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { _ =>
      val s = if (rnd.nextBoolean()) "s0" else s"s${rnd.nextInt(streams)}"
      (s, rnd.nextInt(300).toLong, (rnd.nextInt(16) - 8).toDouble / 4)
    }.toDF("uuid", "t_us", "value")
  }

  private def multiset(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  test("sliced delta equals the stream-wide window lag reference") {
    for (seed <- Seq(3L, 77L)) {
      val pts = randomPoints(seed, 3000, 6)
      val w = Window.partitionBy(col("uuid")).orderBy(col("t_us"), col("value"))
      val ref = pts
        .withColumn("prev_t", lag(col("t_us"), 1).over(w))
        .withColumn("prev_v", lag(col("value"), 1).over(w))
        .filter(col("prev_t").isNotNull)
        .select(col("uuid"), col("t_us"), col("value"),
          graft.Quant.q6(col("value") - col("prev_v")).as("dv"),
          (col("t_us") - col("prev_t")).as("dt_us"),
          when(col("t_us") - col("prev_t") > 0,
            graft.Quant.q6((col("value") - col("prev_v")) /
              (col("t_us") - col("prev_t")).cast("double") * 1e6)).as("rate_per_s"))
      assert(multiset(TimeSeriesOps.delta(pts, Seq("uuid"))) == multiset(ref),
        s"seed $seed delta mismatch")
    }
  }

  test("sliced cusum equals the stream-wide exact prefix-sum reference") {
    for (seed <- Seq(11L, 2027L)) {
      val pts = randomPoints(seed, 3000, 6)
      val stats = TimeSeriesOps.streamStats(pts, Seq("uuid"))
        .select(col("uuid"), round(col("mean_us"), 0).cast("long").as("mean_i"))
      val w = Window.partitionBy(col("uuid")).orderBy(col("t_us"), col("value"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val ref = pts.join(broadcast(stats), "uuid")
        .withColumn("cum_us",
          sum((graft.Quant.us6(col("value")) - col("mean_i")).cast("decimal(38,0)")).over(w))
        .select(col("uuid"), col("t_us"), col("value"),
          graft.Quant.q6(col("cum_us").cast("double") / 1e6).as("cusum"))
      assert(multiset(TimeSeriesOps.cusum(pts, Seq("uuid"))) == multiset(ref),
        s"seed $seed cusum mismatch")
    }
  }

  test("sliced sessionize equals the stream-wide gaps-and-islands reference") {
    for (seed <- Seq(5L, 404L)) {
      val pts = randomPoints(seed, 3000, 6)
      val gapUs = 7L
      val w = Window.partitionBy(col("uuid")).orderBy(col("t_us"), col("value"))
      val ref = pts
        .withColumn("prev_t", lag(col("t_us"), 1).over(w))
        .withColumn("is_new",
          when(col("prev_t").isNull || col("t_us") - col("prev_t") > gapUs, 1).otherwise(0))
        .withColumn("session", sum(col("is_new")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("uuid"), col("session"))
        .agg(min(col("t_us")).as("s_start"), max(col("t_us")).as("s_end"),
          count(lit(1)).as("n_events"),
          graft.Quant.mean6(sum(graft.Quant.us6(col("value"))), count(lit(1))).as("v_mean"))
        .withColumn("duration_us", col("s_end") - col("s_start"))
        .drop("session")
      assert(multiset(TimeSeriesOps.sessionize(pts, Seq("uuid"), gapUs)) == multiset(ref),
        s"seed $seed sessionize mismatch")
    }
  }

  test("sliced value runs equal the stream-wide gaps-and-islands reference") {
    for (seed <- Seq(13L, 909L)) {
      val pts = randomPoints(seed, 3000, 6)
      val dedup = pts.groupBy(col("uuid"), col("t_us")).agg(max(col("value")).as("value"))
      val w = Window.partitionBy(col("uuid")).orderBy(col("t_us"))
      val ref = dedup
        .withColumn("prev_v", lag(col("value"), 1).over(w))
        .withColumn("is_new",
          when(col("prev_v").isNull || col("value") =!= col("prev_v"), 1).otherwise(0))
        .withColumn("run", sum(col("is_new")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("uuid"), col("run"))
        .agg(min(col("t_us")).as("r_start"), max(col("t_us")).as("r_end"),
          min(col("value")).as("value"), count(lit(1)).as("n_points"))
        .drop("run")
      assert(multiset(TimeSeriesOps.valueRuns(pts, Seq("uuid"))) == multiset(ref),
        s"seed $seed value runs mismatch")
    }
  }

  test("quantile cuts are cached per canonical plan and stay valid cut arrays") {
    TimeSeriesOps.cutsCache.clear()
    val pts = randomPoints(9L, 3000, 6)
    val first = TimeSeriesOps.timeSliced(pts, Seq("uuid"))
    assert(TimeSeriesOps.cutsCache.size == 1, "first slice should populate one entry")
    val cuts = TimeSeriesOps.cutsCache.values.iterator.next()
    assert(cuts.toSeq == cuts.toSeq.distinct.sorted, "cuts must be sorted distinct")
    // same logical plan (rebuilt, not the same object) → cache hit, not a new entry
    val again = TimeSeriesOps.timeSliced(randomPoints(9L, 3000, 6), Seq("uuid"))
    assert(TimeSeriesOps.cutsCache.size == 1, "identical plan must reuse the entry")
    assert(multiset(first) == multiset(again), "cached cuts must slice identically")
    // a different plan gets its own entry
    TimeSeriesOps.timeSliced(pts.filter(col("t_us") >= 10), Seq("uuid"))
    assert(TimeSeriesOps.cutsCache.size == 2, "distinct plan must not collide")
  }

  test("bucketed lttb equals the sequential candidate-chain reference") {
    // the distributed pipeline (sliced prefix count → bucket assignment →
    // M4 candidates → per-stream chain over summaries) must reproduce the
    // naive single-pass form of the SAME algorithm exactly
    def us6(v: Double): Long = java.math.BigDecimal.valueOf(v * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    def mean6(s: BigInt, n: Int): Double = java.math.BigDecimal
      .valueOf(s.doubleValue / n).setScale(0, java.math.RoundingMode.HALF_UP)
      .doubleValue / 1e6
    def refBucketed(rows: Seq[(String, Long, Double)], nOut: Int) = {
      val middle = nOut - 2
      rows.groupBy(_._1).toSeq.flatMap { case (k, g) =>
        val pts = g.map(r => (r._2, r._3)).sorted.toArray
        if (pts.length <= nOut) pts.toSeq.map(p => (k, p._1, p._2))
        else {
          val m = pts.length - 2
          val buckets = Array.fill(middle)(
            scala.collection.mutable.ArrayBuffer.empty[(Long, Double)])
          for (j <- 0 until m) buckets(((j.toLong * middle) / m).toInt) += pts(j + 1)
          val bm = buckets.map { b =>
            (b.map(p => BigInt(p._1)).sum.doubleValue / b.length,
              mean6(b.map(p => BigInt(us6(p._2))).sum, b.length))
          }
          val cands = buckets.map { b =>
            Seq(b.minBy(identity), b.maxBy(identity),
              b.minBy(p => (p._2, p._1)), b.maxBy(p => (p._2, p._1))).distinct
          }
          val out = scala.collection.mutable.ArrayBuffer(pts(0))
          for (kb <- 0 until middle) {
            val (tBar, vBar) =
              if (kb + 1 < middle) bm(kb + 1) else (pts.last._1.toDouble, pts.last._2)
            val x0 = out.last._1.toDouble; val y0 = out.last._2
            var bestA = -1.0; var best = (0L, 0.0); var first = true
            for ((t, v) <- cands(kb)) {
              val a = math.abs((x0 - tBar) * (v - y0) - (x0 - t.toDouble) * (vBar - y0))
              if (first || a > bestA ||
                  (a == bestA && (t > best._1 || (t == best._1 && v > best._2)))) {
                bestA = a; best = (t, v); first = false
              }
            }
            out += best
          }
          out += pts.last
          out.toSeq.map(p => (k, p._1, p._2))
        }
      }
    }
    def m(s: Seq[(String, Long, Double)]) = s.groupBy(identity).view.mapValues(_.size).toMap
    for (seed <- Seq(21L, 555L)) {
      val pts = randomPoints(seed, 3000, 6)
      val got = graft.ts.Downsample.lttbBucketed(pts, Seq("uuid"), 0L, 300L, 9)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      val in = pts.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(m(got) == m(refBucketed(in, 9)), s"seed $seed bucketed lttb mismatch")
    }
  }

  test("balanced sample equals the single-window rank reference") {
    for (seed <- Seq(9L, 44L)) {
      val docs = randomDocs(seed, 500, 5).select(col("doc_id"), col("stratum"))
      val got = graft.text.TextFunctions.sampleBalanced(docs, "stratum", 30)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      val w = Window.partitionBy(col("stratum")).orderBy(col("rk"), col("doc_id"))
      val ref = docs
        .withColumn("rk", md5(col("doc_id").cast("string")))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 30)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(got == ref, s"seed $seed: ${got.size} vs ${ref.size}")
    }
  }

  test("holt-winters fold equals a scala reference on random series") {
    // one point per window and ≤2dp values keep v_mean exact, so the SQL
    // aggregate-HOF fold must match a plain Scala fold bit-for-bit
    def q6(x: Double): Double =
      java.math.BigDecimal.valueOf(x * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue / 1e6 + 0.0
    val (p, a, b, g) = (3, 0.4, 0.2, 0.6)
    for (seed <- Seq(5L, 123L)) {
      val rnd = new scala.util.Random(seed)
      val vals = (0 until 40).map(_ => (rnd.nextInt(800) - 400) / 4.0)
      val pts = vals.zipWithIndex.map { case (v, i) => ("s", i * 10L + 3L, v) }
        .toDF("uuid", "t_us", "value")
      val got = graft.ts.TimeSeriesOps
        .holtWinters(pts, Seq("uuid"), 0L, 400L, 10L, p, a, b, g)
        .orderBy("w_start").collect()
        .map(r => (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
      val ref = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double)]
      val ring = scala.collection.mutable.ArrayBuffer.empty[Double]
      var (l, t) = (0.0, 0.0)
      vals.zipWithIndex.foreach { case (v, i) =>
        if (i == 0) { l = v; t = 0.0; ring += 0.0 }
        else {
          val sPrev = if (ring.length >= p) ring(ring.length - p) else 0.0
          val lNew = a * (v - sPrev) + (1.0 - a) * (l + t)
          val tNew = b * (lNew - l) + (1.0 - b) * t
          val sNew = g * (v - lNew) + (1.0 - g) * sPrev
          l = lNew; t = tNew; ring += sNew
        }
        ref += ((q6(l), q6(t), q6(ring.last)))
      }
      assert(got == ref.toSeq, s"seed $seed: ${got.take(5)} vs ${ref.take(5)}")
    }
  }

  test("dtw fold equals a brute-force DP on random profiles of mixed length") {
    // one point per bucket and ≤2dp values keep the PAA means exact, so
    // the dtw_distance kernel must reproduce a plain O(n·m) Scala DP in
    // exact integers — including length-1 profiles (no outer fold
    // iterations) and candidate arrays longer and shorter than the query
    def dtwRef(a: Seq[Long], b: Seq[Long]): Long = {
      val inf = Long.MaxValue / 4
      var prev = Array.fill(b.length + 1)(inf); prev(0) = 0L
      for (i <- 1 to a.length) {
        val cur = Array.fill(b.length + 1)(inf)
        for (j <- 1 to b.length)
          cur(j) = math.abs(a(i - 1) - b(j - 1)) +
            math.min(prev(j), math.min(prev(j - 1), cur(j - 1)))
        prev = cur
      }
      prev(b.length)
    }
    for (seed <- Seq(7L, 99L)) {
      val rnd = new scala.util.Random(seed)
      // stream s0 is the query; lengths 1..12 buckets at width 10
      val profiles = (0 until 8).map { s =>
        s"s$s" -> (0 until (rnd.nextInt(12) + 1)).map(_ => (rnd.nextInt(800) - 400) / 4.0)
      }
      val pts = profiles.flatMap { case (u, vs) =>
        vs.zipWithIndex.map { case (v, i) => (u, i * 10L + 1L, v) }
      }.toDF("uuid", "t_us", "value")
      val got = graft.ts.Downsample
        .dtwSimilar(pts, Seq("uuid"), col("uuid") === "s0", 0L, 120L, 10L, 100)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      val qa = profiles.head._2.map(v => math.round(v * 1e6))
      val ref = profiles.tail.map { case (u, vs) =>
        u -> dtwRef(qa, vs.map(v => math.round(v * 1e6))) / 1e6
      }.toMap
      assert(got == ref, s"seed $seed: $got vs $ref")
    }
  }

  /** The interpreted fold dtwSimilar ran before the dtw_distance kernel,
    * kept verbatim as the kernel's reference: outer over q[2..], inner
    * over the candidate, copying its accumulator at every cell. */
  private val DtwFold =
    """aggregate(
      |  slice(qa, 2, size(qa) - 1),
      |  aggregate(ca, cast(array() as array<bigint>),
      |    (acc, cj) -> acc || array(CASE WHEN size(acc) = 0
      |        THEN abs(element_at(qa, 1) - cj)
      |        ELSE element_at(acc, size(acc)) + abs(element_at(qa, 1) - cj) END)),
      |  (prev, qi) -> aggregate(ca, cast(array() as array<bigint>),
      |    (acc, cj) -> acc || array(abs(qi - cj) +
      |      CASE WHEN size(acc) = 0 THEN element_at(prev, 1)
      |           ELSE least(element_at(prev, size(acc) + 1),
      |                      element_at(prev, size(acc)),
      |                      element_at(acc, size(acc))) END)),
      |  dpr -> element_at(dpr, size(ca)))""".stripMargin

  /** body once with every projection code-generated (whole-stage on) and
    * once with every expression interpreted (whole-stage off). */
  private def inCodegenModes(body: String => Unit): Unit =
    for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try body(mode)
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }

  // an RDD-backed frame: a local relation would have its projections
  // folded (interpreted) by the optimizer before either mode applies
  private def profilePairs(rows: Seq[(Int, Seq[Option[Long]], Seq[Option[Long]])]) =
    spark.sparkContext.parallelize(rows, 4).toDF("id", "qa", "ca")

  private def overflows(t: Throwable): Boolean =
    t != null && (t match {
      case a: ArithmeticException with org.apache.spark.SparkThrowable
        if a.getCondition == "ARITHMETIC_OVERFLOW" => true
      case _ => overflows(t.getCause)
    })

  test("dtw_distance equals the interpreted fold on random profiles with nulls") {
    val rnd = new scala.util.Random(2026L)
    def profile() = Seq.fill(rnd.nextInt(14) + 1)(
      if (rnd.nextInt(100) < 8) None else Some((rnd.nextInt(2000) - 1000) * 1000003L))
    val pairs = profilePairs((0 until 300).map(i => (i, profile(), profile())))
    inCodegenModes { mode =>
      val rows = pairs.select(col("id"), expr(DtwFold).as("fold"),
        graft.plans.DtwDistance.dtw(col("qa"), col("ca")).as("kernel")).collect()
      assert(rows.length == 300)
      val diff = rows.filter(r => Option(r.get(1)) != Option(r.get(2)))
      assert(diff.isEmpty, s"$mode: ${diff.take(5).mkString(", ")}")
      // the null rules are exercised, not just the arithmetic
      val nulls = rows.count(_.isNullAt(1))
      assert(nulls > 0 && nulls < 300, s"$mode: $nulls null results")
    }
  }

  test("dtw_distance raises and skips overflow exactly where the fold does") {
    val big = Long.MaxValue / 2 + 1
    // each pair on its own: a raise fails the whole query
    val raising = Seq(
      Seq(Some(big)) -> Seq(Some(-big)),                // |q − c| overflows
      Seq(Some(Long.MinValue)) -> Seq(Some(0L)),        // abs(MinValue)
      Seq(Some(big - 1)) -> Seq(Some(0L), Some(-big + 1)), // row-1 sum
      Seq(Some(0L), Some(-big + 1)) -> Seq(Some(big - 1))) // interior sum
    val quiet = Seq(
      // row 1 is null from c₁ on, so |0 − MinValue| is never computed
      Seq(Some(0L)) -> Seq(None, Some(Long.MinValue)),
      Seq(Some(1L), None) -> Seq(None, Some(Long.MinValue)))
    inCodegenModes { mode =>
      for ((q, c) <- raising; e <- Seq(expr(DtwFold),
          graft.plans.DtwDistance.dtw(col("qa"), col("ca")))) {
        val ex = intercept[Exception](profilePairs(Seq((0, q, c))).select(e).collect())
        assert(overflows(ex), s"$mode $q $c: $ex")
      }
      for ((q, c) <- quiet) {
        val r = profilePairs(Seq((0, q, c))).select(expr(DtwFold),
          graft.plans.DtwDistance.dtw(col("qa"), col("ca"))).head()
        assert(Option(r.get(0)) == Option(r.get(1)), s"$mode $q $c: $r")
      }
    }
  }

  test("dtwSimilar raises ARITHMETIC_OVERFLOW past the exact long range") {
    // the µ-unit profiles of two streams at ±9e12 are ±9e18: their cost
    // |q − c| is past 2⁶³ − 1, and the distance must not wrap
    val pts = Seq(("q", 1L, 9e12), ("q", 11L, 9e12), ("c", 1L, -9e12), ("c", 11L, -9e12))
      .toDF("uuid", "t_us", "value")
    inCodegenModes { mode =>
      val ex = intercept[Exception](graft.ts.Downsample
        .dtwSimilar(pts, Seq("uuid"), col("uuid") === "q", 0L, 20L, 10L, 5).collect())
      assert(overflows(ex), s"$mode: $ex")
    }
  }

  test("lttbAuto delegates on the max in-range stream size") {
    // below the bound the dashboard-facing name IS exact lttb; above it,
    // the bucketed plan — checked by comparing against each path directly
    val pts = randomPoints(11L, 3000, 6)
    def m(df: org.apache.spark.sql.DataFrame) = multiset(df)
    val exact = graft.ts.Downsample.lttb(pts, Seq("uuid"), 0L, 300L, 9)
    val bucketed = graft.ts.Downsample.lttbBucketed(pts, Seq("uuid"), 0L, 300L, 9)
    val below = graft.ts.Downsample.lttbAuto(pts, Seq("uuid"), 0L, 300L, 9,
      maxExactPoints = 1000000L)
    val above = graft.ts.Downsample.lttbAuto(pts, Seq("uuid"), 0L, 300L, 9,
      maxExactPoints = 10L)
    assert(m(below) == m(exact), "below the bound lttbAuto must be exact lttb")
    assert(m(above) == m(bucketed), "above the bound lttbAuto must be the bucketed plan")
    // and on an empty range the probe must not blow up on the null max
    assert(graft.ts.Downsample.lttbAuto(pts, Seq("uuid"), 9000L, 9100L, 9).count() == 0)
  }

  test("bounded top-k per window equals the global rank reference") {
    for (seed <- Seq(7L, 99L)) {
      val rnd = new scala.util.Random(seed)
      // heavy collisions: many streams share counts so tie-breaks matter
      val pts = (1 to 4000).map { _ =>
        (s"s${rnd.nextInt(60)}", rnd.nextInt(10) * 10L + rnd.nextInt(10), 1.0)
      }.toDF("uuid", "t_us", "value")
      val counts = pts.filter($"t_us" >= 0 && $"t_us" < 100)
        .groupBy($"uuid", ($"t_us" - ($"t_us" % 10)).as("w_start"))
        .agg(count(lit(1)).as("n_points"))
      val rw = Window.partitionBy($"w_start")
        .orderBy($"n_points".desc, $"uuid".asc)
      val ref = counts.withColumn("rnk", row_number().over(rw).cast("long"))
        .filter($"rnk" <= 3)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val got = TimeSeriesOps.topKPerWindow(pts, Seq("uuid"), 0L, 100L, 10L, 3)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == ref, s"seed $seed: ${got.size} vs ${ref.size}")
    }
  }

  test("Md5MinSig equals the interpreted md5-prefix-min signature form") {
    // the minhashTune signature: sig[k] = min over word n-gram shingles g
    // of substring(md5(concat(k, '|', g)), 1, 16). The codegen byte-pass
    // expression must reproduce it verbatim — including duplicate shingles
    // (no-ops on a min), unicode words, and the null contract for docs
    // under n words (which the interpreted form expressed as a
    // size(sh) > 0 pre-filter).
    val words = Vector("alpha", "beta", "gamma", "delta", "näïve", "字符",
      "x", "longerwordhere", "07", "beta") // dup vocab → dup shingles
    for (seed <- Seq(11L, 4242L)) {
      val rnd = new scala.util.Random(seed)
      val docs = ((1 to 40).map { i =>
        val n = rnd.nextInt(30) // includes 0/1/2-word docs → null sig
        (i.toLong, Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" "))
      } :+ (98L, "exactly three words") :+ (99L, "two words")).toDF("doc_id", "norm")
      val k = 8
      val ref = docs
        .withColumn("sh", expr(
          "CASE WHEN size(split(norm, ' ')) < 3 THEN array() ELSE " +
            "array_distinct(transform(sequence(1, size(split(norm, ' ')) - 2), i -> " +
            "concat_ws(' ', element_at(split(norm, ' '), i), " +
            "element_at(split(norm, ' '), i + 1), " +
            "element_at(split(norm, ' '), i + 2)))) END"))
        .select(col("doc_id"), when(size(col("sh")) > 0,
          expr(s"transform(sequence(0, ${k - 1}), k -> array_min(transform(sh, g -> " +
            "substring(md5(concat(cast(k as string), '|', g)), 1, 16))))")).as("sig"))
        .collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
      val got = docs
        .select(col("doc_id"),
          graft.plans.TextHashes.md5MinSig(col("norm"), 3, k).as("sig"))
        .collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
      assert(got == ref, s"seed $seed")
    }
  }

  test("lmScore zip_with bigram form equals the lead()-window form") {
    // the r16 rewrite: bigrams built array-side (zip_with over two slices
    // of w) instead of a lead() window over the exploded token stream -
    // the reference here IS the old implementation, inlined: posexplode ->
    // OOV map via broadcast top-V join -> lead().over(doc_id, pos) ->
    // bigram/unigram LMs -> per-doc aggregate with the max(struct(pos,nw))
    // last-word recovery. Shapes covered: docs under 2 words (excluded),
    // empty docs ("" token), OOV-heavy docs, unicode, ties in the top-V
    // cut (count desc, word asc).
    import org.apache.spark.sql.expressions.Window
    val vocabWords = Vector("the", "a", "of", "to", "x1", "x2", "x3",
      "n\u00e4\u00efve", "\u5b57\u7b26", "rare1", "rare2", "rare3")
    for (seed <- Seq(7L, 1234L)) {
      val rnd = new scala.util.Random(seed)
      val docs = ((1 to 60).map { i =>
        val n = rnd.nextInt(25)
        (i.toLong, Seq.fill(n)(vocabWords(rnd.nextInt(vocabWords.size))).mkString(" "))
      } :+ (97L, "") :+ (98L, "solo") :+ (99L, "two words")).toDF("doc_id", "body")
        .select(col("doc_id"), col("body").as("text"))
      val named = docs.select(col("doc_id"), col("text"))
      val in = named.select(col("doc_id"), col("text"))
      val V = 6 // small vocab so OOV is exercised hard
      def oldLmScore(d: org.apache.spark.sql.DataFrame) = {
        val words = graft.text.TextFunctions.withBase(d)
          .select(col("doc_id"), posexplode(col("w")).as(Seq("pos", "word")))
        val topV = words.groupBy(col("word")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("word").asc).limit(V)
          .select(col("word"), lit(true).as("in_v"))
        val mapped = words.join(broadcast(topV), Seq("word"), "left")
          .select(col("doc_id"), col("pos"),
            when(col("in_v").isNotNull, col("word")).otherwise(lit("\u0004oov")).as("mw"))
        val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        val big = mapped.withColumn("nw", lead(col("mw"), 1).over(byDoc))
          .filter(col("nw").isNotNull)
        val bigLm = big.groupBy(col("mw"), col("nw")).agg(count(lit(1)).as("c12"))
        val uniLm = bigLm.groupBy(col("mw")).agg(sum(col("c12")).as("c1"))
        val oovTok = "\u0004oov"
        big.join(bigLm, Seq("mw", "nw")).join(uniLm, Seq("mw"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            (sum(when(col("mw") === oovTok, 1L).otherwise(0L)) +
              when(max(struct(col("pos"), col("nw"))).getField("nw") === oovTok, 1L)
                .otherwise(0L)).as("n_oov"),
            graft.Quant.mean6(
              sum(graft.Quant.us6(col("c1").cast("double") / col("c12").cast("double"))),
              count(lit(1))).as("mean_inv_p"))
          .select(col("doc_id"), col("n_bigrams"), col("n_oov"), col("mean_inv_p"))
      }
      def key(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).sortBy(_._1).toSeq
      val ref = key(oldLmScore(in))
      val got = key(graft.text.TextFunctions.lmScore(in, V))
      assert(got == ref, s"seed $seed")
    }
  }
}
