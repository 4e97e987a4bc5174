package graft

import org.apache.spark.sql.functions._
import graft.ts.{Rollup, TimeSeriesOps}

/** Randomized-but-seeded property checks of the round-5 numeric
  * operators against independent in-memory reference implementations —
  * the distributed plan must agree with the obvious sequential algorithm
  * on arbitrary data, not just on the hand-picked spec cases.
  */
class OpsPropertySpec extends SparkSuite {
  import spark.implicits._

  private val rnd = new scala.util.Random(0xBEEF)

  private def randomSeries(n: Int): Seq[(Long, Double)] = {
    // duplicate timestamps and values on purpose: tie handling is where
    // distributed and sequential implementations drift apart
    val ts = Seq.fill(n)(rnd.nextInt(40).toLong).sorted
    ts.map(t => (t, (rnd.nextInt(21) - 10).toDouble / 2))
  }

  test("every statpoint read path equals windows() row for row on random data") {
    // node widths 2^2..2^6 over a range that starts below zero; points fall
    // outside it too, values are negative and sit on half-µ-unit boundaries
    // (the us6 rounding edge)
    val (start, end, depth) = (-128L, 192L, 2)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("uuid", "w_start").collect().toSeq
    for (_ <- 1 to 2) {
      val pts = Seq.fill(300) {
        val half = (rnd.nextInt(41) - 20 + 0.5) * 1e-6
        val v = rnd.nextInt(3) match {
          case 0 => half
          case 1 => rnd.nextInt(2001) - 1000 + half
          case _ => (rnd.nextInt(2001) - 1000) / 8.0
        }
        (Seq("a", "b")(rnd.nextInt(2)), start - 20 + rnd.nextInt(360).toLong, v)
      }.toDF("uuid", "t_us", "value").cache()
      val built = Rollup(spark, tmpDir("prop_built"), Seq(2, 4))
      built.build(pts, Seq("uuid"))
      val appended = Rollup(spark, tmpDir("prop_appended"), Seq(2, 4))
      appended.appendBatch(pts.filter(col("t_us") % 2 === 0), Seq("uuid"), "d0")
      appended.appendBatch(pts.filter(col("t_us") % 2 =!= 0), Seq("uuid"), "d1")
      val multi = TimeSeriesOps.multiResolution(pts, Seq("uuid"), start, end, Seq(16L, 32L, 64L))
      for (pw <- Seq(4, 5, 6)) {
        val width = 1L << pw
        val want = sorted(TimeSeriesOps.windows(pts, Seq("uuid"), start, end, width))
        val paths = Seq(
          "alignedWindows" -> TimeSeriesOps.alignedWindows(pts, Seq("uuid"), start, end, pw),
          "windowsApprox" -> TimeSeriesOps.windowsApprox(pts, Seq("uuid"), start, end, width, depth),
          "multiResolution" -> multi.filter(col("w_width") === width).drop("w_width")) ++
          Seq("built" -> built, "appended" -> appended).flatMap { case (name, ru) =>
            // raw is poisoned: each answer must come from the levels
            Seq(s"Rollup.windows $name" ->
                ru.windows(sys.error("read raw"), Seq("uuid"), start, end, width),
              s"Rollup.alignedWindows $name" ->
                ru.alignedWindows(sys.error("read raw"), Seq("uuid"), start, end, pw),
              s"Rollup.windowsApprox $name" ->
                ru.windowsApprox(Seq("uuid"), start, end, width, 4))
          }
        assert(want.nonEmpty)
        paths.foreach { case (name, df) => assert(sorted(df) == want, s"$name at pw=$pw") }
      }
      pts.unpersist()
    }
  }

  test("percentile matches the sorted-array type-7 reference on random data") {
    for (_ <- 1 to 12) {
      val data = randomSeries(1 + rnd.nextInt(25))
      val df = data.toDF("t_us", "value").withColumn("uuid", lit("s"))
      val ps = Seq(0.25, 0.5, 0.9)
      val got = TimeSeriesOps
        .percentileWindows(df, Seq("uuid"), 0L, 40L, 40L, ps)
        .collect()
      assert(got.length == 1)
      // reference: numpy-style linear interpolation over the sorted values
      val sorted = data.map(_._2).sorted
      ps.zipWithIndex.foreach { case (p, i) =>
        val idx = p * (sorted.length - 1)
        val lo = math.floor(idx).toInt
        val hi = math.ceil(idx).toInt
        val expect = sorted(lo) + (sorted(hi) - sorted(lo)) * (idx - math.floor(idx))
        val gotV = got(0).getDouble(3 + i)
        assert(math.abs(gotV - expect) < 1e-6, s"p=$p got=$gotV want=$expect data=$data")
      }
    }
  }

  test("MAD matches the two-pass sorted-array reference on random data") {
    for (_ <- 1 to 12) {
      val data = randomSeries(1 + rnd.nextInt(25))
      val df = data.toDF("t_us", "value").withColumn("uuid", lit("s"))
      val got = TimeSeriesOps.madWindows(df, Seq("uuid"), 0L, 40L, 40L).collect()
      assert(got.length == 1)
      def p50(xs: Seq[Double]): Double = {
        val s = xs.sorted
        val idx = 0.5 * (s.length - 1)
        val lo = math.floor(idx).toInt
        s(lo) + (s(math.ceil(idx).toInt) - s(lo)) * (idx - math.floor(idx))
      }
      val med = p50(data.map(_._2))
      val mad = p50(data.map(d => math.abs(d._2 - med)))
      assert(got(0).getLong(2) == data.length)
      assert(math.abs(got(0).getDouble(3) - med) < 1e-6, s"median, data=$data")
      assert(math.abs(got(0).getDouble(4) - mad) < 1e-6, s"mad, data=$data")
    }
  }

  test("cusum matches an exact BigInt prefix-sum reference on random data") {
    for (_ <- 1 to 8) {
      val data = randomSeries(2 + rnd.nextInt(30))
      val df = data.toDF("t_us", "value").withColumn("uuid", lit("s"))
      val got = TimeSeriesOps.cusum(df, Seq("uuid"))
        .orderBy("t_us", "value").collect().map(_.getDouble(3)).toSeq
      // reference: integer micro-units, rounded integer mean, exact prefix
      val us = data.sortBy(r => (r._1, r._2)).map(r => math.round(r._2 * 1e6))
      val mean = math.round(us.map(BigInt(_)).sum.toDouble / us.length)
      val cums = us.scanLeft(BigInt(0))((acc, u) => acc + (u - mean)).tail
      val expect = cums.map(c => c.toDouble / 1e6)
      got.zip(expect).foreach { case (g, e) =>
        assert(math.abs(g - e) < 1e-6, s"got=$got want=$expect data=$data")
      }
    }
  }

  test("sessionize splits exactly where the sequential walk splits") {
    for (_ <- 1 to 10) {
      val data = randomSeries(1 + rnd.nextInt(30))
      val gap = 1L + rnd.nextInt(10)
      val df = data.toDF("t_us", "value").withColumn("uuid", lit("s"))
      val got = TimeSeriesOps.sessionize(df, Seq("uuid"), gap)
        .orderBy("s_start").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      // reference: sequential scan over sorted times
      val ts = data.map(_._1).sorted
      val sessions = ts.tail.foldLeft(List((ts.head, ts.head, 1L))) {
        case ((s, e, n) :: rest, t) =>
          if (t - e > gap) (t, t, 1L) :: (s, e, n) :: rest
          else (s, t, n + 1) :: rest
        case (Nil, _) => Nil
      }.reverse
      assert(got == sessions, s"gap=$gap data=$data")
    }
  }

  test("rolling mean equals the flat re-aggregation of the trailing frame") {
    for (_ <- 1 to 8) {
      val data = randomSeries(2 + rnd.nextInt(30))
      val k = 1 + rnd.nextInt(4)
      val df = data.toDF("t_us", "value").withColumn("uuid", lit("s"))
      val got = TimeSeriesOps.rolling(df, Seq("uuid"), 0L, 40L, 10L, k)
        .orderBy("w_start").collect()
      // reference: per-window micro-unit sums, then re-aggregate the frame
      val byW = data.groupBy(r => r._1 / 10 * 10).toSeq.sortBy(_._1)
        .map { case (w, rows) =>
          (w, rows.map(r => math.round(r._2 * 1e6)).sum, rows.length.toLong)
        }
      byW.zipWithIndex.foreach { case ((w, _, _), i) =>
        val frame = byW.slice(math.max(0, i - k + 1), i + 1)
        val expect = math.round(frame.map(_._2).sum.toDouble / frame.map(_._3).sum) / 1e6
        val gotRow = got.find(_.getLong(1) == w).get
        assert(math.abs(gotRow.getDouble(3) - expect) < 1e-9,
          s"w=$w k=$k got=${gotRow.getDouble(3)} want=$expect data=$data")
      }
    }
  }

  test("stddev matches the exact BigInt variance numerator on random data") {
    for (_ <- 1 to 8) {
      val data = randomSeries(1 + rnd.nextInt(30))
      val df = data.toDF("t_us", "value").withColumn("uuid", lit("s"))
      val got = TimeSeriesOps.stddevWindows(df, Seq("uuid"), 0L, 40L, 10L)
        .orderBy("w_start").collect()
      data.groupBy(r => r._1 / 10 * 10).toSeq.sortBy(_._1).foreach { case (w, rows) =>
        val us = rows.map(r => BigInt(math.round(r._2 * 1e6)))
        val n = us.length
        val bigD = BigInt(n) * us.map(u => u * u).sum - us.sum * us.sum
        val expect = math.sqrt(bigD.toDouble) / n / 1e6
        val gotRow = got.find(_.getLong(1) == w).get
        assert(math.abs(gotRow.getDouble(3) - expect) < 1e-6,
          s"w=$w got=${gotRow.getDouble(3)} want=$expect data=$data")
        // constant windows MUST report exactly 0 (the cancellation trap)
        if (rows.map(_._2).distinct.length == 1)
          assert(gotRow.getDouble(3) == 0.0, s"constant window w=$w data=$data")
      }
    }
  }

  test("deriv matches the exact BigInt least-squares slope on random data") {
    for (_ <- 1 to 8) {
      val data = randomSeries(1 + rnd.nextInt(30))
      val df = data.toDF("t_us", "value").withColumn("uuid", lit("s"))
      val got = TimeSeriesOps.deriv(df, Seq("uuid"), 0L, 40L, 10L)
        .orderBy("w_start").collect()
      data.groupBy(r => r._1 / 10 * 10).toSeq.sortBy(_._1).foreach { case (w, rows) =>
        val n = BigInt(rows.length)
        val tr = rows.map(r => BigInt(r._1 - w))
        val vu = rows.map(r => BigInt(math.round(r._2 * 1e6)))
        val den = n * tr.map(t => t * t).sum - tr.sum * tr.sum
        val num = n * tr.zip(vu).map { case (t, v) => t * v }.sum - tr.sum * vu.sum
        val gotRow = got.find(_.getLong(1) == w).get
        if (den == 0) assert(gotRow.isNullAt(3), s"w=$w expected null slope data=$data")
        else assert(math.abs(gotRow.getDouble(3) - num.toDouble / den.toDouble) < 1e-6,
          s"w=$w got=${gotRow.getDouble(3)} data=$data")
      }
    }
  }

  test("offset compare diffs each window against the one offset earlier") {
    for (_ <- 1 to 8) {
      val data = randomSeries(2 + rnd.nextInt(30))
      val df = data.toDF("t_us", "value").withColumn("uuid", lit("s"))
      val got = TimeSeriesOps.offsetCompare(df, Seq("uuid"), 0L, 40L, 10L, 20L)
        .orderBy("w_start").collect()
      val means = data.groupBy(r => r._1 / 10 * 10).map { case (w, rows) =>
        w -> math.round(rows.map(r => math.round(r._2 * 1e6)).sum.toDouble / rows.length)
      }
      // exactly the windows with a populated comparator appear
      val expectW = means.keys.filter(w => means.contains(w - 20)).toSeq.sorted
      assert(got.map(_.getLong(1)).toSeq == expectW, s"data=$data")
      got.foreach { r =>
        val (w, cur) = (r.getLong(1), means(r.getLong(1)))
        val prev = means(w - 20)
        assert(r.getDouble(2) == cur / 1e6 && r.getDouble(3) == prev / 1e6)
        assert(math.abs(r.getDouble(4) - (cur - prev) / 1e6) < 1e-12)
        if (prev != 0)
          assert(math.abs(r.getDouble(5) -
            math.round((cur - prev).toDouble * 1e8 / prev) / 1e6) < 1e-12, s"w=$w data=$data")
        else assert(r.isNullAt(5))
      }
    }
  }

  test("funnel counts conversions exactly like the sequential scan") {
    for (_ <- 1 to 8) {
      val clicks = randomSeries(1 + rnd.nextInt(20))
      val convs = randomSeries(1 + rnd.nextInt(20))
      val horizon = 1L + rnd.nextInt(15)
      val l = clicks.toDF("t_us", "value").withColumn("uuid", lit("s"))
      val r = convs.toDF("t_us", "value").withColumn("uuid", lit("s"))
      val got = TimeSeriesOps.funnel(l, r, Seq("uuid"), 0L, 40L, 10L, horizon)
        .orderBy("w_start").collect()
      val expect = clicks.groupBy(c => c._1 / 10 * 10).toSeq.sortBy(_._1)
        .map { case (w, rows) =>
          val conv = rows.count(c => convs.exists(p => p._1 >= c._1 && p._1 - c._1 <= horizon))
          (w, rows.length.toLong, conv.toLong)
        }
      assert(got.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq == expect,
        s"clicks=$clicks convs=$convs horizon=$horizon")
      got.foreach { row =>
        val cvr = math.round(row.getLong(3) * 1e6.toDouble / row.getLong(2)) / 1e6
        assert(math.abs(row.getDouble(4) - cvr) < 1e-12)
      }
    }
  }

  test("peaks and change points are translation-invariant on random data") {
    // shifting every value by a constant must leave peak windows,
    // prominences, flagged boundaries, and shifts untouched (all the
    // comparisons are on mean DIFFERENCES); a monotone series never peaks
    for (_ <- 1 to 6) {
      val data = randomSeries(4 + rnd.nextInt(30))
      val c = (rnd.nextInt(11) - 5).toDouble // integral: keeps µ-units exact
      val df = data.toDF("t_us", "value").withColumn("uuid", lit("s"))
      val dfShift = data.map { case (t, v) => (t, v + c) }
        .toDF("t_us", "value").withColumn("uuid", lit("s"))
      def pk(d: org.apache.spark.sql.DataFrame) =
        TimeSeriesOps.peaks(d, Seq("uuid"), 0L, 40L, 10L, 1, 0L)
          .orderBy("w_start").collect()
          .map(r => (r.getLong(1), r.getDouble(3))).toSeq // (w, prominence)
      def cp(d: org.apache.spark.sql.DataFrame) =
        TimeSeriesOps.changePoints(d, Seq("uuid"), 0L, 40L, 10L, 1, 1L)
          .orderBy("w_start").collect()
          .map(r => (r.getLong(1), r.getDouble(4))).toSeq // (w, shift)
      assert(pk(df) == pk(dfShift), s"peaks moved under +$c: $data")
      assert(cp(df) == cp(dfShift), s"change points moved under +$c: $data")
    }
    val mono = (0 until 8).map(i => (i * 10L + 1L, i * 2.0))
      .toDF("t_us", "value").withColumn("uuid", lit("s"))
    assert(TimeSeriesOps.peaks(mono, Seq("uuid"), 0L, 80L, 10L, 2, 0L).count() == 0)
  }

  test("savgol matches the sequential kernel fold on random data") {
    for (_ <- 1 to 12) {
      val n = 5 + rnd.nextInt(20)
      // one point per window so the mean series is the value series
      val data = (0 until n).map(i => (i * 10L, (rnd.nextInt(2001) - 1000) / 100.0))
      val df = data.toDF("t_us", "value").withColumn("uuid", lit("s"))
      val got = TimeSeriesOps.savgol(df, Seq("uuid"), 0L, n * 10L, 10L)
        .orderBy("w_start").collect()
        .map(r => if (r.isNullAt(r.fieldIndex("sg_mean"))) None
                  else Some(r.getDouble(r.fieldIndex("sg_mean"))))
      val m = data.map(d => math.round(d._2 * 1e6)) // µ-unit integers
      val want = m.indices.map { i =>
        if (i < 2 || i > n - 3) None
        else {
          val num = 17L * m(i) + 12L * (m(i - 1) + m(i + 1)) - 3L * (m(i - 2) + m(i + 2))
          Some(math.round(num.toDouble / 35.0) / 1e6)
        }
      }
      assert(got.toSeq == want, s"data=$data")
    }
  }

  test("boxplot outlier counts match the sorted-array Tukey reference on random data") {
    for (_ <- 1 to 12) {
      val data = randomSeries(4 + rnd.nextInt(25))
      val df = data.toDF("t_us", "value").withColumn("uuid", lit("s"))
      val got = TimeSeriesOps.boxplotWindows(df, Seq("uuid"), 0L, 40L, 40L)
        .collect().head
      val sorted = data.map(_._2).sorted
      def pct(p: Double): Double = {
        val idx = p * (sorted.length - 1)
        val lo = math.floor(idx).toInt
        val hi = math.ceil(idx).toInt
        sorted(lo) + (sorted(hi) - sorted(lo)) * (idx - math.floor(idx))
      }
      val (q1, q3) = (pct(0.25), pct(0.75))
      val (fl, fh) = (q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1))
      assert(got.getLong(got.fieldIndex("n_out_lo")) == sorted.count(_ < fl), s"$data")
      assert(got.getLong(got.fieldIndex("n_out_hi")) == sorted.count(_ > fh), s"$data")
      assert(math.abs(got.getDouble(got.fieldIndex("p50")) - pct(0.5)) < 1e-6)
    }
  }

  test("histogram quantile matches the cumulative-walk reference on random data") {
    for (_ <- 1 to 12) {
      val data = randomSeries(1 + rnd.nextInt(30))
      val df = data.toDF("t_us", "value").withColumn("uuid", lit("s"))
      val binW = 2.0
      val got = TimeSeriesOps.histogramQuantile(df, Seq("uuid"), 0L, 40L, 40L,
        binW, Seq(0.5, 0.9)).collect().head
      // reference: bin counts in bin order, first cum >= rank, interpolate
      val bins = data.map(d => math.floor(d._2 / binW).toLong)
        .groupBy(identity).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
      val total = data.size.toLong
      def ref(p: Double): Double = {
        val rank = p * total
        var cum = 0L
        var res = Double.NaN
        var found = false
        for ((b, c) <- bins if !found) {
          if (cum < rank && rank <= cum + c) {
            res = b * binW + binW * (rank - cum) / c
            found = true
          } else cum += c
        }
        res
      }
      assert(math.abs(got.getDouble(got.fieldIndex("p50_est")) - ref(0.5)) < 1e-6, s"$data")
      assert(math.abs(got.getDouble(got.fieldIndex("p90_est")) - ref(0.9)) < 1e-6, s"$data")
    }
  }
}
