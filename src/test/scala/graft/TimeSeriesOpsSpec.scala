package graft

import org.apache.spark.sql.functions._
import graft.ts.TimeSeriesOps

/** Semantics pinned by the reference: nearest-backward exclusive /
  * forward inclusive (qtree.go:31-33), windows emit complete windows only,
  * changed-range gap merging, as-of join visibility at equal timestamps.
  */
class TimeSeriesOpsSpec extends SparkSuite {
  import spark.implicits._

  private def pts(rows: (Long, Double)*) =
    rows.toDF("t_us", "value")
      .withColumn("uuid", lit("s"))
      .withColumn("ver", lit(1L))

  test("nearest backward is exclusive, forward inclusive") {
    val p = pts((80L, 8.0), (100L, 10.0), (120L, 12.0))
    val back = TimeSeriesOps.nearest(p, Seq("uuid"), 100L, backward = true).collect()
    assert(back.head.getLong(1) == 80L) // t=100 excluded going backward
    val fwd = TimeSeriesOps.nearest(p, Seq("uuid"), 100L, backward = false).collect()
    assert(fwd.head.getLong(1) == 100L) // t=100 included going forward
  }

  test("windows drops the trailing partial window") {
    val p = pts((0L, 1.0), (10L, 2.0), (25L, 3.0))
    // [0, 28) at width 10 → complete windows [0,10) [10,20); 25 is in the
    // partial [20,28) and must not appear
    val w = TimeSeriesOps.windows(p, Seq("uuid"), 0L, 28L, 10L)
      .orderBy("w_start").collect()
    assert(w.map(_.getLong(1)).toSeq == Seq(0L, 10L))
  }

  test("a time range longer than a long holds is an error, not an empty read") {
    val p = pts((0L, 1.0), (10L, 2.0))
    val e = intercept[IllegalArgumentException](
      TimeSeriesOps.windows(p, Seq("uuid"), Long.MinValue, Long.MaxValue, 10L))
    assert(e.getMessage.contains(s"[${Long.MinValue}, ${Long.MaxValue})"), e.getMessage)
  }

  test("aligned windows bucket on power-of-two boundaries") {
    val p = pts((0L, 1.0), (15L, 2.0), (16L, 3.0), (31L, 4.0), (32L, 5.0))
    val w = TimeSeriesOps.alignedWindows(p, Seq("uuid"), 0L, 64L, 4)
      .orderBy("w_start").collect()
    assert(w.map(_.getLong(1)).toSeq == Seq(0L, 16L, 32L))
    assert(w.map(_.getLong(5)).toSeq == Seq(2L, 2L, 1L))
  }

  test("SQL table functions expand to the operator plans") {
    val p = pts((0L, 1.0), (10L, 2.0), (15L, 4.0), (25L, 3.0))
    p.createOrReplaceTempView("tvf_pts")
    // windows TVF == windows() row-for-row
    val viaSql = spark.sql(
        "SELECT * FROM graft_windows('tvf_pts', 'uuid', 0, 28, 10) ORDER BY w_start")
      .collect().toSeq
    val direct = TimeSeriesOps.windows(p, Seq("uuid"), 0L, 28L, 10L)
      .orderBy("w_start").collect().toSeq
    assert(viaSql == direct && viaSql.nonEmpty, s"$viaSql vs $direct")
    // the TVF inherits the operator's pushdown: the derived t_us bound
    // reaches the scan as a raw ts filter when reading the real table
    Tables.points(spark, sfDir).createOrReplaceTempView("tvf_events")
    val plan = spark.sql(
        "SELECT * FROM graft_raw_values('tvf_events', 'user_id,event_type', 100, 200)")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("ts"), plan.take(2000))
    // raw values and gaps answer through SQL too
    assert(spark.sql(
      "SELECT * FROM graft_raw_values('tvf_pts', 'uuid', 0, 16)").count() == 3)
    assert(spark.sql(
        "SELECT * FROM graft_gaps('tvf_pts', 'uuid', 0, 40, 10)")
      .collect().map(_.getLong(1)).toSeq == Seq(30L))
    assert(spark.sql(
        "SELECT * FROM graft_aligned_windows('tvf_pts', 'uuid', 0, 32, 4)")
      .collect().map(_.getLong(1)).sorted.toSeq == Seq(0L, 16L))
    // round-9 TVFs: forecast and bands expand to their operator plans
    val fSql = spark.sql(
        "SELECT * FROM graft_forecast('tvf_pts', 'uuid', 0, 28, 10, 2, 0.5, 0.3, 0.4, 3) ORDER BY h")
      .collect().toSeq
    val fDirect = TimeSeriesOps.holtWintersForecast(p, Seq("uuid"), 0L, 28L, 10L,
        2, 0.5, 0.3, 0.4, 3).orderBy("h").collect().toSeq
    assert(fSql == fDirect && fSql.length == 3, s"$fSql vs $fDirect")
    val bSql = spark.sql(
        "SELECT * FROM graft_band('tvf_pts', 'uuid', 0, 28, 10, 2, 2.0) ORDER BY w_start")
      .collect().toSeq
    val bDirect = TimeSeriesOps.bollingerBands(p, Seq("uuid"), 0L, 28L, 10L, 2, 2.0)
      .orderBy("w_start").collect().toSeq
    assert(bSql == bDirect && bSql.nonEmpty, s"$bSql vs $bDirect")
    // round-9 TVFs: peaks / change points / motifs expand to their plans
    val pk = pts((1L, 1.0), (11L, 2.0), (21L, 9.0), (31L, 2.0), (41L, 1.0),
      (51L, 1.0), (61L, 1.0))
    pk.createOrReplaceTempView("tvf_peaks")
    val pSql = spark.sql(
        "SELECT * FROM graft_peaks('tvf_peaks', 'uuid', 0, 70, 10, 2, 0) ORDER BY w_start")
      .collect().toSeq
    val pDirect = TimeSeriesOps.peaks(pk, Seq("uuid"), 0L, 70L, 10L, 2, 0L)
      .orderBy("w_start").collect().toSeq
    assert(pSql == pDirect && pSql.nonEmpty, s"$pSql vs $pDirect")
    val cSql = spark.sql(
        "SELECT * FROM graft_changepoints('tvf_peaks', 'uuid', 0, 70, 10, 1, 1000000) ORDER BY w_start")
      .collect().toSeq
    val cDirect = TimeSeriesOps.changePoints(pk, Seq("uuid"), 0L, 70L, 10L, 1, 1000000L)
      .orderBy("w_start").collect().toSeq
    assert(cSql == cDirect && cSql.nonEmpty, s"$cSql vs $cDirect")
    val mSql = spark.sql(
        "SELECT * FROM graft_motifs('tvf_peaks', 'uuid', 0, 70, 10, 4, 5) ORDER BY subword")
      .collect().toSeq
    val mDirect = graft.ts.Downsample.motifs(pk, Seq("uuid"), 0L, 70L, 10L, 4, 5)
      .orderBy("subword").collect().toSeq
    assert(mSql == mDirect && mSql.nonEmpty, s"$mSql vs $mDirect")
    // continuation TVFs: savgol / boxplot / burn rate expand to their plans
    val sgSql = spark.sql(
        "SELECT * FROM graft_savgol('tvf_peaks', 'uuid', 0, 70, 10) ORDER BY w_start")
      .collect().toSeq
    val sgDirect = TimeSeriesOps.savgol(pk, Seq("uuid"), 0L, 70L, 10L)
      .orderBy("w_start").collect().toSeq
    assert(sgSql == sgDirect && sgSql.nonEmpty, s"$sgSql vs $sgDirect")
    val bxSql = spark.sql(
        "SELECT * FROM graft_boxplot('tvf_peaks', 'uuid', 0, 70, 70, 1.5) ORDER BY w_start")
      .collect().toSeq
    val bxDirect = TimeSeriesOps.boxplotWindows(pk, Seq("uuid"), 0L, 70L, 70L, 1.5)
      .orderBy("w_start").collect().toSeq
    assert(bxSql == bxDirect && bxSql.nonEmpty, s"$bxSql vs $bxDirect")
    val brSql = spark.sql(
        "SELECT * FROM graft_burnrate('tvf_peaks', 'uuid', 0, 70, '10,70', 1.5, 0.9) " +
          "ORDER BY width_us, w_start")
      .collect().toSeq
    val brDirect = TimeSeriesOps.burnRate(pk, Seq("uuid"), 0L, 70L, Seq(10L, 70L),
        col("value") > 1.5, 0.9)
      .orderBy("width_us", "w_start").collect().toSeq
    assert(brSql == brDirect && brSql.nonEmpty, s"$brSql vs $brDirect")
    // the two-table as-of TVF routes through the same merge operator
    import spark.implicits._
    Seq(("s", 5L, 9.0), ("s", 12L, 8.0)).toDF("uuid", "t_us", "value")
      .createOrReplaceTempView("tvf_quotes")
    val asof = spark.sql(
        "SELECT * FROM graft_asof_join('tvf_pts', 'tvf_quotes', 'uuid') ORDER BY t_us")
      .collect().map(r => r.getLong(1) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(asof.toSeq == Seq(0L -> None, 10L -> Some(9.0),
      15L -> Some(8.0), 25L -> Some(8.0)), s"${asof.toSeq}")
  }

  test("changes merges adjacent aligned ranges") {
    val p = pts((0L, 1.0), (17L, 2.0), (100L, 3.0))
    // res=4 → ranges [0,16) [16,32) merge; [96,112) separate
    val ch = TimeSeriesOps.changes(p, Seq("uuid"), 0L, 1L, 4)
      .orderBy("c_start").collect()
    assert(ch.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((0L, 32L), (96L, 112L)))
  }

  test("asof join sees a right point at exactly the left timestamp") {
    val left = Seq((1L, 100L, 1.0), (1L, 200L, 2.0)).toDF("user_id", "t_us", "value")
    val right = Seq((1L, 100L, 9.0), (1L, 150L, 8.0)).toDF("user_id", "t_us", "value")
    val j = TimeSeriesOps.asofJoin(left, right, Seq("user_id"))
      .orderBy("t_us").collect()
    assert(j(0).getDouble(3) == 9.0) // right@100 visible to left@100
    assert(j(1).getDouble(3) == 8.0) // latest right <= 200
  }

  test("asof tolerance nulls stale matches but keeps fresh ones") {
    val left = Seq((1L, 100L, 1.0), (1L, 200L, 2.0)).toDF("user_id", "t_us", "value")
    val right = Seq((1L, 95L, 9.0)).toDF("user_id", "t_us", "value")
    val j = TimeSeriesOps.asofJoin(left, right, Seq("user_id"), toleranceUs = Some(10L))
      .orderBy("t_us").collect()
    assert(j(0).getDouble(3) == 9.0) // 100-95=5 <= 10 → kept
    assert(j(1).isNullAt(3))         // 200-95=105 > 10 → stale, nulled
  }

  test("ewma starts at the first window mean and smooths monotone steps") {
    val p = pts((5L, 10.0), (15L, 20.0), (25L, 30.0))
    val e = TimeSeriesOps.ewma(p, Seq("uuid"), 0L, 30L, 10L, 0.5)
      .orderBy("w_start").collect()
    assert(e.length == 3)
    assert(e(0).getDouble(3) == 10.0)          // s_0 = m_0
    assert(e(1).getDouble(3) == 15.0)          // 10*0.5 + 20*0.5
    assert(e(2).getDouble(3) == 22.5)          // 15*0.5 + 30*0.5
  }

  test("holt tracks a linear ramp: trend converges toward the slope") {
    val p = pts((5L, 10.0), (15L, 20.0), (25L, 30.0), (35L, 40.0))
    val h = TimeSeriesOps.holt(p, Seq("uuid"), 0L, 40L, 10L, 0.5, 0.3)
      .orderBy("w_start").collect()
    assert(h.length == 4)
    assert(h(0).getDouble(3) == 10.0 && h(0).getDouble(4) == 0.0) // init (m_1, 0)
    // l_2 = 0.5·20 + 0.5·(10+0) = 15; b_2 = 0.3·(15−10) + 0.7·0 = 1.5
    assert(h(1).getDouble(3) == 15.0 && h(1).getDouble(4) == 1.5)
    // trend keeps growing toward the true slope (10 per window)
    assert(h(3).getDouble(4) > h(2).getDouble(4) && h(2).getDouble(4) > h(1).getDouble(4))
  }

  test("holt-winters: gamma 0 degenerates to holt; seasonal follows the cycle") {
    val p = pts((5L, 10.0), (15L, 23.0), (25L, 31.0), (35L, 44.0), (45L, 52.0))
    val hw0 = TimeSeriesOps.holtWinters(p, Seq("uuid"), 0L, 50L, 10L, 2, 0.5, 0.3, 0.0)
      .orderBy("w_start").collect()
      .map(r => (r.getLong(1), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    val h = TimeSeriesOps.holt(p, Seq("uuid"), 0L, 50L, 10L, 0.5, 0.3)
      .orderBy("w_start").collect()
      .map(r => (r.getLong(1), r.getDouble(3), r.getDouble(4)))
    assert(hw0.map(x => (x._1, x._2, x._3)).toSeq == h.toSeq,
      "gamma=0 must reproduce holt bit-for-bit")
    assert(hw0.forall(_._4 == 0.0), "gamma=0 seasonals must be exactly zero")
    // hand-computed period-2 alternation, alpha .5, beta 0, gamma 1:
    // l: 10, .5·20+.5·10=15, .5·(10−0)+.5·15=12.5, .5·(20−5)+.5·12.5=13.75
    // s: 0, 20−15=5, 10−12.5=−2.5, 20−13.75=6.25
    val q = pts((5L, 10.0), (15L, 20.0), (25L, 10.0), (35L, 20.0))
    val hw = TimeSeriesOps.holtWinters(q, Seq("uuid"), 0L, 40L, 10L, 2, 0.5, 0.0, 1.0)
      .orderBy("w_start").collect()
    assert(hw.map(_.getDouble(3)).toSeq == Seq(10.0, 15.0, 12.5, 13.75), hw.toSeq)
    assert(hw.map(_.getDouble(5)).toSeq == Seq(0.0, 5.0, -2.5, 6.25), hw.toSeq)
    assert(hw.forall(_.getDouble(4) == 0.0), "beta=0 keeps trend at zero")
  }

  test("bollinger bands collapse on constant series and straddle the mean") {
    val c = pts((1L, 5.0), (11L, 5.0), (21L, 5.0))
    val b = TimeSeriesOps.bollingerBands(c, Seq("uuid"), 0L, 30L, 10L, 3, 2.0)
      .orderBy("w_start").collect()
    assert(b.length == 3 && b.forall(r =>
      r.getDouble(2) == 5.0 && r.getDouble(3) == 5.0 && r.getDouble(4) == 5.0),
      b.toSeq)
    // trailing frame {1, 3}: mean 2, population σ = 1 → 2σ bands at 0 / 4
    val v = pts((1L, 1.0), (11L, 3.0))
    val b2 = TimeSeriesOps.bollingerBands(v, Seq("uuid"), 0L, 20L, 10L, 2, 2.0)
      .orderBy("w_start").collect()
    assert(b2(1).getDouble(2) == 2.0 && b2(1).getDouble(3) == 0.0 &&
      b2(1).getDouble(4) == 4.0, b2.toSeq)
  }

  test("peaks require strict dominance, full shoulders, and prominence") {
    // window means at width 10: 1, 2, 9, 2, 1, 8.4, 8.4, 1 →
    // w=20 (mean 9) is a k=2 peak with prominence 9−2=7;
    // the 8.4-plateau (w=50,60) never fires (strictness);
    // w=10 has no full left shoulder
    val p = pts((1L, 1.0), (11L, 2.0), (21L, 9.0), (31L, 2.0), (41L, 1.0),
      (51L, 8.4), (61L, 8.4), (71L, 1.0))
    val pk = TimeSeriesOps.peaks(p, Seq("uuid"), 0L, 80L, 10L, 2, 0L)
      .orderBy("w_start").collect()
    assert(pk.map(_.getLong(1)).toSeq == Seq(20L), pk.toSeq)
    assert(pk.head.getDouble(2) == 9.0 && pk.head.getDouble(3) == 7.0, pk.toSeq)
    // a prominence floor above 7 silences it
    assert(TimeSeriesOps.peaks(p, Seq("uuid"), 0L, 80L, 10L, 2, 7000001L).count() == 0)
    // constant series: no strict dominance anywhere
    val c = pts((1L, 5.0), (11L, 5.0), (21L, 5.0), (31L, 5.0), (41L, 5.0))
    assert(TimeSeriesOps.peaks(c, Seq("uuid"), 0L, 50L, 10L, 2, 0L).count() == 0)
  }

  test("change points flag the level shift once, at the score apex") {
    // step series 1,1,1,10,10,10: k=1 scores |Δmean| = 0,0,9,0,0 →
    // exactly the boundary entering the new level clears a 1.0 floor,
    // shift +9 (a zero floor would also admit the zero-score plateau
    // heads — the threshold is part of the contract)
    val p = pts((1L, 1.0), (11L, 1.0), (21L, 1.0), (31L, 10.0), (41L, 10.0),
      (51L, 10.0))
    val cp = TimeSeriesOps.changePoints(p, Seq("uuid"), 0L, 60L, 10L, 1, 1000000L)
      .orderBy("w_start").collect()
    assert(cp.map(r => (r.getLong(1), r.getDouble(4))).toSeq == Seq((30L, 9.0)), cp.toSeq)
    assert(cp.head.getDouble(2) == 1.0 && cp.head.getDouble(3) == 10.0, cp.toSeq)
    // threshold above the shift silences it; at the shift it still fires
    assert(TimeSeriesOps.changePoints(p, Seq("uuid"), 0L, 60L, 10L, 1, 9000001L).count() == 0)
    assert(TimeSeriesOps.changePoints(p, Seq("uuid"), 0L, 60L, 10L, 1, 9000000L).count() == 1)
    // side means weigh points, not windows: left windows {1×1pt, 3×3pts}
    // → mean 2.5, not 2.0
    val u = pts((1L, 1.0), (11L, 3.0), (12L, 3.0), (13L, 3.0), (21L, 10.0),
      (31L, 10.0))
    val cp2 = TimeSeriesOps.changePoints(u, Seq("uuid"), 0L, 40L, 10L, 2, 0L)
      .orderBy("w_start").collect()
    assert(cp2.map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq ==
      Seq((20L, 2.5, 10.0)), cp2.toSeq)
  }

  test("transitions pair within windows and normalize per from-row") {
    import spark.implicits._
    // user u, one day: a→b→a→c; user v: a→b; day boundary drops v's
    // c (day 1) → a (day 2) pair
    val p = Seq(("u", 1L, "a"), ("u", 2L, "b"), ("u", 3L, "a"), ("u", 4L, "c"),
      ("v", 5L, "a"), ("v", 6L, "b"), ("v", 9L, "c"), ("v", 11L, "a"))
      .toDF("user_id", "t_us", "event_type")
      .withColumn("value", lit(1.0)).withColumn("ver", lit(1L))
    val r = TimeSeriesOps.transitions(p, Seq("user_id"), "event_type", 0L, 20L, 10L)
      .collect().map(x => (x.getString(0), x.getString(1), x.getLong(2), x.getDouble(3)))
      .toSet
    // from a: a→b ×2, a→c ×1 → probs 2/3, 1/3 (MEAN6); b→a, b→c ×1 each
    assert(r == Set(("a", "b", 2L, 0.666667), ("a", "c", 1L, 0.333333),
      ("b", "a", 1L, 0.5), ("b", "c", 1L, 0.5)), r)
  }

  test("retention cohorts by first window; k=0 restates cohort sizes") {
    import spark.implicits._
    // A active d0,d1; B d0; C d1,d2 → cohorts A,B→0 and C→1
    val p = Seq(("A", 1L), ("A", 11L), ("B", 2L), ("C", 15L), ("C", 25L),
      ("A", 3L)) // A's second d0 event must not double-count
      .toDF("uuid", "t_us").withColumn("value", lit(1.0)).withColumn("ver", lit(1L))
    val r = TimeSeriesOps.retention(p, Seq("uuid"), 0L, 30L, 10L)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(r == Set((0L, 0L, 2L), (0L, 1L, 1L), (10L, 0L, 1L), (10L, 1L, 1L)), r)
  }

  test("active users: trailing distincts dedupe and cover quiet windows") {
    import spark.implicits._
    // A d0; B d0,d1 (counts ONCE in any trailing window); C d2
    val p = Seq(("A", 1L), ("B", 2L), ("B", 12L), ("C", 25L))
      .toDF("uuid", "t_us").withColumn("value", lit(1.0)).withColumn("ver", lit(1L))
    val r = TimeSeriesOps.activeUsers(p, Seq("uuid"), 0L, 40L, 10L, 2)
      .orderBy("w_start").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    // d3 has no direct actives but C keeps the trailing window warm
    assert(r == Seq((0L, 2L, 2L), (10L, 1L, 2L), (20L, 1L, 2L), (30L, 0L, 1L)), r)
  }

  test("forecast backtest: zero error on constants, lagging bias on trends") {
    // constant series: level locks to c, trend/seasonal 0 → every
    // one-step forecast is exact → MAE = bias = RMSE = 0, windows−1 evals
    val c = pts((0 until 8).map(i => (i * 10L + 1L, 5.0)): _*)
    val r = TimeSeriesOps.holtWintersBacktest(c, Seq("uuid"), 0L, 80L, 10L,
      2, 0.5, 0.3, 0.4).collect().head
    assert(r.getLong(1) == 7L, r)
    assert(r.getDouble(2) == 0.0 && r.getDouble(3) == 0.0 && r.getDouble(4) == 0.0, r)
    // steadily rising series: smoothing lags, so realized > forecast →
    // positive bias; and the power-mean ordering rmse ≥ mae ≥ |bias|
    val up = pts((0 until 10).map(i => (i * 10L + 1L, i * 10.0)): _*)
    val u = TimeSeriesOps.holtWintersBacktest(up, Seq("uuid"), 0L, 100L, 10L,
      2, 0.5, 0.3, 0.4).collect().head
    assert(u.getDouble(3) > 0, s"rising series must lag: $u")
    assert(u.getDouble(4) >= u.getDouble(2) && u.getDouble(2) >= math.abs(u.getDouble(3)), u)
  }

  test("windows delta refreshes exactly the touched windows at toVer") {
    import org.apache.spark.sql.Row
    // window [0,10): old point only; [10,20): old + NEW point (ver 5);
    // [20,30): new point beyond toVer — invisible at toVer=5
    val p = Seq((1L, 1.0, 1L), (11L, 2.0, 1L), (12L, 4.0, 5L), (21L, 9.0, 9L))
      .toDF("t_us", "value", "ver").withColumn("uuid", lit("s"))
    val d = TimeSeriesOps.windowsDelta(p, Seq("uuid"), 2L, 5L, 0L, 30L, 10L)
      .collect()
    // only [10,20) was touched in (2, 5]; its stats INCLUDE the old point
    assert(d.toSeq == Seq(Row("s", 10L, 2.0, 3.0, 4.0, 2L)), d.toSeq)
    // the full-refresh equivalence: delta over (0, toVer] == windows at
    // toVer restricted to non-empty windows
    val full = TimeSeriesOps.windowsDelta(p, Seq("uuid"), 0L, 5L, 0L, 30L, 10L)
      .orderBy("w_start").collect().toSeq
    val ref = TimeSeriesOps.windows(p.filter(col("ver") <= 5L), Seq("uuid"), 0L, 30L, 10L)
      .orderBy("w_start").collect().toSeq
    assert(full == ref, s"$full vs $ref")
  }

  test("burstiness counts empty grid windows as zeros") {
    // regular: one event in EVERY window → variance 0 → F = 0
    val reg = pts((0 until 10).map(i => (i * 10L + 1L, 1.0)): _*)
    val fr = TimeSeriesOps.burstiness(reg, Seq("uuid"), 0L, 100L, 10L).collect().head
    assert(fr.getLong(1) == 10L && fr.getDouble(3) == 0.0, fr)
    // bursty: all 10 events in one window of the 10-window grid →
    // F = (W·N² − N²)/(W·N) = 9.0
    val burst = pts((0 until 10).map(_ => (5L, 1.0)): _*)
    val fb = TimeSeriesOps.burstiness(burst, Seq("uuid"), 0L, 100L, 10L).collect().head
    assert(fb.getLong(1) == 1L && fb.getDouble(3) == 9.0, fb)
    // sparse-but-regular: 1 event in half the windows — the zeros are
    // what separates this from the all-full case: F = (50−25)/50 = 0.5
    val sparse = pts((0 until 5).map(i => (i * 20L + 1L, 1.0)): _*)
    val fs = TimeSeriesOps.burstiness(sparse, Seq("uuid"), 0L, 100L, 10L).collect().head
    assert(fs.getDouble(3) == 0.5 && fs.getDouble(4) == 0.5, fs)
  }

  test("ordinal patterns rank ties by position and need full triples") {
    // 1,2,3 → 012; 3,2,1 → 210; 2,1,3 → 102; constant plateau → ties
    // rank by position → 012 (the Bandt-Pompe stable rule)
    val p = pts((1L, 1.0), (11L, 2.0), (21L, 3.0), (31L, 2.0), (41L, 1.0),
      (51L, 3.0))
    val r = TimeSeriesOps.ordinalPatterns(p, Seq("uuid"), 0L, 60L, 10L)
      .collect().map(x => x.getString(1) -> x.getLong(2)).toMap
    // triples: (1,2,3)=012 (2,3,2)=021 (3,2,1)=210 (2,1,3)=102
    assert(r == Map("012" -> 1L, "021" -> 1L, "210" -> 1L, "102" -> 1L), r)
    val const = pts((1L, 5.0), (11L, 5.0), (21L, 5.0), (31L, 5.0))
    val rc = TimeSeriesOps.ordinalPatterns(const, Seq("uuid"), 0L, 40L, 10L)
      .collect().map(x => x.getString(1) -> x.getLong(2)).toMap
    assert(rc == Map("012" -> 2L), rc)
    // two windows → no triple → empty
    assert(TimeSeriesOps.ordinalPatterns(pts((1L, 1.0), (11L, 2.0)),
      Seq("uuid"), 0L, 20L, 10L).count() == 0)
  }

  test("pacf unrolls Durbin-Levinson and nulls past a degenerate error") {
    // perfectly alternating series: r1 = −1 exactly → e1 = 0, so pacf1
    // = −1 and the deeper lags are null (no DIVIDE_BY_ZERO under ANSI)
    val alt = pts((0 until 8).map(i => (i * 10L + 1L, if (i % 2 == 0) 1.0 else 3.0)): _*)
    val a = TimeSeriesOps.pacf(alt, Seq("uuid"), 0L, 80L, 10L).collect().head
    assert(a.getDouble(4) == -1.0 && a.isNullAt(5) && a.isNullAt(6), a)
    // irregular series: pacf2/3 must equal the closed forms over the
    // operator's own quantized ACF values (the exact wiring contract)
    def q6(x: Double): Double = java.math.BigDecimal.valueOf(x * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue / 1e6 + 0.0
    val vals = Seq(1.0, 4.0, 2.0, 8.0, 3.0, 9.0, 2.0, 7.0, 1.0, 6.0)
    val irr = pts(vals.zipWithIndex.map { case (v, i) => (i * 10L + 1L, v) }: _*)
    val r = TimeSeriesOps.pacf(irr, Seq("uuid"), 0L, 100L, 10L).collect().head
    val (r1, r2, r3) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
    val e1 = 1d - r1 * r1
    val phi22 = (r2 - r1 * r1) / e1
    val phi21 = r1 - phi22 * r1
    val e2 = e1 * (1d - phi22 * phi22)
    assert(r.getDouble(4) == r1, r)
    assert(r.getDouble(5) == q6(phi22), r)
    assert(r.getDouble(6) == q6((r3 - phi21 * r2 - phi22 * r1) / e2), r)
  }

  test("motifs count sliding SAX subwords over complete windows only") {
    // streams A, B alternate 0/10 per bucket → symbols adadad: subword
    // 'adad' at positions 0 and 2, 'dada' at 1 → top motif (adad, 4, 2);
    // stream C has only 3 buckets and emits no length-4 subword
    val rows = for {
      u <- Seq("A", "B"); i <- 0 until 6
    } yield (u, i * 10L + 1L, if (i % 2 == 0) 0.0 else 10.0)
    val short = (0 until 3).map(i => ("C", i * 10L + 1L, i.toDouble))
    val p = (rows ++ short).toDF("uuid", "t_us", "value")
      .withColumn("ver", lit(1L))
    val m = graft.ts.Downsample.motifs(p, Seq("uuid"), 0L, 60L, 10L, 4, 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(m.head == ("adad", 4L, 2L), m.toSeq)
    assert(m.toSeq.contains(("dada", 2L, 2L)), m.toSeq)
    assert(m.forall(_._3 <= 2L), s"short stream leaked a subword: ${m.toSeq}")
  }

  test("holt-winters forecast projects level + trend + cycled seasonal") {
    // final state of the period-2 case above: l=13.75, b=0,
    // s = [0, 5, −2.5, 6.25] → ŷ alternates l+s₂ / l+s₃ = 11.25 / 20.0
    val q = pts((5L, 10.0), (15L, 20.0), (25L, 10.0), (35L, 20.0))
    val f = TimeSeriesOps.holtWintersForecast(q, Seq("uuid"), 0L, 40L, 10L,
        2, 0.5, 0.0, 1.0, 4)
      .orderBy("h").collect()
    assert(f.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(f.map(_.getLong(2)).toSeq == Seq(40L, 50L, 60L, 70L))
    assert(f.map(_.getDouble(3)).toSeq == Seq(11.25, 20.0, 11.25, 20.0), f.toSeq)
  }

  test("interpolate blends linearly, pins exact hits, nulls outside the hull") {
    val p = pts((10L, 1.0), (30L, 3.0))
    val r = TimeSeriesOps.interpolate(p, Seq("uuid"), 0L, 50L, 10L)
      .orderBy("g_t").collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(0L, 10L, 20L, 30L, 40L))
    assert(r(0).isNullAt(2))                   // before first point
    assert(r(1).getDouble(2) == 1.0)           // exact hit
    assert(r(2).getDouble(2) == 2.0)           // midpoint of 1..3
    assert(r(3).getDouble(2) == 3.0)           // exact hit
    assert(r(4).isNullAt(2))                   // after last point
  }

  test("sax words z-normalize bucket means at the quartile breakpoints") {
    // s1 bucket means at width 10 over [0,40): [0, 10, 10, 20] →
    // z = [-√2, 0, 0, √2] → symbols a c c d (0 is NOT < 0 → 'c')
    // s2 is constant → sd = 0 guard → all 'c', never NaN
    val p = Seq(
      ("s1", 0L, 0.0), ("s1", 10L, 10.0), ("s1", 25L, 10.0), ("s1", 35L, 20.0),
      ("s2", 0L, 5.0), ("s2", 12L, 5.0), ("s2", 27L, 5.0), ("s2", 33L, 5.0))
      .toDF("uuid", "t_us", "value").withColumn("ver", lit(1L))
    val s = graft.ts.Downsample.sax(p, Seq("uuid"), 0L, 40L, 10L)
      .orderBy("uuid").collect()
    assert(s.length == 2)
    assert(s(0).getString(0) == "s1" && s(0).getLong(1) == 4L
      && s(0).getString(2) == "accd", s.mkString(", "))
    assert(s(1).getString(0) == "s2" && s(1).getString(2) == "cccc")
  }

  test("calendar profile phases by pure integer arithmetic") {
    val day = 86400000000L; val hour = 3600000000L
    val p = pts(
      (3 * day + 5 * hour + 42L, 2.0),  // dow 3, hour 5
      (10 * day + 5 * hour + 1L, 4.0),  // dow 3 (10 % 7), hour 5 — same cell
      (10 * day + 23 * hour, 7.0),      // dow 3, hour 23
      (14 * day, 9.0))                  // at end — excluded
    val c = TimeSeriesOps.calendarProfile(p, Seq("uuid"), 0L, 14 * day)
      .orderBy("dow", "hour").collect()
    assert(c.length == 2)
    assert(c(0).getLong(1) == 3L && c(0).getLong(2) == 5L && c(0).getLong(3) == 2L)
    assert(c(0).getDouble(4) == 3.0) // exact µ-unit mean of 2.0 and 4.0
    assert(c(1).getLong(1) == 3L && c(1).getLong(2) == 23L && c(1).getDouble(4) == 7.0)
    // dow is phase-relative to start: shifting start one day relabels it
    val shifted = TimeSeriesOps.calendarProfile(p, Seq("uuid"), day, 14 * day)
      .orderBy("dow", "hour").collect()
    assert(shifted.forall(_.getLong(1) == 2L))
  }

  test("histogram bins partition each window's count") {
    val p = pts((1L, 5.0), (2L, 55.0), (3L, 57.0), (12L, 105.0))
    val h = TimeSeriesOps.histogram(p, Seq("uuid"), 0L, 20L, 10L, 50.0)
      .orderBy("w_start", "bin").collect()
    assert(h.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((0L, 0L, 1L), (0L, 1L, 2L), (10L, 2L, 1L)))
  }

  test("counter rate treats a drop as a reset (increase = new value)") {
    val p = pts((1L, 10.0), (3L, 14.0), (5L, 2.0), (7L, 5.0))
    val c = TimeSeriesOps.counterRate(p, Seq("uuid"), 0L, 10L, 10L)
      .orderBy("w_start").collect()
    assert(c.length == 1)
    // incs: first point null, +4, reset→2, +3 ⇒ increase 9
    assert(c(0).getDouble(2) == 9.0)
    assert(c(0).getLong(4) == 3L) // three non-null samples
  }

  test("lttb keeps endpoints, picks the spike, passes small series through") {
    import graft.ts.Downsample
    // a flat ramp with one spike at t=55: nOut=3 must keep first, spike, last
    val p = pts((0L, 0.0), (10L, 1.0), (20L, 2.0), (55L, 90.0), (70L, 6.0), (99L, 9.0))
    val r3 = Downsample.lttb(p, Seq("uuid"), 0L, 100L, 3)
      .orderBy("t_us").collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(r3.head == (0L, 0.0) && r3.last == (99L, 9.0), s"endpoints kept: $r3")
    assert(r3.length == 3 && r3(1) == (55L, 90.0), s"spike kept: $r3")
    // nOut >= series size → identity
    val all = Downsample.lttb(p, Seq("uuid"), 0L, 100L, 10)
      .orderBy("t_us").collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(all == Seq((0L, 0.0), (10L, 1.0), (20L, 2.0), (55L, 90.0), (70L, 6.0), (99L, 9.0)))
    // output size is exactly nOut when the series is larger
    assert(Downsample.lttb(p, Seq("uuid"), 0L, 100L, 4).count() == 4)
  }

  test("sessionize splits on silence longer than the gap") {
    val p = pts((0L, 1.0), (10L, 2.0), (100L, 3.0))
    val s = TimeSeriesOps.sessionize(p, Seq("uuid"), 20L)
      .orderBy("s_start").collect()
    assert(s.length == 2)
    assert((s(0).getLong(1), s(0).getLong(2), s(0).getLong(3)) == (0L, 10L, 2L))
    assert(s(0).getDouble(4) == 1.5)      // mean of the first session
    assert(s(0).getLong(5) == 10L)        // duration
    assert((s(1).getLong(1), s(1).getLong(3)) == (100L, 1L))
  }

  test("rolling re-aggregates exact sums over the trailing k windows") {
    val p = pts((5L, 10.0), (15L, 20.0), (25L, 30.0))
    val r = TimeSeriesOps.rolling(p, Seq("uuid"), 0L, 30L, 10L, 2)
      .orderBy("w_start").collect()
    assert(r.map(_.getDouble(2)).toSeq == Seq(10.0, 20.0, 30.0))   // own mean
    assert(r.map(_.getDouble(3)).toSeq == Seq(10.0, 15.0, 25.0))   // rolling mean
    assert(r.map(_.getDouble(4)).toSeq == Seq(10.0, 10.0, 20.0))   // rolling min
    assert(r.map(_.getLong(6)).toSeq == Seq(1L, 2L, 2L))           // frame size
  }

  test("percentiles interpolate between closest ranks (type-7)") {
    val p = pts((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0), (5L, 5.0))
    val r = TimeSeriesOps.percentileWindows(p, Seq("uuid"), 0L, 10L, 10L, Seq(0.5, 0.95))
      .collect()
    assert(r.length == 1)
    assert(r(0).getLong(2) == 5L)         // n_points
    assert(r(0).getDouble(3) == 3.0)      // p50: rank 3 of 5
    assert(r(0).getDouble(4) == 4.8)      // p95: idx 3.8 → 4 + 0.8·(5-4)
  }

  test("MAD ignores the outlier that wrecks the mean") {
    val p = pts((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0), (5L, 100.0))
    val r = TimeSeriesOps.madWindows(p, Seq("uuid"), 0L, 10L, 10L).collect()
    assert(r.length == 1)
    // median 3; devs {2,1,0,1,97} → sorted {0,1,1,2,97} → mad 1
    assert(r(0).getLong(2) == 5L && r(0).getDouble(3) == 3.0 && r(0).getDouble(4) == 1.0)
    // even n interpolates: {1,2,3,4} → med 2.5, devs {1.5,0.5,0.5,1.5} → mad 1.0
    val e = TimeSeriesOps.madWindows(pts((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)),
      Seq("uuid"), 0L, 10L, 10L).collect()
    assert(e(0).getDouble(3) == 2.5 && e(0).getDouble(4) == 1.0)
  }

  test("decompose splits linear trend + pure 7-periodic signal exactly") {
    import spark.implicits._
    val season = Seq(0.0, 5.0, -3.0, 2.0, -1.0, 4.0, -7.0) // sums to 0
    val p = (0 until 28).map(i => ("s", i * 10L, 10.0 * i + season(i % 7)))
      .toDF("uuid", "t_us", "value")
    val rows = TimeSeriesOps.decompose(p, Seq("uuid"), 0L, 280L, 10L, 7)
      .orderBy("w_start").collect()
    assert(rows.length == 22) // 28 windows minus 3 edge rows each side
    rows.foreach { r =>
      val i = r.getLong(1) / 10
      // a full centered 7-frame covers one whole period, so the moving
      // average recovers the linear part exactly; seasonal gets the rest
      assert(r.getDouble(3) == 10.0 * i, s"trend at $i")
      assert(r.getDouble(4) == season((i % 7).toInt), s"seasonal at $i")
      assert(r.getDouble(5) == 0.0, s"residual at $i")
      assert(r.getDouble(2) == 10.0 * i + season((i % 7).toInt), s"v_mean at $i")
    }
  }

  test("decompose with an even period uses the 2xMA so periodicity cancels") {
    import spark.implicits._
    val season = Seq(1.0, 5.0, -3.0, -3.0) // sums to 0 over period 4
    val p = (0 until 24).map(i => ("s", i * 10L, 10.0 * i + season(i % 4)))
      .toDF("uuid", "t_us", "value")
    val rows = TimeSeriesOps.decompose(p, Seq("uuid"), 0L, 240L, 10L, 4)
      .orderBy("w_start").collect()
    assert(rows.length == 20) // 24 windows minus h=2 edge rows each side
    rows.foreach { r =>
      val i = r.getLong(1) / 10
      // the 2xMA frame (half, 1, 1, 1, 1, half) spans exactly one period
      // of weight at every phase, so the periodic part cancels and the
      // linear part survives; an equal-weight 5-frame would leak season
      assert(r.getDouble(3) == 10.0 * i, s"trend at $i")
      assert(r.getDouble(4) == season((i % 4).toInt), s"seasonal at $i")
      assert(r.getDouble(5) == 0.0, s"residual at $i")
    }
  }

  test("autocorrelation of an alternating series: +1 at the period, -1 off it") {
    import spark.implicits._
    // period-2 alternation 1,3,1,3,… → ACF r(0)=r(2w)=+1, r(1w)=−1
    val pts = (0 until 28).map(i =>
        ("s", i * 10L, if (i % 2 == 0) 1.0 else 3.0))
      .toDF("uuid", "t_us", "value")
    val acf = TimeSeriesOps.lagCorrelation(pts, pts, Seq("uuid"), 0L, 280L, 10L,
        Seq(0L, 10L, 20L))
      .collect().map(row => row.getLong(1) -> row.getDouble(3)).toMap
    assert(acf(0L) == 1.0 && acf(20L) == 1.0 && acf(10L) == -1.0, s"$acf")
  }

  test("lag correlation peaks exactly at the true shift") {
    import spark.implicits._
    // y repeats x one window later; the non-linear sequence makes r = 1
    // only at perfect alignment (a ramp would correlate at every lag)
    val seqv = Seq(1.0, 4.0, 2.0, 8.0, 5.0, 7.0)
    val x = seqv.zipWithIndex.map { case (v, i) => ("s", i * 10L, v) }
      .toDF("uuid", "t_us", "value")
    val y = seqv.zipWithIndex.map { case (v, i) => ("s", (i + 1) * 10L, v) }
      .toDF("uuid", "t_us", "value")
    val r = TimeSeriesOps.lagCorrelation(x, y, Seq("uuid"), 0L, 100L, 10L,
        Seq(-10L, 0L, 10L))
      .collect().map(row => row.getLong(1) -> row.getDouble(3)).toMap
    // pairs are (x(w), y(w - lag)); y(w) = x(w - 10) ⇒ exact at lag = -10
    assert(r(-10L) == 1.0, s"$r")
    assert(r(0L) < 1.0 && r(10L) < 1.0, s"$r")
    // fractional lag: y is x shifted HALF a window, two points per
    // window — on the unshifted grid every whole-window lag mixes
    // neighboring x values into its means (no lag multiple of the width
    // can realign it), while the lag -5 phase grid buckets y at
    // [5, 15), [15, 25), … catching exactly each x window's pair
    val g = Seq(1.0, 4.0, 2.0, 8.0, 5.0, 7.0, 3.0, 9.0, 6.0, 2.0, 8.0, 4.0)
    val x2 = g.zipWithIndex.map { case (v, i) => ("s", i * 5L, v) }
      .toDF("uuid", "t_us", "value")
    val y2 = g.zipWithIndex.map { case (v, i) => ("s", i * 5L + 5L, v) }
      .toDF("uuid", "t_us", "value")
    val rh = TimeSeriesOps.lagCorrelation(x2, y2, Seq("uuid"), 0L, 55L, 10L,
        Seq(-10L, -5L, 0L))
      .collect().map(row => row.getLong(1) -> row.getDouble(3)).toMap
    assert(rh(-5L) == 1.0, s"$rh")
    assert(rh(-10L) < 1.0 && rh(0L) < 1.0, s"$rh")
  }

  test("similarStreams ranks a copy first and an inverse last") {
    import spark.implicits._
    // query q: 1,2,3,4 per window; c = q (r=1); i = inverted (r=-1);
    // f = flat (zero variance, dropped)
    val rows = for {
      (u, f) <- Seq(("q", (v: Long) => v), ("c", (v: Long) => v + 10),
        ("i", (v: Long) => 5 - v), ("f", (_: Long) => 7L))
      t <- 0L until 4L
    } yield (u, t * 10L, f(t + 1).toDouble)
    val p = rows.toDF("uuid", "t_us", "value")
    val got = TimeSeriesOps.similarStreams(p, Seq("uuid"), col("uuid") === "q",
        0L, 40L, 10L, 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.toSeq == Seq(("c", 4L, 1.0, 1L), ("i", 4L, -1.0, 2L)), s"${got.toSeq}")
  }

  test("approx percentiles honor the G-K rank-error contract against exact") {
    // n far below accuracy: the sketch keeps every sample, so each
    // reported quantile is an actual element at the nearest rank
    val p = pts((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0), (5L, 5.0))
    val r = TimeSeriesOps.percentileWindowsApprox(p, Seq("uuid"), 0L, 10L, 10L, Seq(0.5))
      .collect()
    assert(r.length == 1 && r(0).getLong(2) == 5L && r(0).getDouble(3) == 3.0)
    // larger window at LOW accuracy (exercises sketch compression): the
    // contract is rank error ≤ n/accuracy, tested, not assumed
    import spark.implicits._
    val n = 500
    val acc = 25
    val vals = (0 until n).map(i => (i * 2654435761L % 997L).toDouble)
    val big = vals.zipWithIndex.map { case (v, i) => ("u", i.toLong, v) }
      .toDF("uuid", "t_us", "value")
    val sorted = vals.sorted
    val got = TimeSeriesOps
      .percentileWindowsApprox(big, Seq("uuid"), 0L, n.toLong, n.toLong,
        Seq(0.1, 0.5, 0.9, 0.99), accuracy = acc)
      .collect()(0)
    Seq(0.1, 0.5, 0.9, 0.99).zipWithIndex.foreach { case (q, i) =>
      val v = got.getDouble(3 + i)
      val lo = sorted.indexOf(v)
      val hi = sorted.lastIndexOf(v)
      assert(lo >= 0, s"p$q: $v is not a data element")
      val target = q * n
      val tol = n.toDouble / acc + 1
      assert(target >= lo - tol && target <= hi + tol,
        s"p$q: value $v spans ranks [$lo,$hi], target $target ± $tol")
    }
  }

  test("anomalies flags only deviations past the z threshold") {
    val p = pts((1L, 0.0), (2L, 0.0), (3L, 0.0), (4L, 0.0), (5L, 100.0))
    // µ-units: mean 2e7, std 4e7 ⇒ z(100) = 2.0, z(0) = -0.5
    val a = TimeSeriesOps.anomalies(p, Seq("uuid"), 2.0).collect()
    assert(a.length == 1)
    assert(a(0).getLong(1) == 5L && a(0).getDouble(2) == 100.0)
    assert(a(0).getDouble(3) == 2.0)
  }

  test("correlation is ±1 on exactly linear window-mean series") {
    val left = Seq((1L, 5L, 1.0), (1L, 15L, 2.0), (1L, 25L, 3.0),
      (2L, 5L, 1.0), (2L, 15L, 2.0), (2L, 25L, 3.0),
      (3L, 5L, 1.0), (3L, 15L, 2.0), (3L, 25L, 3.0)).toDF("user_id", "t_us", "value")
    val right = Seq((1L, 7L, 2.0), (1L, 17L, 4.0), (1L, 27L, 6.0),
      (2L, 7L, 6.0), (2L, 17L, 4.0), (2L, 27L, 2.0),
      (3L, 7L, 4.0), (3L, 17L, 4.0), (3L, 27L, 4.0)).toDF("user_id", "t_us", "value")
    val r = TimeSeriesOps.correlation(left, right, Seq("user_id"), 0L, 30L, 10L)
      .orderBy("user_id").collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(3L, 3L, 3L))
    assert(r(0).getDouble(2) == 1.0 && r(1).getDouble(2) == -1.0)
    // user 3's right side is constant: zero variance reads as a null r —
    // not NaN, not a ÷0 error — from every operator on the shared reducer
    assert(r(2).isNullAt(2))
    val wr = TimeSeriesOps.windowedCorrelation(left, right, Seq("user_id"), 0L, 30L, 10L, 30L)
      .orderBy("user_id").collect()
    assert(wr.map(_.isNullAt(3)).toSeq == Seq(false, false, true))
    assert(wr(0).getDouble(3) == 1.0 && wr(1).getDouble(3) == -1.0)
    val lr = TimeSeriesOps.lagCorrelation(left, right, Seq("user_id"), 0L, 30L, 10L, Seq(0L))
      .orderBy("user_id").collect()
    assert(lr.map(_.isNullAt(3)).toSeq == Seq(false, false, true))
    assert(lr(0).getDouble(3) == 1.0 && lr(1).getDouble(3) == -1.0)
  }

  test("seasonal profile folds time onto the repeating period") {
    val p = pts((0L, 1.0), (10L, 3.0), (20L, 5.0), (30L, 7.0))
    val s = TimeSeriesOps.seasonalProfile(p, Seq("uuid"), 10L, 2)
      .orderBy("pos").collect()
    assert(s.map(_.getLong(1)).toSeq == Seq(0L, 1L))
    assert(s(0).getDouble(3) == 3.0 && s(1).getDouble(3) == 5.0) // means
    assert(s.map(_.getLong(5)).toSeq == Seq(2L, 2L))
  }

  test("m4 emits first/min/max/last with deterministic tie order") {
    // window [0,10): first at t=1 (tie → smaller value 2.0), last at t=9
    val p = pts((1L, 5.0), (1L, 2.0), (4L, 9.0), (4L, -1.0), (9L, 3.0))
    val m = TimeSeriesOps.m4(p, Seq("uuid"), 0L, 10L, 10L).collect()
    assert(m.length == 1)
    val r = m(0)
    assert(r.getDouble(2) == 2.0)  // v_first: earliest t, smaller value on tie
    assert(r.getDouble(3) == -1.0) // v_min
    assert(r.getDouble(4) == 9.0)  // v_max
    assert(r.getDouble(5) == 3.0)  // v_last
    assert(r.getLong(6) == 1L && r.getLong(7) == 9L && r.getLong(8) == 5L)
  }

  test("outages merge adjacent missing windows into intervals") {
    // stream with points only in buckets 0 and 3 of [0,40)/10 → one
    // two-window outage [10,30)
    val p = pts((1L, 1.0), (35L, 2.0))
    val o = TimeSeriesOps.outages(p, Seq("uuid"), 0L, 40L, 10L).collect()
    assert(o.length == 1)
    assert((o(0).getLong(1), o(0).getLong(2)) == (10L, 30L))
  }

  test("cusum is the exact integer prefix sum of deviations") {
    // mean = 2 exactly; deviations -1, 0, +1 → cusum -1, -1, 0
    val p = pts((1L, 1.0), (2L, 2.0), (3L, 3.0))
    val c = TimeSeriesOps.cusum(p, Seq("uuid")).orderBy("t_us").collect()
    assert(c.map(_.getDouble(3)).toSeq == Seq(-1.0, -1.0, 0.0))
  }

  test("coverage counts occupied grid windows per stream") {
    val p = pts((1L, 1.0), (2L, 2.0), (25L, 3.0)) // buckets 0 and 2 of [0,40)/10
    val c = TimeSeriesOps.coverage(p, Seq("uuid"), 0L, 40L, 10L).collect()
    assert(c.length == 1)
    assert(c(0).getLong(1) == 2L && c(0).getLong(2) == 4L)
    assert(c(0).getDouble(3) == 0.5)
  }

  test("csv export emits the 4-column stat contract with empty cells as nulls") {
    // two streams over [0,20)/10: a has points in both windows, b only in
    // the first — b's second-window cells must be NULL (csv.go
    // writeEmptyPoint), including the count (0 and absent differ)
    val p = Seq(
      ("a", 1L, 1.0, 1L), ("a", 3L, 3.0, 2L), ("a", 15L, 5.0, 3L),
      ("b", 2L, 8.0, 1L))
      .toDF("sid", "t_us", "value", "ver")
    val out = TimeSeriesOps.csvExport(p,
      Seq(("a", col("sid") === "a"), ("b", col("sid") === "b")),
      0L, 20L, 10L).orderBy("w_start").collect()
    assert(out.length == 2)
    val r0 = out(0)
    assert(r0.getDouble(1) == 1.0 && r0.getDouble(2) == 2.0 &&
      r0.getDouble(3) == 3.0 && r0.getLong(4) == 2L) // a: min/mean/max/count
    assert(r0.getDouble(5) == 8.0 && r0.getLong(8) == 1L) // b present
    val r1 = out(1)
    assert(r1.getDouble(1) == 5.0 && r1.getLong(4) == 1L)
    assert(r1.isNullAt(5) && r1.isNullAt(6) && r1.isNullAt(7) && r1.isNullAt(8))
  }

  test("csv export pins versions per stream and raw mode pivots by timestamp") {
    val p = Seq(
      ("a", 1L, 1.0, 1L), ("a", 1L, 9.0, 5L), // ver 5 invisible at pin 2
      ("b", 1L, 4.0, 1L), ("b", 3L, 6.0, 1L))
      .toDF("sid", "t_us", "value", "ver")
    val stat = TimeSeriesOps.csvExport(p,
      Seq(("a", col("sid") === "a" && col("ver") <= 2L), ("b", col("sid") === "b")),
      0L, 10L, 10L).collect()
    assert(stat.length == 1 && stat(0).getDouble(3) == 1.0, // a_max excludes ver 5
      stat.mkString(","))
    val raw = TimeSeriesOps.csvExportRaw(p,
      Seq(("a", col("sid") === "a"), ("b", col("sid") === "b")),
      0L, 10L).orderBy("t_us").collect()
    assert(raw.length == 2)
    assert(raw(0).getLong(0) == 1L && raw(0).getDouble(1) == 9.0 && // dup ts → max
      raw(0).getDouble(2) == 4.0)
    assert(raw(1).getLong(0) == 3L && raw(1).isNullAt(1) && raw(1).getDouble(2) == 6.0)
  }

  test("exact raw csv keeps same-stream duplicate timestamps as separate rows") {
    // a has TWO points at t=1 (the case csvExportRaw collapses); b has
    // one — the reference's rawBuffer emits both rows, pairing b's
    // single point with a's first occurrence (csv.go:109-143)
    val p = Seq(
      ("a", 1L, 1.0, 1L), ("a", 1L, 9.0, 2L),
      ("b", 1L, 4.0, 1L), ("b", 3L, 6.0, 1L))
      .toDF("sid", "t_us", "value", "ver")
    val out = TimeSeriesOps.csvExportRawExact(p,
      Seq(("a", col("sid") === "a"), ("b", col("sid") === "b")),
      0L, 10L).orderBy("t_us", "seq").collect()
    assert(out.length == 3, out.mkString(","))
    // (t=1, seq=1): both streams' first occurrence, ascending-value order
    assert(out(0).getLong(0) == 1L && out(0).getLong(1) == 1L &&
      out(0).getDouble(2) == 1.0 && out(0).getDouble(3) == 4.0)
    // (t=1, seq=2): a's duplicate survives; b has no second point → null
    assert(out(1).getLong(0) == 1L && out(1).getLong(1) == 2L &&
      out(1).getDouble(2) == 9.0 && out(1).isNullAt(3))
    assert(out(2).getLong(0) == 3L && out(2).getLong(1) == 1L &&
      out(2).isNullAt(2) && out(2).getDouble(3) == 6.0)
    // row-per-point fidelity: total non-null cells == input points
    val cells = out.map(r => Seq(2, 3).count(i => !r.isNullAt(i))).sum
    assert(cells == 4)
  }

  test("gaps chain with a metadata roster matches distinct-on-raw and adds silent streams") {
    val p = pts((1L, 1.0), (25L, 3.0)) // stream s: buckets 0, 2 of [0,40)/10
    val noRoster = TimeSeriesOps.gaps(p, Seq("uuid"), 0L, 40L, 10L)
      .orderBy("uuid", "w_start").collect()
    // roster equal to the point-derived universe → identical result
    val sameRoster = Seq("s").toDF("uuid")
    val withRoster = TimeSeriesOps.gaps(p, Seq("uuid"), 0L, 40L, 10L,
      streams = Some(sameRoster)).orderBy("uuid", "w_start").collect()
    assert(noRoster.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      withRoster.map(r => (r.getString(0), r.getLong(1))).toSeq)
    // a registered-but-silent stream grids entirely as gaps (dead sensor),
    // which the point-derived universe can never report
    val wider = Seq("s", "dead").toDF("uuid")
    val g = TimeSeriesOps.gaps(p, Seq("uuid"), 0L, 40L, 10L, streams = Some(wider))
    assert(g.filter(col("uuid") === "dead").count() == 4)
    val cov = TimeSeriesOps.coverage(p, Seq("uuid"), 0L, 40L, 10L,
      streams = Some(wider)).filter(col("uuid") === "dead").collect()
    assert(cov.length == 1 && cov(0).getLong(1) == 0L && cov(0).getDouble(3) == 0.0)
    val rel = TimeSeriesOps.reliability(p, Seq("uuid"), 0L, 40L, 10L,
      streams = Some(wider)).filter(col("uuid") === "dead").collect()
    assert(rel.length == 1 && rel(0).getLong(1) == 1L &&
      rel(0).getLong(2) == 40L && rel(0).getDouble(4) == 0.0)
  }

  test("resample forward-fills gaps") {
    val p = Seq((1L, 5L, 1.0), (1L, 25L, 3.0)).toDF("user_id", "t_us", "value")
    val r = TimeSeriesOps.resample(p, Seq("user_id"), 0L, 40L, 10L)
      .orderBy("g_t").collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(0L, 10L, 20L, 30L))
    assert(r(0).getDouble(2) == 1.0) // bucket [0,10) has the point at t=5
    assert(r(1).getDouble(2) == 1.0) // gap → carried forward
    assert(r(2).getDouble(2) == 3.0)
    assert(r(3).getDouble(2) == 3.0) // gap → carried forward
  }

  test("time-weighted average holds each value until the next sample") {
    // v=10 holds [0,10) (weight 10), v=20 holds [10,40) (weight 30); the
    // final point spans no time. twa = (10·10 + 20·30)/40 = 17.5 — the
    // plain mean (20) would over-weight the short-lived first sample.
    val p = pts((0L, 10.0), (10L, 20.0), (40L, 30.0))
    val t = TimeSeriesOps.timeWeighted(p, Seq("uuid"), 0L, 100L).collect()
    assert(t.length == 1)
    assert((t(0).getLong(1), t(0).getLong(2), t(0).getLong(3)) == (0L, 40L, 2L))
    assert(t(0).getDouble(4) == 17.5)
  }

  test("time-weighted average collapses equal timestamps to the max value") {
    // duplicate t=10 → last-write-wins max(20, 5) = 20; same answer
    val p = pts((0L, 10.0), (10L, 5.0), (10L, 20.0), (40L, 30.0))
    val t = TimeSeriesOps.timeWeighted(p, Seq("uuid"), 0L, 100L).collect()
    assert(t(0).getDouble(4) == 17.5)
  }

  test("multi-resolution coarse level equals the direct coarse windows") {
    val p = pts((1L, 1.0), (11L, 3.0), (21L, 5.0), (31L, 7.0))
    val mr = TimeSeriesOps.multiResolution(p, Seq("uuid"), 0L, 40L, Seq(10L, 20L))
    val coarse = mr.filter(col("w_width") === 20L)
      .select("uuid", "w_start", "v_min", "v_mean", "v_max", "v_count")
    val direct = TimeSeriesOps.windows(p, Seq("uuid"), 0L, 40L, 20L)
    assert(coarse.exceptAll(direct).isEmpty && direct.exceptAll(coarse).isEmpty)
    assert(mr.filter(col("w_width") === 10L).count() == 4)
  }

  test("cardinality counts distinct streams per window") {
    val p = Seq((1L, "a", 1L, 1.0), (2L, "a", 2L, 2.0), (1L, "a", 3L, 3.0),
      (1L, "a", 11L, 4.0)).toDF("user_id", "event_type", "t_us", "value")
    val c = TimeSeriesOps.cardinality(p, Seq("event_type"), Seq("user_id"), 0L, 20L, 10L)
      .orderBy("w_start").collect()
    assert(c.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((0L, 2L, 3L), (10L, 1L, 1L)))
  }

  test("approx cardinality tracks the exact operator within HLL error") {
    val p = Tables.points(spark, sfDir)
    val T0 = 1704067200000000L
    val T29 = 1706486400000000L
    val DAY = 86400000000L
    val exact = TimeSeriesOps.cardinality(p, Seq("event_type"), Seq("user_id"), T0, T29, DAY)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val approx = TimeSeriesOps
      .cardinalityApprox(p, Seq("event_type"), Seq("user_id"), T0, T29, DAY)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      val a = approx(k)
      // HLL++ at relativeSD=0.01 on small true counts is near-exact; allow
      // a generous 5% band so the assertion tests the CONTRACT, not luck
      assert(math.abs(a - n).toDouble <= math.max(1.0, 0.05 * n),
        s"window $k: approx $a vs exact $n")
    }
  }

  test("top-k per window ranks by count with deterministic ties") {
    val p = Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 3L, 3.0), ("b", 4L, 4.0),
      ("c", 5L, 5.0)).toDF("uuid", "t_us", "value")
    val t = TimeSeriesOps.topKPerWindow(p, Seq("uuid"), 0L, 10L, 10L, 2)
      .orderBy("rnk").collect()
    // a and b tie at 2 points → key order breaks the tie; c (1 point) cut
    assert(t.map(r => (r.getString(0), r.getLong(3))).toSeq ==
      Seq(("a", 1L), ("b", 2L)))
  }

  test("asof merge operator: custom exec planned, equal to the windowed plan") {
    // the session has GraftExtensions → asofJoin plans the custom operator
    val p = Tables.points(spark, sfDir)
    val l = p.filter(col("event_type") === "click")
    val r = p.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("t_us")).agg(max(col("value")).as("value"))
    val custom = TimeSeriesOps.asofJoin(l, r, Seq("user_id"))
    assert(custom.queryExecution.executedPlan.toString.contains("AsofMergeJoin"),
      custom.queryExecution.executedPlan.toString.take(2000))
    val reference = TimeSeriesOps.asofJoinWindowed(l, r, Seq("user_id"))
    assert(custom.exceptAll(reference).isEmpty && reference.exceptAll(custom).isEmpty)
    // with a staleness bound too
    val tol = Some(3L * 86400000000L)
    val customT = TimeSeriesOps.asofJoin(l, r, Seq("user_id"), toleranceUs = tol)
    val referenceT = TimeSeriesOps.asofJoinWindowed(l, r, Seq("user_id"), toleranceUs = tol)
    assert(customT.exceptAll(referenceT).isEmpty && referenceT.exceptAll(customT).isEmpty)
  }

  test("value runs split exactly on value changes") {
    val p = pts((0L, 1.0), (10L, 1.0), (20L, 2.0), (30L, 1.0))
    val r = TimeSeriesOps.valueRuns(p, Seq("uuid")).orderBy("r_start").collect()
    assert(r.map(x => (x.getLong(1), x.getLong(2), x.getDouble(3), x.getLong(4))).toSeq ==
      Seq((0L, 10L, 1.0, 2L), (20L, 20L, 2.0, 1L), (30L, 30L, 1.0, 1L)))
  }

  test("seasonal strength is exactly 1 on pure periodic input, trend strength on pure linear") {
    // one point per 10-µs window; period 2
    val alt = pts((0 until 8).map(i => (i * 10L, if (i % 2 == 0) 1.0 else 9.0)): _*)
    val a = TimeSeriesOps.seasonalStrength(alt, Seq("uuid"), 0L, 80L, 10L, 2)
      .collect().head
    // residual ≡ 0 → F_s = 1; trend is constant → Var(resid+trend) = 0 → NULL
    assert(a.getDouble(a.fieldIndex("seasonal_strength")) == 1.0, a.toString)
    assert(a.isNullAt(a.fieldIndex("trend_strength")), a.toString)
    val lin = pts((0 until 8).map(i => (i * 10L, (i + 1).toDouble)): _*)
    val l = TimeSeriesOps.seasonalStrength(lin, Seq("uuid"), 0L, 80L, 10L, 2)
      .collect().head
    // seasonal ≡ 0 → Var(resid+seasonal) = 0 → NULL; trend explains all
    assert(l.isNullAt(l.fieldIndex("seasonal_strength")), l.toString)
    assert(l.getDouble(l.fieldIndex("trend_strength")) == 1.0, l.toString)
  }

  test("top paths order within the window, cap the length, and rank deterministically") {
    import spark.implicits._
    val evs = (Seq((1L, 0L, "c"), (1L, 1L, "v"), (1L, 2L, "p"),
      (2L, 0L, "c"), (2L, 1L, "v"), (2L, 2L, "p"),
      (3L, 5L, "c"), (3L, 6L, "v")) ++
      (0 until 8).map(i => (4L, i.toLong, "x")))
      .toDF("user_id", "t_us", "event_type").withColumn("ver", lit(1L))
    val p = TimeSeriesOps.topPaths(evs, Seq("user_id"), "event_type",
      0L, 10L, 10L, maxLen = 6, k = 10).orderBy("rank").collect()
    val got = p.map(r => (r.getString(1), r.getLong(2))).toSeq
    // c>v>p twice, then the capped x-run and c>v once each (path tiebreak)
    assert(got == Seq(("c>v>p", 2L), ("c>v", 1L),
      (Seq.fill(6)("x").mkString(">"), 1L)), got.mkString("; "))
  }

  test("funnel steps enforce order and horizon, first occurrence per user") {
    import spark.implicits._
    val evs = Seq(
      (1L, 0L, "c"), (1L, 10L, "v"), (1L, 20L, "p"),   // full funnel
      (2L, 0L, "c"), (2L, 10L, "v"), (2L, 200L, "p"),  // purchase beyond horizon
      (3L, 5L, "v"),                                   // no first step
      (4L, 0L, "v"), (4L, 5L, "c"))                    // view BEFORE click only
      .toDF("user_id", "t_us", "event_type").withColumn("ver", lit(1L))
    val f = TimeSeriesOps.funnelSteps(evs, Seq("user_id"), "event_type",
      Seq("c", "v", "p"), 0L, 1000L, 50L).orderBy("step").collect()
    assert(f.map(r => (r.getLong(0), r.getLong(2))).toSeq ==
      Seq((1L, 3L), (2L, 2L), (3L, 1L)), f.mkString("; "))
    assert(f(0).isNullAt(f(0).fieldIndex("cvr_step")))
    assert(f(1).getDouble(f(1).fieldIndex("cvr_step")) == 0.666667)
    assert(f(2).getDouble(f(2).fieldIndex("cvr_step")) == 0.5)
    assert(f(2).getDouble(f(2).fieldIndex("cvr_total")) == 0.333333)
  }

  test("top movers rank exact integer deltas under a total order") {
    import spark.implicits._
    val p = Seq(("a", 0L, 1.0), ("a", 10L, 9.0), ("b", 0L, 1.0), ("b", 10L, 2.0))
      .toDF("uuid", "t_us", "value").withColumn("ver", lit(1L))
    val m = TimeSeriesOps.topMovers(p, Seq("uuid"), 0L, 20L, 10L, 10L, 2).collect()
    assert(m.map(r => (r.getString(0), r.getLong(2), r.getDouble(5))).toSeq ==
      Seq(("a", 1L, 8.0), ("b", 2L, 1.0)), m.mkString("; "))
    // k cuts the fleet deterministically
    val one = TimeSeriesOps.topMovers(p, Seq("uuid"), 0L, 20L, 10L, 10L, 1).collect()
    assert(one.length == 1 && one.head.getString(0) == "a")
  }

  test("ratio divides window sums on the shared grid, null on zero denominators") {
    import spark.implicits._
    def df(rows: (Long, Double)*) = rows.toDF("t_us", "value")
      .withColumn("uuid", lit("s")).withColumn("ver", lit(1L))
    val l = df((0L, 2.0), (5L, 4.0), (10L, 1.0), (25L, 7.0))
    val r = df((1L, 3.0), (11L, 0.0), (35L, 5.0))
    val out = TimeSeriesOps.ratio(l, r, Seq("uuid"), 0L, 40L, 10L)
      .orderBy("w_start").collect()
    // [0,10): 6/3 = 2; [10,20): denominator 0 → NULL; [20,30): right
    // absent → no row; [30,40): left absent → no row
    assert(out.length == 2, out.mkString("; "))
    assert(out(0).getLong(out(0).fieldIndex("w_start")) == 0L &&
      out(0).getDouble(out(0).fieldIndex("ratio")) == 2.0)
    assert(out(1).getLong(out(1).fieldIndex("w_start")) == 10L &&
      out(1).isNullAt(out(1).fieldIndex("ratio")))
  }

  test("histogram quantile interpolates within the first bin reaching the rank") {
    // bins at width 10: {0: 2, 1: 1, 2: 1}, total 4
    val p = pts((0L, 5.0), (1L, 5.0), (2L, 15.0), (3L, 25.0))
    val q = TimeSeriesOps.histogramQuantile(p, Seq("uuid"), 0L, 10L, 10L, 10.0,
      Seq(0.5, 0.75)).collect().head
    // φ=0.5 → rank 2 lands in bin 0: 0 + 10·2/2 = 10
    assert(q.getDouble(q.fieldIndex("p50_est")) == 10.0, q.toString)
    // φ=0.75 → rank 3 lands in bin 1: 10 + 10·(3−2)/1 = 20
    assert(q.getDouble(q.fieldIndex("p75_est")) == 20.0, q.toString)
    assert(q.getLong(q.fieldIndex("n_points")) == 4L)
  }

  test("interval join: inclusive bounds, bucket-crossing intervals, no range nested-loop") {
    import spark.implicits._
    // interval [5, 25] spans buckets 0..2 at width 10; points at the
    // exact bounds are IN, 4 and 26 are OUT; key "t" has no intervals
    val iv = Seq(("s", 5L, 25L, 3L), ("s", 40L, 41L, 1L))
      .toDF("uuid", "s_start", "s_end", "n_events")
    val p = Seq(("s", 4L, 1.0), ("s", 5L, 2.0), ("s", 17L, 3.0), ("s", 25L, 4.0),
      ("s", 26L, 5.0), ("s", 40L, 6.0), ("t", 17L, 7.0))
      .toDF("uuid", "t_us", "value")
    val j = TimeSeriesOps.intervalJoin(p, iv, Seq("uuid"), "s_start", "s_end", 10L)
    val got = j.orderBy("t_us").collect()
      .map(r => (r.getLong(r.fieldIndex("t_us")), r.getLong(r.fieldIndex("s_start")))).toSeq
    assert(got == Seq((5L, 5L), (17L, 5L), (25L, 5L), (40L, 40L)), s"$got")
    // the plan is a hash join on (key, bucket) — never a nested loop
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(2000))
  }

  test("capacity forecast projects the exact crossing for a linear ramp, none when flat/falling") {
    // value = t seconds: slope exactly 1/s, intercept 0 → threshold 10
    // crosses at start + 10 s
    val rise = pts((0 until 5).map(i => (i * 1000000L, i.toDouble)): _*)
    val r = TimeSeriesOps.capacityForecast(rise, Seq("uuid"), 0L, 5000000L, 10.0,
      3600000000L).collect().head
    assert(r.getDouble(r.fieldIndex("slope_per_s")) == 1.0)
    assert(r.getDouble(r.fieldIndex("intercept")) == 0.0)
    assert(r.getLong(r.fieldIndex("t_cross_us")) == 10000000L)
    // flat stream: slope 0 → no crossing (already-below stays NULL)
    val flat = pts((0 until 5).map(i => (i * 1000000L, 3.0)): _*)
    val f = TimeSeriesOps.capacityForecast(flat, Seq("uuid"), 0L, 5000000L, 10.0,
      3600000000L).collect().head
    assert(f.getDouble(f.fieldIndex("slope_per_s")) == 0.0 &&
      f.isNullAt(f.fieldIndex("t_cross_us")))
    // falling stream: negative slope → no crossing
    val fall = pts((0 until 5).map(i => (i * 1000000L, 10.0 - i)): _*)
    val d = TimeSeriesOps.capacityForecast(fall, Seq("uuid"), 0L, 5000000L, 20.0,
      3600000000L).collect().head
    assert(d.getDouble(d.fieldIndex("slope_per_s")) == -1.0 &&
      d.isNullAt(d.fieldIndex("t_cross_us")))
    // a crossing beyond the horizon is suppressed, not overflowed
    val slow = TimeSeriesOps.capacityForecast(rise, Seq("uuid"), 0L, 5000000L, 10.0,
      horizonUs = 1000000L).collect().head
    assert(slow.isNullAt(slow.fieldIndex("t_cross_us")))
  }

  test("burn rate counts bad fractions per width on its own complete grid") {
    // [0, 40) at widths 10 and 20; bad = value > 5; plant 2 bad in
    // [0,10), 1 bad in [10,20), 0 later
    val p = pts((0L, 9.0), (1L, 9.0), (2L, 1.0), (3L, 1.0),
      (12L, 9.0), (13L, 1.0), (25L, 1.0), (35L, 1.0))
    val b = TimeSeriesOps.burnRate(p, Seq("uuid"), 0L, 40L, Seq(10L, 20L),
        col("value") > 5, slo = 0.9)
      .orderBy("width_us", "w_start").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getDouble(6)))
    assert(b.toSeq == Seq(
      (10L, 0L, 4L, 2L, 0.5, 5.0),   // 2/4 bad / 0.1 budget
      (10L, 10L, 2L, 1L, 0.5, 5.0),
      (10L, 20L, 1L, 0L, 0.0, 0.0),
      (10L, 30L, 1L, 0L, 0.0, 0.0),
      (20L, 0L, 6L, 3L, 0.5, 5.0),
      (20L, 20L, 2L, 0L, 0.0, 0.0)), b.mkString("; "))
  }

  test("profile drift measures per-phase shape change, zero when shapes match") {
    // period 2 × bucket 10: phase-0 stays 10, phase-1 shifts 20 → 26
    val p = pts(
      ((0 until 4).map(i => (i * 10L, if (i % 2 == 0) 10.0 else 20.0)) ++
        (4 until 8).map(i => (i * 10L, if (i % 2 == 0) 10.0 else 26.0))): _*)
    val d = TimeSeriesOps.profileDrift(p, Seq("uuid"), 0L, 40L, 40L, 80L, 10L, 2)
      .collect().head
    assert(d.getLong(d.fieldIndex("n_phases")) == 2L)
    assert(d.getDouble(d.fieldIndex("max_shift")) == 6.0)
    assert(d.getDouble(d.fieldIndex("drift_rms")) == 4.242641) // √(36/2) Q6
    // identical periods → zero drift
    val same = pts((0 until 8).map(i => (i * 10L, if (i % 2 == 0) 1.0 else 2.0)): _*)
    val z = TimeSeriesOps.profileDrift(same, Seq("uuid"), 0L, 40L, 40L, 80L, 10L, 2)
      .collect().head
    assert(z.getDouble(z.fieldIndex("drift_rms")) == 0.0 &&
      z.getDouble(z.fieldIndex("max_shift")) == 0.0)
  }

  test("seasonal anomalies flag per-phase outliers, not cross-phase baseline shifts") {
    val H = 3600000000L
    // hour-0 baseline 10 (one 20), hour-1 baseline 100 (one 110): each
    // phase's outlier is z=3 against its OWN profile; the 100s are never
    // flagged even though they are wild against the global mean
    val p = pts(
      ((0 until 9).map(i => (i * 1000L, 10.0)) :+ ((9 * 1000L, 20.0))) ++
        ((0 until 9).map(i => (H + i * 1000L, 100.0)) :+ ((H + 9 * 1000L, 110.0))): _*)
    val a = TimeSeriesOps.anomaliesSeasonal(p, Seq("uuid"), 2.0)
      .orderBy("t_us").collect()
    assert(a.length == 2, a.mkString("; "))
    assert(a(0).getLong(a(0).fieldIndex("t_us")) == 9000L &&
      a(0).getLong(a(0).fieldIndex("phase")) == 0L &&
      a(0).getDouble(a(0).fieldIndex("z_score")) == 3.0)
    assert(a(1).getLong(a(1).fieldIndex("t_us")) == H + 9000L &&
      a(1).getLong(a(1).fieldIndex("phase")) == 1L &&
      a(1).getDouble(a(1).fieldIndex("z_score")) == 3.0)
    // the global-profile detector, by contrast, flags nothing here (the
    // two-level mixture inflates sigma past both outliers)
    assert(TimeSeriesOps.anomalies(p, Seq("uuid"), 2.0).count() == 0)
  }

  test("savgol passes a linear series through exactly and keeps peaks sharper than a 5-MA") {
    // one point per window → m_us = value; linear in, linear out (the
    // quadratic kernel reproduces polynomials up to degree 3 exactly)
    val lin = pts((0L, 1.0), (10L, 2.0), (20L, 3.0), (30L, 4.0),
      (40L, 5.0), (50L, 6.0), (60L, 7.0))
    val sg = TimeSeriesOps.savgol(lin, Seq("uuid"), 0L, 70L, 10L)
      .orderBy("w_start").collect()
    // edges (incomplete 5-frames) are NULL
    assert(sg(0).isNullAt(sg(0).fieldIndex("sg_mean")))
    assert(sg(1).isNullAt(sg(1).fieldIndex("sg_mean")))
    assert(sg(5).isNullAt(sg(5).fieldIndex("sg_mean")))
    assert(sg(6).isNullAt(sg(6).fieldIndex("sg_mean")))
    for (i <- 2 to 4)
      assert(sg(i).getDouble(sg(i).fieldIndex("sg_mean")) == (i + 1).toDouble,
        s"linear series distorted at $i: ${sg(i)}")
    // isolated spike 0,0,7,0,0: SG keeps 17/35 of it; a 5-MA keeps 7/35
    val spike = pts((0L, 0.0), (10L, 0.0), (20L, 7.0), (30L, 0.0), (40L, 0.0))
    val s2 = TimeSeriesOps.savgol(spike, Seq("uuid"), 0L, 50L, 10L)
      .orderBy("w_start").collect()
    assert(s2(2).getDouble(s2(2).fieldIndex("sg_mean")) == 3.4) // 17*7/35
  }

  test("boxplot: exact type-7 quartiles and Tukey fences count the planted outlier") {
    val p = pts((0L to 7L).map(i => (i, (i + 1).toDouble)) :+ ((8L, 100.0)): _*)
    val b = TimeSeriesOps.boxplotWindows(p, Seq("uuid"), 0L, 10L, 10L).collect()
    assert(b.length == 1)
    val r = b.head
    // n=9: q25 at idx 2 → 3.0 exact, q50 at idx 4 → 5.0, q75 at idx 6 → 7.0
    assert(r.getDouble(r.fieldIndex("p25")) == 3.0)
    assert(r.getDouble(r.fieldIndex("p50")) == 5.0)
    assert(r.getDouble(r.fieldIndex("p75")) == 7.0)
    assert(r.getDouble(r.fieldIndex("iqr")) == 4.0)
    // fences [3-6, 7+6] = [-3, 13] → only the 100 is out, high side
    assert(r.getLong(r.fieldIndex("n_out_lo")) == 0L)
    assert(r.getLong(r.fieldIndex("n_out_hi")) == 1L)
  }

  test("xcorr matrix: each unordered roster pair once with the exact signs") {
    import spark.implicits._
    def stream(u: String, vs: Seq[Double]) =
      vs.zipWithIndex.map { case (v, i) => (u, i * 10L, v) }
        .toDF("uuid", "t_us", "value").withColumn("ver", lit(1L))
    val p = stream("a", Seq(1, 2, 3, 4, 5).map(_.toDouble))
      .union(stream("b", Seq(2, 4, 6, 8, 10).map(_.toDouble)))  // r(a,b)=+1
      .union(stream("c", Seq(5, 4, 3, 2, 1).map(_.toDouble)))   // r(a,c)=-1
      .union(stream("d", Seq(9.0)))                             // low volume
      .union(stream("e", Seq.fill(5)(7.0)))                     // constant
    val m = TimeSeriesOps.xcorrMatrix(p, Seq("uuid"), 0L, 50L, 10L, topN = 4)
      .orderBy("uuid_a", "uuid_b").collect()
    // top-4 roster excludes d; 4 streams → 6 pairs, each once, a<b order
    assert(m.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("a", "b"), ("a", "c"), ("a", "e"), ("b", "c"), ("b", "e"), ("c", "e")))
    // a constant stream has zero variance: a null r, not NaN or an error
    val ri = m.head.fieldIndex("r")
    assert(m.map(r => if (r.isNullAt(ri)) None else Some(r.getDouble(ri))).toSeq ==
      Seq(Some(1.0), Some(-1.0), None, Some(-1.0), None, None))
  }

  test("gap histogram buckets by bit length with equal-µs ties in bucket 0") {
    // gaps of the series 0,1,2,4,8,8,1000: dt = 1,1,2,4,0,992 →
    // buckets 1,1,2,3,0,10 (992 = 0b1111100000, 10 bits)
    val p = pts((0L, 1.0), (1L, 2.0), (2L, 3.0), (4L, 4.0),
      (8L, 5.0), (8L, 6.0), (1000L, 7.0))
    val out = TimeSeriesOps.gapHistogram(p, Seq("uuid"))
      .orderBy("bucket").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      (0L, 0L, 1L, 0L, 0L),     // the duplicate-timestamp tie
      (1L, 1L, 2L, 1L, 1L),
      (2L, 2L, 1L, 2L, 2L),
      (3L, 4L, 1L, 4L, 4L),
      (10L, 512L, 1L, 992L, 992L)), out.mkString(","))
  }

  test("load gini: exact two-phase rank matches the closed form, no fleet-wide window") {
    // volumes 1/2/3/10 ascending: num = Σ(2i-n-1)x = -3-2+3+30 = 28,
    // gini = 28/(4·16) = 0.4375, max_share = 10/16 = 0.625 — exercised
    // at a partition count larger than the fleet so most range slices
    // are EMPTY (the offset table must treat absent slices as zero)
    val rows = Seq("a" -> 1, "b" -> 2, "c" -> 3, "d" -> 10).flatMap {
      case (sid, n) => (1 to n).map(i => (sid, i.toLong, i.toDouble))
    }
    val p = rows.toDF("sid", "t_us", "value")
    val out = TimeSeriesOps.loadGini(p, Seq("sid")).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 16L)
    assert(r.getDouble(2) == 0.4375 && r.getDouble(3) == 0.625, r.toString)
    // every rank window is slice-keyed (the two-phase contract): the
    // only windowspecdefinitions are the per-slice local rank and the
    // Bounded ≤numShufflePartitions offset fold
    val plan = TimeSeriesOps.loadGini(p, Seq("sid"))
      .queryExecution.executedPlan.toString
    val specs = "windowspecdefinition\\(([^,]+)".r.findAllMatchIn(plan)
      .map(_.group(1)).toSeq
    assert(specs.nonEmpty && specs.forall(s => s.startsWith("slice#") || s == "0"),
      s"non-slice-keyed window in loadGini:\n$specs\n${plan.take(3000)}")
  }
}
