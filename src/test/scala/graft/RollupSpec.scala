package graft

import org.apache.spark.sql.functions._
import graft.ts.{Rollup, TimeSeriesOps}

/** The rollup hierarchy must answer AlignedWindows identically to a direct
  * aggregation over raw points — the invariant that lets stat queries never
  * touch the fact table (qtree's core property).
  */
class RollupSpec extends SparkSuite {

  private val T0 = 1704067200000000L
  private val T31 = 1706659200000000L
  private val STREAM = Seq("user_id", "event_type")

  test("alignedWindows from rollup == direct aggregation over raw") {
    val pts = Tables.points(spark, sfDir).cache()
    val ru = Rollup(spark, tmpDir("rollup"), Seq(24, 30, 36))
    ru.build(pts, STREAM)
    for (pw <- Seq(30, 36, 40)) {
      val direct = TimeSeriesOps.alignedWindows(pts, STREAM, T0, T31, pw)
        .orderBy("user_id", "event_type", "w_start").collect()
      val rolled = ru.alignedWindows(pts, STREAM, T0, T31, pw)
        .orderBy("user_id", "event_type", "w_start").collect()
      assert(direct.length == rolled.length, s"row count at pw=$pw")
      direct.zip(rolled).foreach { case (d, r) =>
        assert(d.getLong(0) == r.getLong(0) && d.getString(1) == r.getString(1)
          && d.getLong(2) == r.getLong(2), s"keys at pw=$pw")
        assert(d.getDouble(3) == r.getDouble(3), s"min at pw=$pw")   // exact
        assert(math.abs(d.getDouble(4) - r.getDouble(4)) <= 1e-6, s"mean at pw=$pw")
        assert(d.getDouble(5) == r.getDouble(5), s"max at pw=$pw")   // exact
        assert(d.getLong(6) == r.getLong(6), s"count at pw=$pw")
      }
    }
  }

  test("alignedWindows matches direct agg when start/end are unaligned to the serving level") {
    val pts = Tables.points(spark, sfDir).cache()
    val ru = Rollup(spark, tmpDir("rollup"), Seq(24, 30))
    ru.build(pts, STREAM)
    // bounds deliberately NOT multiples of 2^30 (nor of 2^pw): boundary
    // pw-buckets straddle the range and must be served from raw points
    val start = T0 + 12345L
    val end = T31 - 98765L
    for (pw <- Seq(30, 33)) {
      val direct = TimeSeriesOps.alignedWindows(pts, STREAM, start, end, pw)
        .orderBy("user_id", "event_type", "w_start").collect()
      val rolled = ru.alignedWindows(pts, STREAM, start, end, pw)
        .orderBy("user_id", "event_type", "w_start").collect()
      assert(direct.length == rolled.length, s"row count at pw=$pw")
      direct.zip(rolled).foreach { case (d, r) =>
        assert(d.getLong(0) == r.getLong(0) && d.getString(1) == r.getString(1)
          && d.getLong(2) == r.getLong(2), s"keys at pw=$pw")
        assert(d.getDouble(3) == r.getDouble(3), s"min at pw=$pw")
        assert(math.abs(d.getDouble(4) - r.getDouble(4)) <= 1e-6, s"mean at pw=$pw")
        assert(d.getDouble(5) == r.getDouble(5), s"max at pw=$pw")
        assert(d.getLong(6) == r.getLong(6), s"count at pw=$pw")
      }
    }
  }

  test("alignedWindows range narrower than one window is served from raw") {
    val pts = Tables.points(spark, sfDir)
    val ru = Rollup(spark, tmpDir("rollup"), Seq(24))
    ru.build(pts, STREAM)
    val start = T0 + 7L
    val end = start + (1L << 26) // < one pw=30 window
    val direct = TimeSeriesOps.alignedWindows(pts, STREAM, start, end, 30)
      .agg(coalesce(sum("v_count"), lit(0L))).first().getLong(0)
    val rolled = ru.alignedWindows(pts, STREAM, start, end, 30)
      .agg(coalesce(sum("v_count"), lit(0L))).first().getLong(0)
    assert(direct == rolled)
  }

  test("incremental appendBatch deltas serve the same answers as a full build") {
    val pts = Tables.points(spark, sfDir).cache()
    val ru = Rollup(spark, tmpDir("rollup"), Seq(24, 30))
    // land the data as three deltas instead of one build
    val splits = Seq(
      pts.filter(col("user_id") % 3 === 0),
      pts.filter(col("user_id") % 3 === 1),
      pts.filter(col("user_id") % 3 === 2))
    splits.zipWithIndex.foreach { case (b, i) => ru.appendBatch(b, STREAM, s"b$i") }
    // replay of a delta must overwrite, not double-count
    ru.appendBatch(splits(1), STREAM, "b1")
    val direct = TimeSeriesOps.alignedWindows(pts, STREAM, T0, T31, 30)
      .orderBy("user_id", "event_type", "w_start").collect()
    val rolled = ru.alignedWindows(pts, STREAM, T0, T31, 30)
      .orderBy("user_id", "event_type", "w_start").collect()
    assert(direct.length == rolled.length)
    direct.zip(rolled).foreach { case (d, r) =>
      assert(d.getLong(2) == r.getLong(2) && d.getDouble(3) == r.getDouble(3)
        && math.abs(d.getDouble(4) - r.getDouble(4)) <= 1e-6
        && d.getDouble(5) == r.getDouble(5) && d.getLong(6) == r.getLong(6))
    }
    // build() compacts: same answers afterwards
    ru.build(pts, STREAM)
    assert(ru.alignedWindows(pts, STREAM, T0, T31, 30).count() == direct.length)
  }

  test("invalidated (deleted) ranges are recomputed from raw, rest stays rollup-served") {
    import spark.implicits._
    val pts = Tables.points(spark, sfDir).cache()
    val ru = Rollup(spark, tmpDir("rollup"), Seq(24, 30))
    ru.build(pts, STREAM) // built BEFORE the delete
    val day = 86400000000L
    val (rs, re) = (T0 + 5 * day, T0 + 9 * day)
    // a range delete lands on one stream after the build
    val visible = pts.filter(!(col("user_id") === 1 && col("event_type") === "click" &&
      col("t_us") >= rs && col("t_us") < re))
    val invalid = Seq((1L, "click", rs, re)).toDF("user_id", "event_type", "r_start", "r_end")
    for (pw <- Seq(30, 36)) {
      val direct = TimeSeriesOps.alignedWindows(visible, STREAM, T0, T31, pw)
        .orderBy("user_id", "event_type", "w_start").collect()
      val rolled = ru.alignedWindows(visible, STREAM, T0, T31, pw, invalid = Some(invalid))
        .orderBy("user_id", "event_type", "w_start").collect()
      assert(direct.length == rolled.length, s"row count at pw=$pw")
      direct.zip(rolled).foreach { case (d, r) =>
        assert(d.getLong(0) == r.getLong(0) && d.getString(1) == r.getString(1)
          && d.getLong(2) == r.getLong(2), s"keys at pw=$pw")
        assert(d.getDouble(3) == r.getDouble(3) && d.getDouble(4) == r.getDouble(4)
          && d.getDouble(5) == r.getDouble(5) && d.getLong(6) == r.getLong(6),
          s"stats at pw=$pw")
      }
      // sanity: without invalidation the stale rollup DOES overcount there,
      // i.e. this test actually exercises the dirty path
      val stale = ru.alignedWindows(visible, STREAM, T0, T31, pw)
        .filter(col("user_id") === 1 && col("event_type") === "click" &&
          col("w_start") >= rs - (1L << pw) && col("w_start") < re)
        .agg(coalesce(sum("v_count"), lit(0L))).first().getLong(0)
      val trueCnt = TimeSeriesOps.alignedWindows(visible, STREAM, T0, T31, pw)
        .filter(col("user_id") === 1 && col("event_type") === "click" &&
          col("w_start") >= rs - (1L << pw) && col("w_start") < re)
        .agg(coalesce(sum("v_count"), lit(0L))).first().getLong(0)
      assert(stale > trueCnt, s"delete must actually hide points at pw=$pw")
    }
    // a window-aligned query [lo, hi): invalidation is clipped to it
    val pw = 30
    val (lo, hi) = (((T0 >> pw) + 1) << pw, (T31 >> pw) << pw)
    def deleted(ranges: Seq[(Long, Long)]) = {
      val hidden = ranges.map { case (s, e) => col("t_us") >= s && col("t_us") < e }
        .reduce(_ || _)
      (pts.filter(!(col("user_id") === 1 && col("event_type") === "click" && hidden)),
        ranges.map { case (s, e) => (1L, "click", s, e) }
          .toDF("user_id", "event_type", "r_start", "r_end"))
    }
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("user_id", "event_type", "w_start").collect().toSeq
    // ranges wholly outside the window (one ends exactly at lo, one starts
    // exactly at hi): the rollup answers alone and `raw` is never evaluated
    val (outside, outsideInv) = deleted(Seq((T0 - day, lo), (hi, T31 + day)))
    def boom: org.apache.spark.sql.DataFrame =
      throw new AssertionError("raw evaluated for an out-of-window invalidation")
    assert(sorted(ru.alignedWindows(boom, STREAM, lo, hi, pw, invalid = Some(outsideInv))) ==
      sorted(TimeSeriesOps.alignedWindows(outside, STREAM, lo, hi, pw)))
    // ranges straddling lo and hi: still recomputed, bit-identical
    val straddling = Seq((lo - day, lo + 12 * day), (hi - 12 * day, hi + day))
    straddling.foreach { case (s, e) =>
      assert(pts.filter(col("user_id") === 1 && col("event_type") === "click" &&
        col("t_us") >= math.max(s, lo) && col("t_us") < math.min(e, hi)).count() > 0,
        s"the straddling delete [$s, $e) must hide points inside the window")
    }
    val (straddle, straddleInv) = deleted(straddling)
    assert(sorted(ru.alignedWindows(straddle, STREAM, lo, hi, pw,
      invalid = Some(straddleInv))) ==
      sorted(TimeSeriesOps.alignedWindows(straddle, STREAM, lo, hi, pw)))
  }

  test("windowsApprox at depth 0 equals exact windows; rollup serves the same answer") {
    val pts = Tables.points(spark, sfDir).cache()
    val DAY = 86400000000L
    // depth=0 buckets are single microseconds — the approximation vanishes
    val exact = TimeSeriesOps.windows(pts, STREAM, T0, T31, DAY)
      .orderBy("user_id", "event_type", "w_start").collect()
    val approx0 = TimeSeriesOps.windowsApprox(pts, STREAM, T0, T31, DAY, 0)
      .orderBy("user_id", "event_type", "w_start").collect()
    assert(exact.length == approx0.length)
    exact.zip(approx0).foreach { case (d, r) => assert(d == r) }
    // 2^depth-aligned bounds AND width (so no bucket straddles a range
    // edge): the rollup-served path answers identically to the raw path
    val depth = 30
    val start = (T0 >> depth) << depth
    val w34 = 1L << 34 // ≈ 4.77 h, a 2^30 multiple
    val end = start + 16 * w34
    val ru = Rollup(spark, tmpDir("rollup"), Seq(24, 30))
    ru.build(pts, STREAM)
    val raw = TimeSeriesOps.windowsApprox(pts, STREAM, start, end, w34, depth)
      .orderBy("user_id", "event_type", "w_start").collect()
    val served = ru.windowsApprox(STREAM, start, end, w34, depth)
      .orderBy("user_id", "event_type", "w_start").collect()
    assert(raw.length == served.length && raw.nonEmpty)
    raw.zip(served).foreach { case (d, r) => assert(d == r) }
  }

  test("exact windows served from a level equal direct aggregation") {
    val pts = Tables.points(spark, sfDir).cache()
    val depth = 30
    val start = (T0 >> depth) << depth
    val w = 4L << depth // width = 4 buckets at level 30 → exact tiling
    val end = start + 12 * w
    val ru = Rollup(spark, tmpDir("rollup"), Seq(24, 30))
    ru.build(pts, STREAM)
    val direct = TimeSeriesOps.windows(pts, STREAM, start, end, w)
      .orderBy("user_id", "event_type", "w_start").collect()
    val served = ru.windows(pts, STREAM, start, end, w)
      .orderBy("user_id", "event_type", "w_start").collect()
    assert(direct.length == served.length && direct.nonEmpty)
    direct.zip(served).foreach { case (d, r) => assert(d == r) }
    // unaligned start → raw fallback, still correct
    val fb = ru.windows(pts, STREAM, start + 7, end, w)
      .orderBy("user_id", "event_type", "w_start").collect()
    val fbDirect = TimeSeriesOps.windows(pts, STREAM, start + 7, end, w)
      .orderBy("user_id", "event_type", "w_start").collect()
    assert(fb.length == fbDirect.length)
    fb.zip(fbDirect).foreach { case (d, r) => assert(d == r) }
  }

  test("every level is exactly the statpoint: keys, w_start, v_min, v_max, v_sum_us, v_count") {
    val pts = Tables.points(spark, sfDir).cache()
    val pws = Seq(24, 30)
    val statpoint = STREAM ++ Seq("w_start", "v_min", "v_max", "v_sum_us", "v_count", "delta")
    def columnsAt(ru: Rollup, when: String): Unit = pws.foreach { pw =>
      assert(ru.level(pw).columns.toSeq == statpoint, s"pw$pw $when")
    }
    val built = Rollup(spark, tmpDir("rollup_statpoint"), pws)
    built.build(pts.filter(col("user_id") % 2 === 0), STREAM)
    columnsAt(built, "after build")
    built.appendBatch(pts.filter(col("user_id") % 2 === 1), STREAM, "b1")
    columnsAt(built, "after appendBatch onto a built base")
    val appended = Rollup(spark, tmpDir("rollup_statpoint_append"), pws)
    appended.appendBatch(pts, STREAM, "b0")
    columnsAt(appended, "after appendBatch onto no base")

    // a level hand-written with exactly the statpoint columns serves
    // windows equal to raw, and survives an append and a compaction
    val depth = 24
    val start = (T0 >> depth) << depth
    val w = 5120L << depth
    val end = start + 28 * w
    val dir = tmpDir("rollup_handwritten")
    pws.foreach { pw =>
      pts.filter(col("user_id") % 2 === 0)
        .groupBy(STREAM.map(col)
          :+ shiftleft(shiftright(col("t_us"), pw), pw).as("w_start"): _*)
        .agg(min(col("value")).as("v_min"), max(col("value")).as("v_max"),
          sum(graft.Quant.us6(col("value"))).as("v_sum_us"),
          count(lit(1)).as("v_count"))
        .write.parquet(s"$dir/rollup_pw$pw/delta=base")
    }
    val ru = Rollup(spark, dir, pws)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("user_id", "event_type", "w_start").collect().toSeq
    // the raw argument is by-name and poisoned: every answer below must
    // come from the levels
    def served = sorted(ru.windows(sys.error("windows read raw points"), STREAM, start, end, w))
    val winRaw = sorted(TimeSeriesOps.windows(
      pts.filter(col("user_id") % 2 === 0), STREAM, start, end, w))
    assert(winRaw.nonEmpty && served == winRaw)
    ru.appendBatch(pts.filter(col("user_id") % 2 === 1), STREAM, "b1")
    val allRaw = sorted(TimeSeriesOps.windows(pts, STREAM, start, end, w))
    assert(allRaw.length > winRaw.length && served == allRaw)
    ru.compactDeltas(STREAM)
    assert(served == allRaw)
    columnsAt(ru, "after compacting a hand-written base")
  }

  test("queries below the finest level fall back to raw") {
    val pts = Tables.points(spark, sfDir)
    val ru = Rollup(spark, tmpDir("rollup"), Seq(30))
    ru.build(pts, STREAM)
    val direct = TimeSeriesOps.alignedWindows(pts, STREAM, T0, T31, 24).count()
    assert(ru.alignedWindows(pts, STREAM, T0, T31, 24).count() == direct)
  }

  test("compactDeltas collapses deltas into one base without changing answers") {
    val pts = Tables.points(spark, sfDir).cache()
    val dir = tmpDir("rollup_compact")
    val ru = Rollup(spark, dir, Seq(24, 30))
    Seq(0, 1, 2).foreach(i =>
      ru.appendBatch(pts.filter(col("user_id") % 3 === i), STREAM, s"b$i"))
    val before = ru.alignedWindows(pts, STREAM, T0, T31, 30)
      .orderBy("user_id", "event_type", "w_start").collect()
    ru.compactDeltas(STREAM)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(24, 30).foreach { pw =>
      val deltas = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/rollup_pw$pw"))
        .map(_.getPath.getName).filter(_.startsWith("delta=")).toSeq
      assert(deltas == Seq("delta=base"), s"pw$pw: $deltas")
    }
    // exact integer sums: the merge is associative, so every served value
    // is bit-identical before and after compaction
    val after = ru.alignedWindows(pts, STREAM, T0, T31, 30)
      .orderBy("user_id", "event_type", "w_start").collect()
    assert(before.length == after.length && before.nonEmpty)
    before.zip(after).foreach { case (b, a) => assert(b == a) }
    // crashed swap (live dir moved aside, compacted not yet published):
    // the read path restores it
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/rollup_pw24"),
      new org.apache.hadoop.fs.Path(s"$dir/rollup_pw24_old")))
    assert(ru.level(24).count() > 0)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/rollup_pw24")))
  }
}
