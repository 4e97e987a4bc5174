package graft

import org.apache.spark.sql.functions._

import graft.ts.{Downsample, TimeSeriesOps => TS}

/** End-to-end client-API walk: the sequence a reference user runs —
  * create, insert, stat queries, nearest, time travel, delete, changes,
  * obliterate — through the GraftDB facade, with every other analytic
  * called as an operator on the handle's or the store's canonical frame.
  */
class GraftDBSpec extends SparkSuite {
  import spark.implicits._

  private val K = Seq("uuid")

  test("full stream lifecycle through the facade") {
    val db = GraftDB(spark, tmpDir("graftdb"))
    val s = db.create("u-1", "plant/a", Map("unit" -> "V"))

    val v1 = s.insert((0L until 64L).map(t => (t, t.toDouble)).toDF("time", "value"))
    assert(v1 == 1 && s.version == 1)

    // raw + stat reads
    assert(s.rawValues(0, 64).count() == 64)
    // pointWidth=4 → 2^4 = 16-wide aligned buckets over [0, 64) = 4 windows
    val aw = s.alignedWindows(0, 64, 4).orderBy("w_start").collect()
    assert(aw.length == 4 && aw.head.getLong(0) == 0L)
    assert(aw.head.getDouble(1) == 0.0 && aw.head.getDouble(3) == 15.0
      && aw.head.getLong(4) == 16L)
    val w = s.windows(0, 60, 10).collect()
    assert(w.length == 6) // complete windows only
    // a span past a long's range is an error, never a wrapped empty read
    val e = intercept[IllegalArgumentException](s.windows(Long.MinValue, Long.MaxValue, 10))
    assert(e.getMessage.contains(s"[${Long.MinValue}, ${Long.MaxValue})"), e.getMessage)
    // auto resolution: span 64, target 4 → pw=4 (16-wide buckets, 4 windows)
    val auto = s.autoWindows(0, 64, 4).collect()
    assert(auto.length == 4)
    val nb = s.nearest(32, backward = true).head()
    assert(nb.getLong(0) == 31L && nb.getDouble(1) == 31.0)

    // MVCC: delete a range, old version still whole
    val v2 = s.deleteRange(16, 48)
    assert(s.rawValues(0, 64).count() == 32)
    assert(s.rawValues(0, 64, version = Some(v1)).count() == 64)
    assert(TS.statsGlobal(s.points(), K).drop("uuid").head().getLong(3) == 32L)
    // as-of stat reads go through the same pinned handle read: the
    // later delete hides nothing at v1
    def counted(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum("v_count")).head().getLong(0)
    assert(counted(s.windows(0, 64, 16, version = Some(v1))) == 64L)
    assert(counted(s.windows(0, 64, 16)) == 32L)
    assert(TS.statsGlobal(s.points(Some(v1)), K).drop("uuid").head().getLong(3) == 64L)
    val ch = s.changes(v1, v2, 2).collect()
    assert(ch.length == 1 && ch.head.getLong(0) <= 16 && ch.head.getLong(1) >= 48)

    // rollup-backed stat read with delete invalidation: hierarchy built at
    // v1 (pre-delete) still answers the post-delete truth
    val ru = graft.ts.Rollup(spark, tmpDir("graftdb_rollup"), Seq(2, 4))
    ru.build(s.points(version = Some(v1)), Seq("uuid"))
    val fromRollup = s.alignedWindows(ru, 0, 64, 4, rollupBuiltAt = v1)
      .orderBy("w_start").collect()
    val directNow = s.alignedWindows(0, 64, 4).orderBy("w_start").collect()
    assert(fromRollup.map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4))).toSeq ==
      directNow.map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4))).toSeq)
    // inserts after the build are invalidated too (Store.changes covers
    // both directions) — no stale-next-to-fresh mixed-version answer
    s.insert(Seq((50L, 500.0), (51L, 501.0)).toDF("time", "value"))
    val afterIns = s.alignedWindows(ru, 0, 64, 4, rollupBuiltAt = v1)
      .orderBy("w_start").collect()
    val directIns = s.alignedWindows(0, 64, 4).orderBy("w_start").collect()
    assert(afterIns.map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4))).toSeq ==
      directIns.map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4))).toSeq)
    assert(directIns.exists(r => r.getDouble(3) == 501.0),
      "insert must actually change a window")

    // the TSDB extension operators compose off the handle's points (32
    // surviving originals + the 2 just-inserted points)
    val p = s.points()
    assert(TS.histogram(p, K, 0, 64, 16, 8.0).agg(sum("n")).head().getLong(0) == 34L)
    assert(TS.ewma(p, K, 0, 64, 16, 0.5).count() == s.windows(0, 64, 16).count())
    assert(TS.interpolate(p, K, 0, 64, 16).count() == 4)
    assert(TS.counterRate(p, K, 0, 64, 16).count() > 0)
    assert(Downsample.lttbAuto(p, K, 0, 64, 5).count() == 5)
    assert(TS.holtWinters(p, K, 0, 64, 16, 2, 0.5, 0.3, 0.4).count() ==
      s.windows(0, 64, 16).count())
    assert(TS.holtWintersForecast(p, K, 0, 64, 16, 2, 0.5, 0.3, 0.4, horizon = 3)
      .count() == 3)
    assert(TS.lagCorrelation(p, p, K, 0, 64, 16, Seq(0L, 48L)).count() == 2)
    assert(TS.bollingerBands(p, K, 0, 64, 16, 2, 2.0).count() ==
      s.windows(0, 64, 16).count())
    assert(TS.argMinMax(p, K, 0, 64, 16).count() == s.windows(0, 64, 16).count())
    // sketch percentiles: n << accuracy, so p50 is the exact nearest-rank
    // element of the 34 visible values {0..15, 48..63, 500, 501}
    val pap = TS.percentileWindowsApprox(p, K, 0, 64, 64, Seq(0.5)).drop("uuid").head()
    assert(pap.getLong(1) == 34L && pap.getDouble(2) == 48.0)
    // median of the 34 visible values (type-7 over {0..15, 48..63, 500, 501})
    val mad = TS.madWindows(p, K, 0, 64, 64).drop("uuid").head()
    assert(mad.getLong(1) == 34L && mad.getDouble(2) == 48.5)

    // annotations CAS
    val av = s.setAnnotations(1L, Map("calib" -> Some("x")))
    assert(av == 2L && s.annotations == Map("calib" -> "x"))

    // discovery
    assert(db.listCollections("plant/").count() == 1)
    assert(db.lookupStreams("plant/", Map("unit" -> "V")).count() == 1)

    // read-your-unflushed-writes through the handle: buffered rows show
    // in the merged raw + stat reads, flush promotes them
    val preN = s.rawValues(0, 64).count()
    s.insertBuffered(Seq((33L, 7.0)).toDF("time", "value"))
    assert(s.rawValues(0, 64).count() == preN)
    assert(s.rawValuesMerged(0, 64).count() == preN + 1)
    assert(s.windowsMerged(0, 64, 16).agg(sum("v_count")).head.getLong(0) == preN + 1)
    assert(s.versionMerged._2 == 1L)
    val vF = s.flush()
    assert(s.rawValues(0, 64).count() == preN + 1 && s.versionMerged == (vF, 0L))

    // obliterate: gone from data and metadata — AND from rollup-served
    // reads (the full-range tombstone must invalidate every window, not
    // vanish in align-up overflow)
    s.obliterate()
    assert(s.rawValues(0, 64).count() == 0)
    assert(db.lookupStreams("plant/").count() == 0)
    assert(s.alignedWindows(ru, 0, 64, 4, rollupBuiltAt = v1).count() == 0,
      "stale rollup must not serve an obliterated stream")
  }

  test("db.points(asOf) is the union of every stream's points(asOf)") {
    val db = GraftDB(spark, tmpDir("graftdb_points"))
    val hs = Seq("a", "b", "c").map { u =>
      val h = db.create(u, "pts/fleet")
      assert(h.insert((0L until 8L).map(t => (t * 10L, t.toDouble)).toDF("time", "value")) == 1L)
      h
    }
    val Seq(a, b, c) = hs
    a.insert(Seq((100L, 1.5)).toDF("time", "value"))
    b.deleteRange(20L, 50L)
    c.obliterate()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(db.points().columns.toSeq == Seq("uuid", "t_us", "value", "ver"))
    Seq(None, Some(1L)).foreach { asOf =>
      val fleet = rows(db.points(asOf))
      assert(fleet == hs.map(h => rows(h.points(asOf))).reduce(_ ++ _), s"asOf $asOf")
      // latest: a's 9 points, b's 5 outside [20, 50), nothing of c;
      // version 1: the three streams' first batches, whole
      assert(fleet.size == (if (asOf.isEmpty) 14 else 24), s"asOf $asOf: ${fleet.size}")
    }
    assert(rows(db.points()).map(_._1) == Set("a", "b"))
  }

  test("similarStreams over db.points ranks the matching stream above the inverted one") {
    val db = GraftDB(spark, tmpDir("graftdb_sim"))
    // q: ascending window means; c tracks q, i inverts it
    Seq("q" -> ((v: Long) => v), "c" -> ((v: Long) => v + 3),
        "i" -> ((v: Long) => 9 - v)).foreach { case (u, f) =>
      val h = db.create(u, "sim/fleet")
      h.insert((0L until 8L).map(t => (t * 8L, f(t).toDouble)).toDF("time", "value"))
    }
    val got = TS.similarStreams(db.points(), K, col("uuid") === "q", 0L, 64L, 16L, 5)
      .collect().map(r => (r.getString(0), r.getDouble(2), r.getLong(3))).toSeq
    assert(got == Seq(("c", 1.0, 1L), ("i", -1.0, 2L)), s"$got")
    // the pairwise family shares the same moment arithmetic: a shifted
    // copy correlates perfectly at lag 0 per coarse window and in the
    // lag sweep's aligned slot
    val wc = db.correlateWindowed(db.stream("q"), db.stream("c"), 0L, 64L, 8L, 32L)
      .collect().map(_.getDouble(2)).toSeq
    assert(wc.nonEmpty && wc.forall(_ == 1.0), s"$wc")
    val lc = db.lagCorrelate(db.stream("q"), db.stream("c"), 0L, 64L, 8L, Seq(0L))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(lc == Map(0L -> 1.0), s"$lc")
  }

  test("round-9 facade surface: dtw, motifs, peaks, change points") {
    val db = GraftDB(spark, tmpDir("graftdb_r9"))
    // q and its time-warped copy w (same shape, one-window stall);
    // f is flat — dtw must rank w above f
    Seq("q" -> Seq(1.0, 9.0, 1.0, 1.0, 9.0, 1.0),
        "w" -> Seq(1.0, 1.0, 9.0, 1.0, 9.0, 1.0),
        "f" -> Seq(5.0, 5.0, 5.0, 5.0, 5.0, 5.0)).foreach { case (u, vs) =>
      val h = db.create(u, "r9/fleet")
      h.insert(vs.zipWithIndex.map { case (v, i) => (i * 8L, v) }.toDF("time", "value"))
    }
    val dtw = Downsample.dtwSimilar(db.points(), K, col("uuid") === "q", 0L, 48L, 8L, 5)
      .collect().map(r => (r.getString(0), r.getLong(3))).toSeq
    assert(dtw == Seq(("w", 1L), ("f", 2L)), s"$dtw")
    // motif discovery over the fleet symbol streams returns subwords
    assert(Downsample.motifs(db.points(), K, 0L, 48L, 8L, 3, 10).count() > 0)
    // the spike window dominates its shoulders on q
    val pk = TS.peaks(db.stream("q").points(), K, 0L, 48L, 8L, 1, 0L).drop("uuid")
      .collect().map(_.getLong(0)).toSeq
    assert(pk == Seq(8L, 32L), s"$pk")
    // the step stream flags its level change exactly once
    val st = db.create("s", "r9/fleet")
    st.insert(Seq(1.0, 1.0, 1.0, 8.0, 8.0, 8.0).zipWithIndex
      .map { case (v, i) => (i * 8L, v) }.toDF("time", "value"))
    val cp = TS.changePoints(st.points(), K, 0L, 48L, 8L, 1, 1000000L).drop("uuid")
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(cp == Seq((24L, 7.0)), s"$cp") // (w_start, shift = 8 − 1)
  }

  test("continuation facade surface: savgol, boxplot, capacity, burn rate, seasonal z") {
    val db = GraftDB(spark, tmpDir("graftdb_r9c"))
    val h = db.create("c", "r9c/fleet")
    // a rising ramp: one point per 8-µs window, values 1..6
    h.insert((1 to 6).map(i => ((i - 1) * 8L, i.toDouble)).toDF("time", "value"))
    // savgol of a linear series is the series (interior windows)
    val sg = TS.savgol(h.points(), K, 0L, 48L, 8L).drop("uuid").orderBy("w_start").collect()
    assert(sg.length == 6 && sg(2).getDouble(2) == 3.0 && sg(3).getDouble(2) == 4.0)
    // boxplot of one window holding 1..6: q1=2.25, med=3.5, q3=4.75
    val bp = TS.boxplotWindows(h.points(), K, 0L, 48L, 48L).collect().head
    assert(bp.getDouble(bp.fieldIndex("p50")) == 3.5 &&
      bp.getLong(bp.fieldIndex("n_out_hi")) == 0L)
    // capacity: slope 1 per 8 µs = 125000/s; threshold 10 crossed at 72 µs
    val cf = TS.capacityForecast(h.points(), K, 0L, 48L, 10.0, 3600000000L).collect().head
    assert(cf.getLong(cf.fieldIndex("t_cross_us")) == 72L, cf.toString)
    // burn rate: bad = value > 4 → 2 bad of 6 in the one 48-µs window
    val br = TS.burnRate(h.points(), K, 0L, 48L, Seq(48L), col("value") > 4, 0.9)
      .collect().head
    assert(br.getLong(br.fieldIndex("n_bad")) == 2L)
    // seasonal z on the per-phase profile runs end to end (no flags on a
    // clean ramp at z ≥ 2 with singleton phases below minN)
    assert(TS.anomaliesSeasonal(h.points(), K, 2.0, bucketUs = 8L, periodBuckets = 2)
      .count() == 0)

    // db-level fleet/two-stream surface
    val h2 = db.create("c2", "r9c/fleet")
    h2.insert((1 to 6).map(i => ((i - 1) * 8L, 2.0 * i)).toDF("time", "value"))
    // c2 = 2·c: r(c, c2) = 1 in the matrix, exactly one pair row
    val xm = TS.xcorrMatrix(db.points(), K, 0L, 48L, 8L, topN = 2).collect()
    assert(xm.length == 1 && xm.head.getDouble(xm.head.fieldIndex("r")) == 1.0)
    // biggest mover at offset 8: c2 rises by 2 per window vs c's 1
    val mv = TS.topMovers(db.points(), K, 0L, 48L, 8L, 8L, k = 1).collect()
    assert(mv.length == 1 && mv.head.getString(0) == "c2")
    // ratio of the doubled stream over the base is exactly 2 everywhere
    val rt = db.ratio(h2, h, 0L, 48L, 8L).collect()
    assert(rt.length == 6 && rt.forall(_.getDouble(rt.head.fieldIndex("ratio")) == 2.0))
    // sequence detection: c fires, then c2 within the horizon → 1, 1
    val fs = db.funnelSteps(Seq(h, h2), 0L, 48L, 48L).orderBy("step").collect()
    assert(fs.map(_.getLong(2)).toSeq == Seq(1L, 1L), fs.mkString("; "))
  }
}
