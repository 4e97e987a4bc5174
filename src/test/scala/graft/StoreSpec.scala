package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.ts.{MetaStore, Rollup, Store, TimeSeriesOps}

/** MVCC semantics of the versioned point store — mirrors the reference's
  * Insert/Delete/version behavior (quasar_test.go patterns: insert, query
  * at old version, delete range, insert after delete).
  */
class StoreSpec extends SparkSuite {
  import spark.implicits._

  private def mkStore = Store(spark, tmpDir("store"))

  /** Spark jobs started by `body` on this thread. Every job it starts
    * carries a thread-local tag (Spark propagates local properties to the
    * jobs a query starts on other threads), and a tagged marker job after
    * it flushes the listener bus in order, so the count is exact without
    * any internal bus-drain API.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val starts = new LinkedBlockingQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("jobsDuring") == tag)
          .foreach(p => starts.put(Option(p.getProperty("marker")).getOrElse("")))
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("jobsDuring", tag)
    try {
      body
      sc.setLocalProperty("marker", "end")
      sc.parallelize(Seq(1), 1).count()
      Iterator.continually(starts.poll(30, TimeUnit.SECONDS))
        .takeWhile { m => assert(m != null, "marker job never reached the listener"); m != "end" }
        .size
    } finally {
      sc.setLocalProperty("marker", null)
      sc.setLocalProperty("jobsDuring", null)
      sc.removeSparkListener(listener)
    }
  }

  test("insert bumps version; reads at old version are stable") {
    val st = mkStore
    val v1 = st.insert("s1", Seq((10L, 1.0), (20L, 2.0)).toDF("time", "value"))
    val v2 = st.insert("s1", Seq((30L, 3.0)).toDF("time", "value"))
    assert(v1 == 1 && v2 == 2)
    assert(st.rawValues("s1", 0, 100, Some(v1)).count() == 2)
    assert(st.rawValues("s1", 0, 100, Some(v2)).count() == 3)
    assert(st.rawValues("s1", 0, 100).count() == 3)
  }

  test("an empty insert holds its version: 1, 2, 3 with version agreeing after each") {
    val st = mkStore
    val got = Seq(Seq((10L, 1.0)), Seq.empty[(Long, Double)], Seq((20L, 2.0))).map { rows =>
      val v = st.insert("s", rows.toDF("time", "value"))
      assert(st.version("s") == v, s"version ${st.version("s")} after insert returned $v")
      v
    }
    assert(got == Seq(1L, 2L, 3L))
    // the empty insert's hull is empty: it invalidates nothing
    assert(st.hullsSince("s", 1L) == Seq((20L, 21L)))
    assert(st.rawValues("s", 0L, 100L).count() == 2)
  }

  test("stream ids holding path characters keep claim logs of their own inside the store") {
    val base = tmpDir("store_ids")
    val st = Store(spark, base)
    val ids = Seq("a", "a/b", "..", "a.b", "x y%")
    ids.foreach(u => st.insert(u, Seq((1L, 1.0)).toDF("time", "value")))
    st.insert("a/b", Seq((2L, 2.0)).toDF("time", "value"))
    assert(st.versionsFor(ids) == Map("a" -> 1L, "a/b" -> 2L, ".." -> 1L, "a.b" -> 1L, "x y%" -> 1L))
    assert(new java.io.File(base).list().forall(_.toLongOption.isEmpty), "a claim escaped the log")
    st.compact()
    assert(st.versionsFor(ids) == Map("a" -> 1L, "a/b" -> 2L, ".." -> 1L, "a.b" -> 1L, "x y%" -> 1L))
    assert(st.hullsSince("a/b", 0L) == Seq((1L, 3L)))
  }

  test("racing inserts into one stream each take a distinct version") {
    val st = mkStore
    val n = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val vers = try scala.concurrent.Await.result(scala.concurrent.Future.sequence(
        (1 to n).map(i => scala.concurrent.Future(st.insert("s", Seq((i.toLong, i.toDouble))
          .toDF("time", "value"))))), scala.concurrent.duration.Duration(5, "min"))
      finally pool.shutdown()
    assert(vers.sorted == (1L to n).toSeq && st.version("s") == n)
    // no version is shared by two writes: each ver holds exactly one write's point
    val perVer = st.rawPoints.groupBy($"ver").agg(count(lit(1)).as("n"), min($"time").as("t"))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(perVer.map(_._1) == (1L to n).toSeq && perVer.forall(_._2 == 1), s"$perVer")
    // a batch write at a version another writer holds fails before writing
    val e = intercept[java.util.ConcurrentModificationException](
      st.insertBatchAt(Seq(("s", 99L, 9.0), ("t", 1L, 1.0)).toDF("uuid", "time", "value"),
        Seq(Store.Write("t", 1L, 1L, 2L), Store.Write("s", 2L, 99L, 100L))))
    assert(e.getMessage.contains("already claimed"), e.getMessage)
    assert(st.version("t") == 0 && st.rawPoints.count() == n, "the lost batch left a trace")
  }

  test("a claim whose write never ran takes its number, shows no point, invalidates the rollup") {
    val base = tmpDir("store_crash")
    val db = GraftDB(spark, base)
    val h = db.stream("s")
    val pts = (0L until 64L).map(t => (t, t.toDouble)).toDF("time", "value")
    assert(h.insert(pts) == 1L)
    // a rollup built at v1 whose levels are stale: every value doubled, so
    // a window served from the level and not recomputed shows it
    val ru = Rollup(spark, tmpDir("store_crash_rollup"), Seq(2, 4))
    ru.build(h.points().withColumn("value", col("value") * 2), Seq("uuid"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("w_start").collect().toSeq
    val raw = rows(h.alignedWindows(0L, 64L, 4))
    assert(rows(h.alignedWindows(ru, 0L, 64L, 4, rollupBuiltAt = 1L)) != raw,
      "the stale rollup must serve stale windows while nothing invalidates them")
    // the writer of v2 died after its claim, before its data job; a claim
    // is not a commit, so the version a reader pins stays at 1
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$base/_log/s/2"))
    assert(h.version == 1L && db.store.versionsFor(Seq("s")) == Map("s" -> 1L))
    assert(h.rawValues(0L, 100L).count() == 64 && db.store.rawPoints.count() == 64)
    assert(db.store.hullsSince("s", 1L) == Seq((Long.MinValue, Long.MaxValue)))
    assert(rows(h.alignedWindows(ru, 0L, 64L, 4, rollupBuiltAt = 1L)) == raw)
    assert(h.insert(Seq((70L, 7.0)).toDF("time", "value")) == 3L && h.version == 3L)
  }

  test("a write in flight moves neither the version nor a rollup built meanwhile") {
    val base = tmpDir("store_inflight")
    val db = GraftDB(spark, base)
    val h = db.stream("s")
    assert(h.insert((0L until 64L).map(t => (t, t.toDouble)).toDF("time", "value")) == 1L)
    // v2's data job waits inside its write until the test lets it go
    val hold = udf { (v: Double) => InFlight.started.countDown(); InFlight.go.await(2, TimeUnit.MINUTES); v }
    val slow = (0L until 64L by 2L).map(t => (t, 100.0)).toDF("time", "value")
      .withColumn("value", hold(col("value")))
    val writer = scala.concurrent.Future(h.insert(slow))(scala.concurrent.ExecutionContext.global)
    try {
      assert(InFlight.started.await(2, TimeUnit.MINUTES), "the write never started")
      assert(h.version == 1L && h.points(Some(h.version)).count() == 64)
      // a rollup built now, at the version read before the build
      val builtAt = h.version
      val ru = Rollup(spark, tmpDir("store_inflight_rollup"), Seq(2, 4))
      ru.build(h.points(), Seq("uuid"))
      InFlight.go.countDown()
      assert(scala.concurrent.Await.result(writer, scala.concurrent.duration.Duration(2, "min")) == 2L)
      assert(h.version == 2L && h.points(Some(builtAt)).count() == 64 && h.points().count() == 96)
      def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("w_start").collect().toSeq
      assert(rows(h.alignedWindows(ru, 0L, 64L, 4, rollupBuiltAt = builtAt)) ==
        rows(h.alignedWindows(0L, 64L, 4)), "the rollup missed the write that was in flight")
    } finally InFlight.go.countDown()
  }

  test("single-stream reads join tombstones only when a delete can hide a point") {
    val st = mkStore
    st.insert("a", (1L to 10L).map(t => (t, t.toDouble)).toDF("time", "value"))
    st.insert("b", (1L to 10L).map(t => (t, t.toDouble)).toDF("time", "value"))
    val vDel = st.deleteRange("b", 3L, 7L)
    st.insert("b", Seq((5L, 50.0)).toDF("time", "value"))
    def joins(df: org.apache.spark.sql.DataFrame) = df.queryExecution.optimizedPlan
      .collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.size
    assert(joins(st.rawValues("a", 0L, 100L)) == 0 && joins(st.streamAt("a")) == 0)
    assert(joins(st.rawValues("b", 0L, 100L)) == 1 && joins(st.streamAt("b")) == 1)
    // below the delete's version no tombstone can hide anything either
    assert(joins(st.rawValues("b", 0L, 100L, Some(vDel - 1))) == 0)
    assert(st.rawValues("a", 0L, 100L).count() == 10)
    assert(st.rawValues("b", 0L, 100L).count() == 7)
    assert(st.rawValues("b", 0L, 100L, Some(vDel - 1)).count() == 10)
  }

  test("compact folds each stream's claims into one: versions, invalidation and the tombstone skip hold") {
    val base = tmpDir("store_fold")
    val st = Store(spark, base)
    st.insert("a", (1L to 10L).map(t => (t, t.toDouble)).toDF("time", "value"))  // a@1
    st.insert("a", (20L to 30L).map(t => (t, t.toDouble)).toDF("time", "value")) // a@2
    st.insert("b", (1L to 10L).map(t => (t, t.toDouble)).toDF("time", "value"))  // b@1
    st.deleteRange("b", 3L, 7L)                                                  // b@2
    st.insert("b", Seq((40L, 4.0)).toDF("time", "value"))                        // b@3
    def logged(u: String) = new java.io.File(s"$base/_log/$u").list().count(_.toLongOption.isDefined)
    assert(logged("a") == 2 && logged("b") == 3)
    val before = Seq("a", "b").map(u => st.rawValues(u, 0L, 100L).collect().toSeq.sortBy(_.getLong(0)))
    st.compact()
    assert(logged("a") == 1 && logged("b") == 1)
    assert(st.version("a") == 2 && st.version("b") == 3)
    assert(Seq("a", "b").map(u => st.rawValues(u, 0L, 100L).collect().toSeq.sortBy(_.getLong(0))) == before)
    // the folded hull is the union: a rollup built at any earlier version
    // still sees every range changed since
    assert(st.hullsSince("a", 0L) == Seq((1L, 31L)) && st.hullsSince("a", 1L) == Seq((1L, 31L)))
    assert(st.hullsSince("b", 1L) == Seq((1L, 41L)) && st.hullsSince("b", 3L).isEmpty)
    // the never-deleted stream still reads without the tombstone join
    def joins(df: org.apache.spark.sql.DataFrame) = df.queryExecution.optimizedPlan
      .collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.size
    assert(joins(st.rawValues("a", 0L, 100L)) == 0)
    // and numbering continues above the fold; a delete after it joins again
    assert(st.insert("a", Seq((50L, 5.0)).toDF("time", "value")) == 3L)
    assert(st.deleteRange("b", 0L, 2L) == 4L && st.rawValues("b", 0L, 100L).count() == 6)
    assert(joins(st.rawValues("a", 0L, 100L)) == 0 && joins(st.rawValues("b", 0L, 100L)) == 1)
  }

  test("a base written before the claim log serves: versions seeded once, next insert follows") {
    val base = tmpDir("store_legacy")
    val db = GraftDB(spark, base)
    db.create("a", "fleet/x")
    val h = db.stream("a")
    h.insert((0L until 64L).map(t => (t, t.toDouble)).toDF("time", "value")) // a@1
    h.deleteRange(8L, 12L)                                                     // a@2
    h.insert(Seq((100L, 1.0)).toDF("time", "value"))                          // a@3
    db.store.insertBatch(Seq(("b", 1L, 1.0)).toDF("uuid", "time", "value"))    // b@1
    val ru = Rollup(spark, s"$base/rollup", Seq(2, 4))
    ru.build(h.points(), Seq("uuid"))
    // the layout before the log: no claim logs, no recorded level schema
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    Seq("_log", "_meta_log", "rollup/_level_schema").foreach(d => rm(new java.io.File(s"$base/$d")))
    val old = GraftDB(spark, base)
    val oh = old.stream("a")
    assert(oh.version == 3L && old.store.versionsFor(Seq("a", "b", "c")) == Map("a" -> 3L, "b" -> 1L))
    // seeded floors hide nothing they should not, and invalidate every range
    assert(oh.rawValues(0L, 200L).count() == 61)
    // a floor stands for every version below it: reads there join tombstones too
    assert(oh.rawValues(0L, 200L, Some(2L)).count() == 60)
    assert(old.store.hullsSince("b", 0L) == Seq((Long.MinValue, Long.MaxValue)))
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("w_start").collect().toSeq
    val ru2 = Rollup(spark, s"$base/rollup", Seq(2, 4))
    assert(rows(oh.alignedWindows(ru2, 0L, 128L, 4, rollupBuiltAt = 3L)) ==
      rows(oh.alignedWindows(0L, 128L, 4)))
    assert(oh.insert(Seq((120L, 2.0)).toDF("time", "value")) == 4L)
    assert(old.store.nextWrites(Seq(("b", 2L, 2.0)).toDF("uuid", "time", "value"))
      .map(w => w.uuid -> w.ver) == Seq("b" -> 2L))
    // and the descriptor revisions continue: create is refused, the CAS holds
    intercept[IllegalArgumentException](old.create("a", "fleet/y"))
    assert(oh.setAnnotations(1L, Map("k" -> Some("v"))) == 2L)
  }

  test("a value outside the us6 domain fails every write path and leaves no trace") {
    val st = mkStore
    st.insert("s", Seq((10L, 1.0)).toDF("time", "value"))
    def failsNamingDomain(write: => Unit): Unit = {
      val e = intercept[Exception](write)
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString("\n")
      assert(msgs.contains("outside the domain of graft.Quant.us6"), msgs)
    }
    for (v <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 9.3e12, -9.3e12)) {
      val rows = Seq((20L, 2.0), (30L, v)).toDF("time", "value")
      failsNamingDomain(st.insert("s", rows))
      failsNamingDomain(st.insertBatchAt(rows.withColumn("uuid", lit("s")), Seq(Store.Write("s", 2L, 20L, 31L))))
      failsNamingDomain(st.insertBuffered("s", rows))
      assert(st.version("s") == 1 && st.rawPoints.count() == 1 &&
        st.bufferedPoints.count() == 0, s"value $v left a trace")
    }
    // the domain's edge stores, and a statpoint read of it sums exactly
    assert(st.insert("s", Seq((40L, 9.2e12), (50L, -9.2e12)).toDF("time", "value")) == 2)
    val w = TimeSeriesOps.windows(
      st.streamAt("s").select(col("uuid"), col("time").as("t_us"), col("value")),
      Seq("uuid"), 0L, 64L, 64L).collect()
    assert(w.length == 1 && w(0).getDouble(2) == -9.2e12 && w(0).getDouble(4) == 9.2e12 &&
      w(0).getLong(5) == 3 && w(0).getDouble(3) == 0.333333)
  }

  test("buffered writes are read-your-unflushed; flush promotes and clears") {
    val st = mkStore
    val v1 = st.insert("s1", Seq((10L, 1.0), (20L, 2.0)).toDF("time", "value"))
    st.insertBuffered("s1", Seq((30L, 3.0)).toDF("time", "value"))
    st.insertBuffered("s1", Seq((40L, 4.0), (45L, 4.5)).toDF("time", "value"))
    // merged reads see the buffer immediately; committed reads do not
    assert(st.rawValuesMerged("s1", 0, 100).count() == 5)
    assert(st.rawValues("s1", 0, 100).count() == 2)
    // two-part version: major unchanged, minor counts buffered insert
    // CALLS (the reference's journal-insert unit), not rows — two calls
    // carrying three rows report minor = 2
    assert(st.version("s1") == v1)
    assert(st.versionMerged("s1") == (v1, 2L))
    // other streams see nothing
    assert(st.rawValuesMerged("s2", 0, 100).count() == 0)
    // flush promotes to ONE committed batch and empties the buffer
    val v2 = st.flush("s1")
    assert(v2 == v1 + 1)
    assert(st.rawValues("s1", 0, 100).count() == 5)
    assert(st.versionMerged("s1") == (v2, 0L))
    // historical read at v1 excludes the promoted rows (version pinning
    // bypasses the buffer, like the reference's versioned queries)
    assert(st.rawValues("s1", 0, 100, Some(v1)).count() == 2)
    // an empty-buffer flush stays the version probe it always was
    assert(st.flush("s1") == v2)
    // obliterate drops the buffer too: unflushed rows must not resurrect
    st.insertBuffered("s1", Seq((50L, 5.0)).toDF("time", "value"))
    st.obliterate("s1")
    st.flush("s1")
    assert(st.rawValues("s1", 0, 100).count() == 0)
    assert(st.rawValuesMerged("s1", 0, 100).count() == 0)
  }

  test("range delete hides only prior points; insert-after-delete visible") {
    val st = mkStore
    val v1 = st.insert("s1", (1L to 10L).map(t => (t, t.toDouble)).toDF("time", "value"))
    val v2 = st.deleteRange("s1", 3L, 7L) // hides 3,4,5,6
    assert(st.rawValues("s1", 0, 100).count() == 6)
    assert(st.rawValues("s1", 0, 100, Some(v1)).count() == 10) // time travel
    val v3 = st.insert("s1", Seq((4L, 40.0)).toDF("time", "value"))
    val visible = st.rawValues("s1", 0, 100, Some(v3)).collect().map(r => r.getLong(0)).sorted
    assert(visible.toSeq == Seq(1L, 2L, 4L, 7L, 8L, 9L, 10L))
    assert(st.version("s1") == 3)
  }

  test("obliterate hides the whole stream; other streams untouched") {
    val st = mkStore
    st.insert("a", Seq((1L, 1.0)).toDF("time", "value"))
    st.insert("b", Seq((1L, 1.0)).toDF("time", "value"))
    st.obliterate("a")
    assert(st.rawValues("a", Long.MinValue, Long.MaxValue).count() == 0)
    assert(st.rawValues("b", 0, 100).count() == 1)
  }

  test("copyRange moves a pinned source range into another store and uuid") {
    val src = mkStore
    val v1 = src.insert("s1", (1L to 10L).map(t => (t, t.toDouble)).toDF("time", "value"))
    src.insert("s1", Seq((5L, 50.0)).toDF("time", "value")) // after the pin
    val dst = mkStore
    dst.insert("d1", Seq((4L, -4.0), (40L, -40.0)).toDF("time", "value"))
    // deleteFirst clears ONLY the copied range at the dest; the copy is
    // the source's visible view at v1 (the later 50.0 must not arrive)
    val v = src.copyRange("s1", dst, "d1", 3L, 7L, deleteFirst = true, asOf = Some(v1))
    val got = dst.rawValues("d1", Long.MinValue, Long.MaxValue, Some(v))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(got == Seq((3L, 3.0), (4L, 4.0), (5L, 5.0), (6L, 6.0), (40L, -40.0)), s"$got")
    // same-store, same-uuid self-copy (copy.go's dstuuid = "same"):
    // idempotent refresh of a range from a pinned snapshot
    val v2 = src.copyRange("s1", src, "s1", 3L, 7L, deleteFirst = true, asOf = Some(v1))
    val self = src.rawValues("s1", 0L, 100L, Some(v2)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(self == (1L to 10L).map(t => (t, t.toDouble)), s"$self")
  }

  test("version discovery is bounded: an over-wide batch fails loudly") {
    // the per-batch uuid->version map is driver-resident by contract;
    // beyond maxBatchStreams the collect must refuse, not grow the heap
    val st = Store(spark, tmpDir("store_cap"), maxBatchStreams = 2)
    val ok = Seq(("a", 1L, 1.0), ("b", 2L, 2.0)).toDF("uuid", "time", "value")
    st.insertBatch(ok) // 2 streams: at the bound, fine
    assert(st.rawPoints.count() == 2)
    val wide = Seq(("a", 3L, 3.0), ("b", 4L, 4.0), ("c", 5L, 5.0))
      .toDF("uuid", "time", "value")
    val e = intercept[IllegalArgumentException] { st.insertBatch(wide) }
    assert(e.getMessage.contains("distinct streams"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      st.versionsFor(Seq("a", "b", "c")) }
    assert(e2.getMessage.contains("distinct streams"), e2.getMessage)
    // the bound is on DISTINCT streams: a duplicate-heavy list whose
    // distinct count fits must pass, not trip the guard early
    assert(st.versionsFor(Seq("a", "a", "b", "a", "b")).keySet == Set("a", "b"))
    // the store itself is NOT bounded: the same wide batch commits fine
    // on a store with the default contract
    val st2 = Store(spark, tmpDir("store_cap2"))
    st2.insertBatch(wide)
    assert(st2.rawPoints.count() == 3)
  }

  test("unpinned same-uuid copyRange with deleteFirst keeps the range") {
    // the source read is lazy and only runs inside the insert — without
    // pinning "latest" to the pre-delete version, the self-copy would see
    // its own fresh tombstone and silently copy zero points
    val st = mkStore
    st.insert("s1", (1L to 10L).map(t => (t, t.toDouble)).toDF("time", "value"))
    val v = st.copyRange("s1", st, "s1", 3L, 7L, deleteFirst = true, asOf = None)
    val got = st.rawValues("s1", 0L, 100L, Some(v)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(got == (1L to 10L).map(t => (t, t.toDouble)), s"$got")
  }

  test("changes reports inserted and deleted ranges, merged at resolution") {
    val st = mkStore
    val v1 = st.insert("s1", Seq((100L, 1.0), (101L, 1.0), (5000L, 2.0)).toDF("time", "value"))
    val v2 = st.deleteRange("s1", 4000L, 6000L)
    val ch = st.changes("s1", 0, v2, 4).orderBy("c_start").collect()
    // res=16: points at 96..112 merge into one range; delete covers 4000-6000
    assert(ch.length == 2)
    assert(ch(0).getLong(0) == 96L && ch(0).getLong(1) == 112L)
    assert(ch(1).getLong(0) <= 4000L && ch(1).getLong(1) >= 6000L)
    // between v1 and v2 only the delete range changed
    assert(st.changes("s1", v1, v2, 4).count() == 1)
  }

  test("compact preserves visible data and drops dead rows") {
    val st = mkStore
    st.insert("s1", (1L to 100L).map(t => (t, t.toDouble)).toDF("time", "value"))
    st.deleteRange("s1", 1L, 51L)
    val before = st.rawValues("s1", 0, 1000).collect().map(_.getLong(0)).sorted
    st.compact()
    val after = st.rawValues("s1", 0, 1000).collect().map(_.getLong(0)).sorted
    assert(before.toSeq == after.toSeq && after.length == 50)
    assert(st.rawPoints.count() == 50) // dead rows physically gone
  }

  test("compact prunes spent tombstones but keeps the version floor") {
    val st = mkStore
    st.insert("s1", (1L to 10L).map(t => (t, t.toDouble)).toDF("time", "value"))
    st.deleteRange("s1", 1L, 6L)   // spent after compact (dead rows dropped)
    st.insert("s1", Seq((100L, 1.0)).toDF("time", "value"))
    st.insert("s2", Seq((1L, 1.0)).toDF("time", "value"))
    val v2 = st.deleteRange("s2", 0L, 10L) // s2's LATEST op is a delete
    st.compact()
    // s1's tombstone (ver 2 < max point ver 3) is gone; s2's survives as
    // the version floor
    assert(st.tombstones.filter($"uuid" === "s1").count() == 0)
    assert(st.tombstones.filter($"uuid" === "s2").count() == 1)
    // version numbering never regresses: next insert on s2 must be > v2
    val v3 = st.insert("s2", Seq((20L, 2.0)).toDF("time", "value"))
    assert(v3 == v2 + 1)
    assert(st.rawValues("s2", 0, 100).count() == 1) // new point visible
    // and visibility across all streams is unchanged
    assert(st.rawValues("s1", 0, 1000).count() == 6)
  }

  test("a compact crashed mid-swap recovers: reads see data, re-compact keeps it") {
    val base = tmpDir("store")
    val st = Store(spark, base)
    st.insert("s1", (1L to 20L).map(t => (t, t.toDouble)).toDF("time", "value"))
    st.deleteRange("s1", 1L, 6L)
    // simulate dying between `dst.renameTo(old)` and `tmp.renameTo(dst)`:
    // live dirs gone, *_old holds the only copy
    assert(new java.io.File(s"$base/points")
      .renameTo(new java.io.File(s"$base/points_old")))
    assert(new java.io.File(s"$base/tombstones")
      .renameTo(new java.io.File(s"$base/tombstones_old")))
    // read path self-heals instead of seeing an empty store
    assert(st.rawValues("s1", 0, 100).count() == 15)
    // and a subsequent compact must not destroy the recovered data
    val st2 = Store(spark, base)
    assert(new java.io.File(s"$base/points")
      .renameTo(new java.io.File(s"$base/points_old")))
    st2.compact()
    assert(st2.rawValues("s1", 0, 100).count() == 15)
    assert(st2.rawPoints.count() == 15) // dead rows dropped by the compact
  }

  test("insertBatch gives each stream its own version bump in one job") {
    val st = mkStore
    st.insert("a", Seq((1L, 1.0)).toDF("time", "value")) // a at v1
    st.insertBatch(Seq(("a", 2L, 2.0), ("b", 1L, 1.0), ("b", 2L, 2.0))
      .toDF("uuid", "time", "value"))
    assert(st.version("a") == 2 && st.version("b") == 1)
    assert(st.rawValues("a", 0, 100, Some(1L)).count() == 1) // time travel intact
    assert(st.rawValues("a", 0, 100).count() == 2)
    assert(st.rawValues("b", 0, 100).count() == 2)
    // the three version readers agree whether a stream's newest operation
    // is an insert (a at v3) or a delete (b at v2); c has neither
    st.insert("a", Seq((3L, 3.0)).toDF("time", "value"))
    st.deleteRange("b", 0L, 2L)
    assert(Seq("a", "b", "c").map(st.version) == Seq(3L, 2L, 0L))
    assert(st.versionsFor(Seq("a", "b", "c")) == Map("a" -> 3L, "b" -> 2L))
    val probe = Seq("a", "b", "c").map(u => (u, 0L, 0.0)).toDF("uuid", "time", "value")
    assert(st.nextWrites(probe).map(w => w.uuid -> w.ver).toMap == Map("a" -> 4L, "b" -> 3L, "c" -> 1L))
  }

  test("rawPoints and tombstones read one declared schema before and after the first write") {
    val base = tmpDir("store_schema")
    val st = Store(spark, base)
    val (p0, t0) = (st.rawPoints.schema, st.tombstones.schema)
    assert(p0 == Store.PointsSchema && t0 == Store.TombstonesSchema)
    // the write buffer too: absent, written and drained read one schema
    val b0 = st.bufferedPoints.schema
    assert(b0.fieldNames.toSeq == Seq("uuid", "time", "value"))
    st.insertBuffered("c", Seq((5L, 2.0)).toDF("time", "value"))
    assert(st.bufferedPoints.schema == b0, st.bufferedPoints.schema.simpleString)
    st.flush("c")
    assert(st.bufferedPoints.schema == b0, st.bufferedPoints.schema.simpleString)
    st.insertBatch(Seq(("a", 1L, 1.0)).toDF("uuid", "time", "value"))
    st.deleteRange("a", 0L, 1L)
    assert(st.rawPoints.schema == p0, st.rawPoints.schema.simpleString)
    assert(st.tombstones.schema == t0, st.tombstones.schema.simpleString)
    // the declared constants ARE what the store writes: footer inference
    // over the written files finds exactly those columns and types
    assert(spark.read.parquet(s"$base/points").schema == Store.PointsSchema)
    assert(spark.read.parquet(s"$base/tombstones").schema == Store.TombstonesSchema)
  }

  test("store and descriptor reads plan without starting a Spark job") {
    val base = tmpDir("store_plan")
    val st = Store(spark, base)
    st.insertBatch(Seq(("a", 1L, 1.0), ("b", 2L, 2.0)).toDF("uuid", "time", "value"))
    st.deleteRange("a", 0L, 2L)
    val meta = MetaStore(spark, base)
    meta.create("a", "fleet/x", Map("unit" -> "V"))
    val ru = Rollup(spark, tmpDir("store_plan_rollup"), Seq(2, 4))
    ru.build(st.pointsAt(None).withColumnRenamed("time", "t_us"), Seq("uuid"))
    val db = GraftDB(spark, base)
    val storeJobs = jobsDuring {
      st.rawValues("b", 0L, 10L).queryExecution.executedPlan
      st.pointsAt(None).queryExecution.executedPlan
      assert(st.version("a") == 2L && st.versionsFor(Seq("a", "b")) == Map("a" -> 2L, "b" -> 1L))
      db.stream("b").alignedWindows(ru, 0L, 64L, 4, rollupBuiltAt = 1L).queryExecution.executedPlan
      db.stream("a").alignedWindows(ru, 0L, 64L, 4, rollupBuiltAt = 1L).queryExecution.executedPlan
    }
    assert(storeJobs == 0, s"planning store reads started $storeJobs jobs")
    val metaJobs =
      jobsDuring(meta.lookup("fleet", Map("unit" -> "V")).queryExecution.executedPlan)
    assert(metaJobs == 0, s"planning a descriptor lookup started $metaJobs jobs")
    // the bracket does count: one collect is at least one job
    assert(jobsDuring(st.rawValues("b", 0L, 10L).collect()) >= 1)
    assert(st.rawValues("a", 0L, 10L).count() == 0 && st.rawValues("b", 0L, 10L).count() == 1)
    assert(meta.lookup("fleet", Map("unit" -> "V")).count() == 1)
  }

  test("incremental export applied to a snapshot reproduces the target version") {
    val st = mkStore
    st.insert("a", (0L until 10L).map(t => (t, t.toDouble)).toDF("time", "value")) // v1
    st.insert("b", Seq((0L, 7.0)).toDF("time", "value")) // b@v1
    st.insert("c", Seq((4L, 4.0)).toDF("time", "value")) // c@v1
    val snapDir = tmpDir("inc_base")
    st.snapshot(snapDir, Some(1L))
    st.deleteRange("a", 0L, 3L)                                   // a@v2: pure delete
    st.obliterate("c")                                            // c@v2: full range
    st.insert("a", Seq((20L, 20.0), (21L, 21.0)).toDF("time", "value")) // a@v3
    st.insert("b", Seq((5L, 5.0)).toDF("time", "value"))          // b@v2
    val expDir = tmpDir("inc_delta")
    st.exportChanges(expDir, 1L, 3L, res = 1)
    // apply: base rows outside every manifest range + exported rows
    val base = spark.read.parquet(snapDir).select("uuid", "time", "value")
    val ranges = spark.read.parquet(s"$expDir/ranges")
    val delta = spark.read.parquet(s"$expDir/points").select("uuid", "time", "value")
    val applied = base.join(ranges,
        base("uuid") === ranges("uuid") &&
          base("time") >= ranges("c_start") && base("time") < ranges("c_end"),
        "left_anti")
      .unionByName(delta)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val want = st.pointsAt(Some(3L)).select("uuid", "time", "value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(applied == want, s"applied=$applied want=$want")
    // the pure delete arrived as a manifest range with no rows under it
    assert(ranges.filter(col("uuid") === "a" && col("c_start") === 0L).count() > 0)
    assert(delta.filter(col("uuid") === "a" && col("time") < 3L).count() == 0)
    // the manifest and the per-stream version diff are one answer,
    // including the obliterate's saturated full-range tombstone
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("c_start", "c_end").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    for (u <- Seq("a", "b", "c"))
      assert(pairs(ranges.filter(col("uuid") === u)) == pairs(st.changes(u, 1L, 3L, 1)), u)
    assert(pairs(st.changes("c", 1L, 3L, 1)) == Seq((Long.MinValue, Long.MaxValue)))
  }

  test("snapshot exports the pinned visible view; later deletes don't reach it") {
    val st = mkStore
    st.insert("a", (0L until 10L).map(t => (t, t.toDouble)).toDF("time", "value"))
    val v1 = st.deleteRange("a", 0L, 3L) // visible now: t in [3, 10)
    val out = tmpDir("store_snap")
    st.snapshot(out, Some(v1))
    st.deleteRange("a", 5L, 10L) // after the snapshot — must not appear in it
    val snap = spark.read.parquet(out)
    assert(snap.columns.sorted.toSeq == Seq("tb", "time", "ub", "uuid", "value"))
    val times = snap.select("time").collect().map(_.getLong(0)).sorted.toSeq
    assert(times == (3L until 10L).toSeq, s"$times")
    // and the live store DID move on
    assert(st.rawValues("a", 0, 100).count() == 2)
  }
}

/** The latches a write held in flight waits on (task code reaches them
  * statically, so nothing of the suite is serialized with it).
  */
object InFlight {
  val started = new java.util.concurrent.CountDownLatch(1)
  val go = new java.util.concurrent.CountDownLatch(1)
}
