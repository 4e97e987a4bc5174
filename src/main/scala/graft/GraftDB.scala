package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ts.{MetaStore, Store, TimeSeriesOps => TS}

/** The reference's client API shape, Spark-native: connect to a base path,
  * create/look up streams, then query per-stream handles — the surface a
  * btrdb-server user actually programs against (its Go/Python bindings:
  * Create, StreamFromUUID, InsertTV, RawValues, AlignedWindows, Windows,
  * Nearest, Changes, Version, DeleteRange, Obliterate, ListCollections,
  * LookupStreams).
  *
  * Everything returns DataFrames (lazy plans): a handle query can be
  * composed into bigger Spark jobs, joined with other tables, or fanned
  * out over many streams — the thing an RPC-per-stream client can't do.
  * Writes go through Store (MVCC append log) and MetaStore (descriptor
  * CAS log); reads prune on the store's (ub, tb) partition layout.
  */
class GraftDB(val spark: SparkSession, val base: String) {
  val meta = MetaStore(spark, base)
  val store = Store(spark, base)

  /** Create(uuid, collection, tags, annotations) → handle. */
  def create(uuid: String, collection: String, tags: Map[String, String] = Map.empty,
             annotations: Map[String, String] = Map.empty): StreamHandle = {
    meta.create(uuid, collection, tags, annotations)
    new StreamHandle(uuid)
  }

  /** StreamFromUUID — handle for an existing stream. */
  def stream(uuid: String): StreamHandle = new StreamHandle(uuid)

  def listCollections(prefix: String = ""): DataFrame =
    meta.descriptors.select(col("collection")).distinct()
      .filter(col("collection").startsWith(prefix))

  def lookupStreams(collectionPrefix: String,
                    tags: Map[String, String] = Map.empty): DataFrame =
    meta.lookup(collectionPrefix, tags)

  /** As-of join of two stream handles: latest b-value at each a-point,
    * optionally bounded by a staleness tolerance.
    */
  def asof(a: StreamHandle, b: StreamHandle,
           toleranceUs: Option[Long] = None): DataFrame =
    TS.asofJoin(
      a.points().withColumn("k", lit(1)),
      b.points().withColumn("k", lit(1)), Seq("k"),
      toleranceUs = toleranceUs).drop("k")

  /** Pearson correlation between two streams' aligned window-mean series
    * (TimeSeriesOps.correlation under a constant pair key).
    */
  def correlate(a: StreamHandle, b: StreamHandle, start: Long, end: Long,
                width: Long): DataFrame =
    TS.correlation(
      a.points().withColumn("k", lit(1)),
      b.points().withColumn("k", lit(1)), Seq("k"), start, end, width).drop("k")

  /** Time-series similarity search across the whole store: rank every
    * stream by Pearson r of its window-mean series against the query
    * handle's (TimeSeriesOps.similarStreams — one scan of the visible
    * store + a broadcast of the query series, TakeOrdered top-k).
    */
  def similar(query: StreamHandle, start: Long, end: Long, width: Long,
              k: Int): DataFrame =
    TS.similarStreams(store.pointsAt(None).withColumnRenamed("time", "t_us"),
      Seq("uuid"), col("uuid") === query.uuid, start, end, width, k)

  /** DTW shape search across the whole store: rank every stream by
    * Dynamic Time Warping distance of its PAA profile to the query
    * handle's (Downsample.dtwSimilar — warping-tolerant where similar()
    * is phase-rigid; exact integer DP, broadcast query, TakeOrdered).
    */
  def similarDtw(query: StreamHandle, start: Long, end: Long, width: Long,
                 k: Int): DataFrame =
    graft.ts.Downsample.dtwSimilar(
      store.pointsAt(None).withColumnRenamed("time", "t_us"),
      Seq("uuid"), col("uuid") === query.uuid, start, end, width, k)

  /** Subsequence motif discovery across the whole store: top SAX
    * subwords by occurrence (Downsample.motifs).
    */
  def motifs(start: Long, end: Long, width: Long, w: Int, k: Int): DataFrame =
    graft.ts.Downsample.motifs(
      store.pointsAt(None).withColumnRenamed("time", "t_us"),
      Seq("uuid"), start, end, width, w, k)

  /** Rolling correlation of two handles: one r per coarse window. */
  def correlateWindowed(a: StreamHandle, b: StreamHandle, start: Long, end: Long,
                        width: Long, coarse: Long): DataFrame =
    TS.windowedCorrelation(
      a.points().withColumn("k", lit(1)),
      b.points().withColumn("k", lit(1)), Seq("k"), start, end, width, coarse).drop("k")

  /** Lag cross-correlation sweep of two handles (which shift aligns best). */
  def lagCorrelate(a: StreamHandle, b: StreamHandle, start: Long, end: Long,
                   width: Long, lags: Seq[Long]): DataFrame =
    TS.lagCorrelation(
      a.points().withColumn("k", lit(1)),
      b.points().withColumn("k", lit(1)), Seq("k"), start, end, width, lags).drop("k")

  /** Conversion funnel between two stream handles: per window of a-events,
    * how many saw a b-event within `horizonUs` (TimeSeriesOps.funnel —
    * the as-of join run forward).
    */
  def funnel(a: StreamHandle, b: StreamHandle, start: Long, end: Long,
             width: Long, horizonUs: Long): DataFrame =
    TS.funnel(
      a.points().withColumn("k", lit(1)),
      b.points().withColumn("k", lit(1)), Seq("k"), start, end, width, horizonUs).drop("k")

  /** Fleet cross-correlation matrix: pairwise r over the store's top-N
    * streams by volume (TimeSeriesOps.xcorrMatrix — roster-bounded).
    */
  def xcorrMatrix(start: Long, end: Long, width: Long, topN: Int): DataFrame =
    TS.xcorrMatrix(store.pointsAt(None).withColumnRenamed("time", "t_us"),
      Seq("uuid"), start, end, width, topN)

  /** Fleet triage: the store's top-k biggest offset-window movers. */
  def topMovers(start: Long, end: Long, width: Long, offsetUs: Long,
                k: Int): DataFrame =
    TS.topMovers(store.pointsAt(None).withColumnRenamed("time", "t_us"),
      Seq("uuid"), start, end, width, offsetUs, k)

  /** Aligned-series division of two handles (error rate, hit ratio):
    * per shared window, a's value sum over b's (TimeSeriesOps.ratio).
    */
  def ratio(a: StreamHandle, b: StreamHandle, start: Long, end: Long,
            width: Long): DataFrame =
    TS.ratio(
      a.points().withColumn("k", lit(1)),
      b.points().withColumn("k", lit(1)), Seq("k"), start, end, width).drop("k")

  /** N-step ordered funnel across handles: each handle is one step, a
    * step counts when its FIRST point lands at-or-after the previous
    * step's within the horizon (TimeSeriesOps.funnelSteps over the
    * union of the handles' points tagged by step).
    */
  def funnelSteps(steps: Seq[StreamHandle], start: Long, end: Long,
                  horizonUs: Long): DataFrame = {
    require(steps.size >= 2, s"need at least 2 steps, got ${steps.size}")
    // steps are tagged by uuid, so a repeated handle would silently
    // conflate two steps into one typeCol value and report a wrong funnel
    require(steps.map(_.uuid).distinct.size == steps.size,
      s"funnel steps must be distinct streams: ${steps.map(_.uuid)}")
    val tagged = steps.map(h =>
      h.points().withColumn("k", lit(1)).withColumn("step_tag", lit(h.uuid)))
    TS.funnelSteps(tagged.reduce(_ union _), Seq("k"), "step_tag",
      steps.map(_.uuid), start, end, horizonUs)
  }

  /** Per-stream query/write surface. All reads take an optional
    * `version` (None = latest) like the RPCs' versionMajor: it pins the
    * stream's visible points (Store.streamAt) before the version-agnostic
    * TimeSeriesOps transform runs.
    */
  class StreamHandle(val uuid: String) {
    private val K = Seq("uuid")

    /** The handle's one-stream roster — the metadata universe the gaps
      * chain grids over. A literal, so those reads never re-scan raw
      * history just to learn which streams exist (and a stream with zero
      * visible points still reports: every window is a gap — the
      * dead-sensor answer a roster-aware fleet query must give).
      */
    private def roster: DataFrame = spark.range(1).select(lit(uuid).as("uuid"))

    /** The stream's visible points as the canonical (uuid, t_us, value,
      * ver) frame every TimeSeriesOps transform consumes.
      */
    def points(version: Option[Long] = None): DataFrame =
      store.streamAt(uuid, version)
        .select(col("uuid"), col("time").as("t_us"), col("value"), col("ver"))

    def insert(points: DataFrame): Long = store.insert(uuid, points)
    def version: Long = store.version(uuid)
    def flush(): Long = store.flush(uuid)
    def deleteRange(start: Long, end: Long): Long = store.deleteRange(uuid, start, end)

    /** Obliterate: full-range point tombstone + descriptor tombstone. */
    def obliterate(): Long = {
      meta.delete(uuid)
      store.obliterate(uuid)
    }

    def rawValues(start: Long, end: Long, version: Option[Long] = None): DataFrame =
      store.rawValues(uuid, start, end, version)

    // ---- read-your-unflushed-writes (the reference's PQM merge) ----
    def insertBuffered(points: DataFrame): Unit = store.insertBuffered(uuid, points)
    def versionMerged: (Long, Long) = store.versionMerged(uuid)
    def rawValuesMerged(start: Long, end: Long): DataFrame =
      store.rawValuesMerged(uuid, start, end)
    /** Stat windows with the write buffer merged in — the reference's
      * merger.go:132 path (stat reads see unflushed points too).
      */
    def windowsMerged(start: Long, end: Long, width: Long): DataFrame = {
      val merged = points(None)
        .unionByName(store.bufferedPoints.filter(col("uuid") === uuid)
          .select(col("uuid"), col("time").as("t_us"), col("value"),
            lit(Long.MaxValue).as("ver")))
      TS.windows(merged, K, start, end, width).drop("uuid")
    }

    def alignedWindows(start: Long, end: Long, pointWidth: Int,
                       version: Option[Long] = None): DataFrame =
      TS.alignedWindows(points(version), K, start, end, pointWidth).drop("uuid")

    /** AlignedWindows served from a rollup hierarchy built over this
      * store at version `rollupBuiltAt`, with write consistency in BOTH
      * directions: every range touched after the build — tombstones AND
      * inserted points (Store.changes covers both) — invalidates the
      * windows it overlaps, which are recomputed from the visible view.
      * Without the insert side, a rollup older than the latest insert
      * would serve stale windows next to fresh dirty ones — a mixed-
      * version answer. Changed ranges are metadata-scale (coalesced at
      * the window resolution), so Rollup.alignedWindows collects them
      * once on the driver and keeps only those overlapping the query;
      * stat reads stay O(rollup rows) everywhere untouched. Rollups
      * maintained incrementally by Ingest need only the tombstone side —
      * pass `store.tombstones` through Rollup.tombstoneRanges directly.
      */
    def alignedWindows(rollup: graft.ts.Rollup, start: Long, end: Long,
                       pointWidth: Int, rollupBuiltAt: Long): DataFrame = {
      val inv = store.changes(uuid, rollupBuiltAt, Long.MaxValue, pointWidth)
        .select(lit(uuid).as("uuid"), col("c_start").as("r_start"),
          col("c_end").as("r_end"))
      rollup.alignedWindows(points(), K, start, end, pointWidth, invalid = Some(inv))
        .filter(col("uuid") === uuid).drop("uuid")
    }

    def windows(start: Long, end: Long, width: Long,
                version: Option[Long] = None): DataFrame =
      TS.windows(points(version), K, start, end, width).drop("uuid")

    /** WindowsParams.depth — stat windows at reduced precision. */
    def windows(start: Long, end: Long, width: Long, depth: Int,
                version: Option[Long]): DataFrame =
      TS.windowsApprox(points(version), K, start, end, width, depth).drop("uuid")

    /** AlignedWindows at an automatically chosen pointwidth: the largest
      * pw that still yields at least `targetPoints` buckets over the span
      * — the reference client's "resolution for an N-pixel panel" idiom
      * (pick pw from the time span, then one aligned query).
      */
    def autoWindows(start: Long, end: Long, targetPoints: Int,
                    version: Option[Long] = None): DataFrame = {
      require(end > start && targetPoints > 0, s"bad span [$start,$end) / $targetPoints")
      val span = end - start
      var pw = 0
      while (pw < 62 && (span >> (pw + 1)) >= targetPoints.toLong) pw += 1
      alignedWindows(start, end, pw, version)
    }

    def nearest(time: Long, backward: Boolean,
                version: Option[Long] = None): DataFrame =
      TS.nearest(points(version), K, time, backward).drop("uuid")

    def changes(fromVer: Long, toVer: Long, resolution: Int): DataFrame =
      store.changes(uuid, fromVer, toVer, resolution)

    def statsGlobal(version: Option[Long] = None): DataFrame =
      TS.statsGlobal(points(version), K).drop("uuid")

    def ewma(start: Long, end: Long, width: Long, alpha: Double,
             version: Option[Long] = None): DataFrame =
      TS.ewma(points(version), K, start, end, width, alpha).drop("uuid")

    def holt(start: Long, end: Long, width: Long, alpha: Double, beta: Double,
             version: Option[Long] = None): DataFrame =
      TS.holt(points(version), K, start, end, width, alpha, beta).drop("uuid")

    def holtWinters(start: Long, end: Long, width: Long, period: Int,
                    alpha: Double, beta: Double, gamma: Double,
                    version: Option[Long] = None): DataFrame =
      TS.holtWinters(points(version), K, start, end, width, period,
        alpha, beta, gamma).drop("uuid")

    /** h-step-ahead projection from the Holt-Winters state. */
    def forecast(start: Long, end: Long, width: Long, period: Int,
                 alpha: Double, beta: Double, gamma: Double, horizon: Int,
                 version: Option[Long] = None): DataFrame =
      TS.holtWintersForecast(points(version), K, start, end, width, period,
        alpha, beta, gamma, horizon).drop("uuid")

    /** Autocorrelation function over the window-mean series. */
    def autocorr(start: Long, end: Long, width: Long, lags: Seq[Long],
                 version: Option[Long] = None): DataFrame =
      TS.lagCorrelation(points(version), points(version), K, start, end,
        width, lags).drop("uuid")

    /** Bollinger envelope: trailing-k mean ± nSigma·σ. */
    def bands(start: Long, end: Long, width: Long, k: Int, nSigma: Double,
              version: Option[Long] = None): DataFrame =
      TS.bollingerBands(points(version), K, start, end, width, k, nSigma)
        .drop("uuid")

    /** Peaks of the window-mean series (strict k-shoulder dominance +
      * prominence floor in micro-units).
      */
    def peaks(start: Long, end: Long, width: Long, k: Int, minPromUs: Long,
              version: Option[Long] = None): DataFrame =
      TS.peaks(points(version), K, start, end, width, k, minPromUs).drop("uuid")

    /** Offline mean-shift change points over the window-mean series. */
    def changePoints(start: Long, end: Long, width: Long, k: Int,
                     minShiftUs: Long, version: Option[Long] = None): DataFrame =
      TS.changePoints(points(version), K, start, end, width, k, minShiftUs)
        .drop("uuid")

    def interpolate(start: Long, end: Long, width: Long,
                    version: Option[Long] = None): DataFrame =
      TS.interpolate(points(version), K, start, end, width).drop("uuid")

    def histogram(start: Long, end: Long, width: Long, binWidth: Double,
                  version: Option[Long] = None): DataFrame =
      TS.histogram(points(version), K, start, end, width, binWidth).drop("uuid")

    def counterRate(start: Long, end: Long, width: Long,
                    version: Option[Long] = None): DataFrame =
      TS.counterRate(points(version), K, start, end, width).drop("uuid")

    def delta(version: Option[Long] = None): DataFrame =
      TS.delta(points(version), K).drop("uuid")

    def argMinMax(start: Long, end: Long, width: Long,
                  version: Option[Long] = None): DataFrame =
      TS.argMinMax(points(version), K, start, end, width).drop("uuid")

    def lttb(start: Long, end: Long, nOut: Int,
             version: Option[Long] = None): DataFrame =
      graft.ts.Downsample.lttbAuto(points(version), K, start, end, nOut).drop("uuid")

    def gaps(start: Long, end: Long, width: Long,
             version: Option[Long] = None): DataFrame =
      TS.gaps(points(version), K, start, end, width,
        streams = Some(roster)).drop("uuid")

    def outages(start: Long, end: Long, width: Long,
                version: Option[Long] = None): DataFrame =
      TS.outages(points(version), K, start, end, width,
        streams = Some(roster)).drop("uuid")

    def cusum(version: Option[Long] = None): DataFrame =
      TS.cusum(points(version), K).drop("uuid")

    def resample(start: Long, end: Long, width: Long): DataFrame =
      TS.resample(points(), K, start, end, width).drop("uuid")

    def sessionize(gapUs: Long, version: Option[Long] = None): DataFrame =
      TS.sessionize(points(version), K, gapUs).drop("uuid")

    def m4(start: Long, end: Long, width: Long,
           version: Option[Long] = None): DataFrame =
      TS.m4(points(version), K, start, end, width).drop("uuid")

    def coverage(start: Long, end: Long, width: Long,
                 version: Option[Long] = None): DataFrame =
      TS.coverage(points(version), K, start, end, width,
        streams = Some(roster)).drop("uuid")

    def rolling(start: Long, end: Long, width: Long, k: Int,
                version: Option[Long] = None): DataFrame =
      TS.rolling(points(version), K, start, end, width, k).drop("uuid")

    def percentiles(start: Long, end: Long, width: Long, ps: Seq[Double],
                    version: Option[Long] = None): DataFrame =
      TS.percentileWindows(points(version), K, start, end, width, ps).drop("uuid")

    /** Sketch percentiles for windows too large to rank-sort — see
      * TimeSeriesOps.percentileWindowsApprox for the G-K error contract.
      */
    def percentilesApprox(start: Long, end: Long, width: Long, ps: Seq[Double],
                          accuracy: Int = 10000,
                          version: Option[Long] = None): DataFrame =
      TS.percentileWindowsApprox(points(version), K, start, end, width, ps,
        accuracy).drop("uuid")

    def anomalies(zThresh: Double, version: Option[Long] = None): DataFrame =
      TS.anomalies(points(version), K, zThresh).drop("uuid")

    /** Classical seasonal decomposition (TimeSeriesOps.decompose). */
    def decompose(start: Long, end: Long, width: Long, period: Int,
                  version: Option[Long] = None): DataFrame =
      TS.decompose(points(version), K, start, end, width, period).drop("uuid")

    /** SRE availability report for this stream (TimeSeriesOps.reliability). */
    def reliability(start: Long, end: Long, width: Long,
                    version: Option[Long] = None): DataFrame =
      TS.reliability(points(version), K, start, end, width,
        streams = Some(roster)).drop("uuid")

    /** Robust per-window dispersion: median + MAD (outlier-proof bands). */
    def mad(start: Long, end: Long, width: Long,
            version: Option[Long] = None): DataFrame =
      TS.madWindows(points(version), K, start, end, width).drop("uuid")

    def seasonalProfile(bucketUs: Long, periodBuckets: Int,
                        version: Option[Long] = None): DataFrame =
      TS.seasonalProfile(points(version), K, bucketUs, periodBuckets).drop("uuid")

    def timeWeighted(start: Long, end: Long,
                     version: Option[Long] = None): DataFrame =
      TS.timeWeighted(points(version), K, start, end).drop("uuid")

    def multiResolution(start: Long, end: Long, widths: Seq[Long],
                        version: Option[Long] = None): DataFrame =
      TS.multiResolution(points(version), K, start, end, widths).drop("uuid")

    def valueRuns(version: Option[Long] = None): DataFrame =
      TS.valueRuns(points(version), K).drop("uuid")

    def stddevWindows(start: Long, end: Long, width: Long,
                      version: Option[Long] = None): DataFrame =
      TS.stddevWindows(points(version), K, start, end, width).drop("uuid")

    def deriv(start: Long, end: Long, width: Long,
              version: Option[Long] = None): DataFrame =
      TS.deriv(points(version), K, start, end, width).drop("uuid")

    def offsetCompare(start: Long, end: Long, width: Long, offsetUs: Long,
                      version: Option[Long] = None): DataFrame =
      TS.offsetCompare(points(version), K, start, end, width, offsetUs).drop("uuid")

    def savgol(start: Long, end: Long, width: Long,
               version: Option[Long] = None): DataFrame =
      TS.savgol(points(version), K, start, end, width).drop("uuid")

    def boxplot(start: Long, end: Long, width: Long, whisker: Double = 1.5,
                version: Option[Long] = None): DataFrame =
      TS.boxplotWindows(points(version), K, start, end, width, whisker).drop("uuid")

    def capacityForecast(start: Long, end: Long, threshold: Double, horizonUs: Long,
                         version: Option[Long] = None): DataFrame =
      TS.capacityForecast(points(version), K, start, end, threshold, horizonUs)
        .drop("uuid")

    def burnRate(start: Long, end: Long, widths: Seq[Long], badPred: Column,
                 slo: Double, version: Option[Long] = None): DataFrame =
      TS.burnRate(points(version), K, start, end, widths, badPred, slo).drop("uuid")

    def anomaliesSeasonal(zThresh: Double, bucketUs: Long = 3600000000L,
                          periodBuckets: Int = 24, minN: Long = 2,
                          version: Option[Long] = None): DataFrame =
      TS.anomaliesSeasonal(points(version), K, zThresh, bucketUs, periodBuckets,
        minN).drop("uuid")

    def annotations: Map[String, String] = {
      import spark.implicits._
      meta.descriptors.filter(col("uuid") === uuid)
        .select(col("annotations")).as[Map[String, String]]
        .collect().headOption.getOrElse(Map.empty)
    }

    def setAnnotations(expectedVersion: Long,
                       changes: Map[String, Option[String]]): Long =
      meta.setAnnotations(uuid, expectedVersion, changes)
  }
}

object GraftDB {
  def apply(spark: SparkSession, base: String): GraftDB = new GraftDB(spark, base)
}
