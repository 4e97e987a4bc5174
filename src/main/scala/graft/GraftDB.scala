package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  *
  * The handle is that RPC surface plus the few reads that add behaviour
  * (see StreamHandle); every other analytic is a TimeSeriesOps/Downsample
  * operator called on the canonical frame:
  * `TS.ewma(h.points(v), Seq("uuid"), ...)` for one stream,
  * `TS.xcorrMatrix(db.points(), Seq("uuid"), ...)` for the fleet. The
  * db-level methods kept here are the two-stream reads, which supply the
  * constant pairing key the operators join on.
  */
class GraftDB(val spark: SparkSession, val base: String) {
  val meta = MetaStore(spark, base)
  val store = Store(spark, base)

  /** The canonical (uuid, t_us, value, ver) frame every TimeSeriesOps
    * transform consumes, from Store's (uuid, time, value, ver, ...) rows.
    */
  private def canonical(pts: DataFrame): DataFrame =
    pts.select(col("uuid"), col("time").as("t_us"), col("value"), col("ver"))

  /** Every stream's visible points at `asOf` (None = latest) — the fleet
    * frame for store-wide operators (similarStreams, dtwSimilar, motifs,
    * xcorrMatrix, topMovers) with `Seq("uuid")` as the stream key.
    */
  def points(asOf: Option[Long] = None): DataFrame = canonical(store.pointsAt(asOf))

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

  /** A handle's latest points under the constant pair key `k` the
    * two-stream operators join a and b on.
    */
  private def keyed(h: StreamHandle): DataFrame = h.points().withColumn("k", lit(1))

  /** As-of join of two stream handles: latest b-value at each a-point,
    * optionally bounded by a staleness tolerance.
    */
  def asof(a: StreamHandle, b: StreamHandle,
           toleranceUs: Option[Long] = None): DataFrame =
    TS.asofJoin(keyed(a), keyed(b), Seq("k"), toleranceUs = toleranceUs).drop("k")

  /** Pearson correlation between two streams' aligned window-mean series
    * (TimeSeriesOps.correlation under a constant pair key).
    */
  def correlate(a: StreamHandle, b: StreamHandle, start: Long, end: Long,
                width: Long): DataFrame =
    TS.correlation(keyed(a), keyed(b), Seq("k"), start, end, width).drop("k")

  /** Rolling correlation of two handles: one r per coarse window. */
  def correlateWindowed(a: StreamHandle, b: StreamHandle, start: Long, end: Long,
                        width: Long, coarse: Long): DataFrame =
    TS.windowedCorrelation(keyed(a), keyed(b), Seq("k"), start, end, width, coarse)
      .drop("k")

  /** Lag cross-correlation sweep of two handles (which shift aligns best). */
  def lagCorrelate(a: StreamHandle, b: StreamHandle, start: Long, end: Long,
                   width: Long, lags: Seq[Long]): DataFrame =
    TS.lagCorrelation(keyed(a), keyed(b), Seq("k"), start, end, width, lags).drop("k")

  /** Conversion funnel between two stream handles: per window of a-events,
    * how many saw a b-event within `horizonUs` (TimeSeriesOps.funnel —
    * the as-of join run forward).
    */
  def funnel(a: StreamHandle, b: StreamHandle, start: Long, end: Long,
             width: Long, horizonUs: Long): DataFrame =
    TS.funnel(keyed(a), keyed(b), Seq("k"), start, end, width, horizonUs).drop("k")

  /** Aligned-series division of two handles (error rate, hit ratio):
    * per shared window, a's value sum over b's (TimeSeriesOps.ratio).
    */
  def ratio(a: StreamHandle, b: StreamHandle, start: Long, end: Long,
            width: Long): DataFrame =
    TS.ratio(keyed(a), keyed(b), Seq("k"), start, end, width).drop("k")

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
    val tagged = steps.map(h => keyed(h).withColumn("step_tag", lit(h.uuid)))
    TS.funnelSteps(tagged.reduce(_ union _), Seq("k"), "step_tag",
      steps.map(_.uuid), start, end, horizonUs)
  }

  /** Per-stream handle: BTrDB's per-stream RPCs (RawValues,
    * AlignedWindows — direct or rollup-served — Windows and its depth
    * form, Nearest, Changes, Insert, DeleteRange, Obliterate, Version,
    * annotations CAS) plus the PQM write-buffer reads. Reads take an
    * optional `version` (None = latest) like the RPCs' versionMajor: it
    * pins the stream's visible points (Store.streamAt) before the
    * version-agnostic TimeSeriesOps transform runs. Any other operator
    * runs on `points(version)` directly.
    *
    * Besides the RPCs the handle keeps only reads that add behaviour:
    * autoWindows picks the pointwidth, and gaps/outages/coverage/
    * reliability pass the handle's one-stream roster, so a stream with no
    * visible points still reports (every window a gap) where a direct
    * TimeSeriesOps call over its empty points would return nothing.
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
      canonical(store.streamAt(uuid, version))

    def insert(points: DataFrame): Long = store.insert(uuid, points)
    /** The stream's committed version (Store.version): a read pinned at it,
      * or a rollup built with it as `rollupBuiltAt`, stays valid while
      * writers run.
      */
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
      * store at version `rollupBuiltAt` (a `version` read before the build:
      * committed, so every write at or below it is in the build's input),
      * with write consistency in BOTH directions: the time hull of every
      * write claimed after it — deletes AND inserts, from the store's claim
      * log (Store.hullsSince, read without a Spark job), a write in flight
      * or one that died included — marks the rollup stale where it
      * overlaps. Without the
      * insert side, a rollup older than the latest insert would serve
      * stale windows next to fresh ones — a mixed-version answer. When no
      * hull overlaps [start, end) the level serves the read; otherwise the
      * read is served raw: recomputing even one dirty window scans every
      * raw point of the range (Rollup.alignedWindows' dirty branch), so
      * for one stream the raw read alone costs less than the level read
      * plus that scan. Rollups maintained incrementally by Ingest need
      * only the tombstone side — pass `store.tombstones` through
      * Rollup.tombstoneRanges to Rollup.alignedWindows directly.
      */
    def alignedWindows(rollup: graft.ts.Rollup, start: Long, end: Long,
                       pointWidth: Int, rollupBuiltAt: Long): DataFrame =
      if (store.hullsSince(uuid, rollupBuiltAt).exists { case (lo, hi) => lo < end && hi > start })
        alignedWindows(start, end, pointWidth)
      else rollup.alignedWindows(points(), K, start, end, pointWidth)
        .filter(col("uuid") === uuid).drop("uuid")

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

    def gaps(start: Long, end: Long, width: Long,
             version: Option[Long] = None): DataFrame =
      TS.gaps(points(version), K, start, end, width,
        streams = Some(roster)).drop("uuid")

    def outages(start: Long, end: Long, width: Long,
                version: Option[Long] = None): DataFrame =
      TS.outages(points(version), K, start, end, width,
        streams = Some(roster)).drop("uuid")

    def coverage(start: Long, end: Long, width: Long,
                 version: Option[Long] = None): DataFrame =
      TS.coverage(points(version), K, start, end, width,
        streams = Some(roster)).drop("uuid")

    /** SRE availability report for this stream (TimeSeriesOps.reliability). */
    def reliability(start: Long, end: Long, width: Long,
                    version: Option[Long] = None): DataFrame =
      TS.reliability(points(version), K, start, end, width,
        streams = Some(roster)).drop("uuid")

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
