package graft.ts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BTrDB query surface re-expressed as declarative DataFrame transforms.
  *
  * Semantics derived from the reference:
  *  - RawValues / AlignedWindows / Windows / Nearest / Changes:
  *    grpcinterface/btrdb.proto:6-15 (params) and qtree/qtree.go
  *    (QueryStatisticalValues, QueryWindow, FindNearestValue,
  *    FindChangedSince).
  *  - StatPoint = (windowStart, min, mean, max, count):
  *    btrdb.proto:214-220, computed per tree node in
  *    qtree/operators.go:91-158 (OpReduce).
  *  - Time ranges are start-inclusive, end-exclusive (qtree.go raw query
  *    contract); Nearest backward is exclusive, forward inclusive
  *    (qtree/qtree.go:31-33).
  *
  * Every transform is a pure plan: groupBy on computed bucket columns and
  * window functions only — no UDFs, no collect — so Catalyst pushes the
  * stream/time filters into the parquet scan and aggregation stays
  * map-side-partial. `streamCols` generalizes BTrDB's single uuid to any
  * composite stream key, which is what lets the same plan fan out over
  * every stream at once instead of one RPC per uuid.
  *
  * Operators are version-agnostic: each transforms exactly the frame it
  * is given. As-of reads pin the data before it gets here — through
  * Store.pointsAt(asOf), which also applies tombstones, or GraftDB's
  * canonical frames: `db.points(asOf)` for the fleet, a handle's
  * `points(version)` for one stream. GraftDB has no per-operator
  * methods; `TimeSeriesOps.ewma(h.points(v), Seq("uuid"), ...)` is the
  * one-stream call.
  */
object TimeSeriesOps {

  private def streamKey(streamCols: Seq[String]): Seq[Column] = streamCols.map(col)

  // ---------------------------------------------------------------------
  // The windowed-series layer: each rule every windowed operator shares,
  // stated once. Windows are `width` wide and anchored at `start`; an
  // operator reads complete windows only (qtree.go QueryWindow) unless its
  // doc says it keeps the partial last window.
  // ---------------------------------------------------------------------

  /** The complete-window cutoff: the end of the last `width` window from
    * `start` that fits inside [start, end). The span is exact — a range
    * longer than a long holds is an error, never a wrapped (empty) read.
    */
  private[ts] def windowsEnd(start: Long, end: Long, width: Long): Long = {
    val span =
      try Math.subtractExact(end, start)
      catch {
        case _: ArithmeticException => throw new IllegalArgumentException(
          s"time range [$start, $end) is longer than a long can hold")
      }
    start + Math.multiplyExact(span / width, width)
  }

  /** `t` in [start, stop). */
  private[ts] def inRange(start: Long, stop: Long, t: Column = col("t_us")): Column =
    t >= start && t < stop

  /** `t` in the complete windows of [start, end). */
  private[ts] def inWindows(start: Long, end: Long, width: Long,
                            t: Column = col("t_us")): Column =
    inRange(start, windowsEnd(start, end, width), t)

  /** The grid bucket holding `t`: start + (d − d mod width), d = t − start,
    * in exact integer arithmetic (a floor(double) at 1.7e15 can be off by
    * one at bucket boundaries).
    */
  private[ts] def gridBucket(t: Column, start: Long, width: Long): Column = {
    val d = t - start
    lit(start) + d - pmod(d, lit(width))
  }

  /** The grid bucket of `t_us`, as `w_start`. */
  private[ts] def widthBucket(start: Long, width: Long): Column =
    gridBucket(col("t_us"), start, width).as("w_start")

  /** The exact µ-unit window-mean series: per (key, w_start) over
    * [start, stop), the window's µ-unit sum over its count rounded to an
    * integer. Integer means keep every downstream comparison and moment
    * exact; `stop` is `end` for operators that keep the partial last
    * window and windowsEnd(...) for the rest.
    */
  private[ts] def windowMeans(points: DataFrame, keyCols: Seq[String], start: Long,
                              stop: Long, width: Long, out: String): DataFrame =
    points.filter(inRange(start, stop))
      .groupBy(keyCols.map(col) :+ widthBucket(start, width): _*)
      .agg(meanUs.as(out))

  private def meanUs: Column =
    round(sum(graft.Quant.us6(col("value"))).cast("double") / count(lit(1)), 0).cast("long")

  /** Pearson r per `by` group over paired µ-unit integers (x, y): exact
    * DECIMAL moment sums (products of µ-unit means overflow a long), r
    * assembled in one deterministic float expression and quantized, and a
    * null r — never NaN or a ÷0 error — when either side has zero variance.
    * Output: the `by` columns, n_windows, r.
    */
  private def pearson(pairs: DataFrame, by: Seq[Column], x: String, y: String): DataFrame = {
    val xd = col(x).cast("decimal(38,0)")
    val yd = col(y).cast("decimal(38,0)")
    val mom = pairs.groupBy(by: _*).agg(
      count(lit(1)).as("n"),
      sum(xd).as("sx"), sum(yd).as("sy"),
      sum(xd * xd).as("sxx"), sum(yd * yd).as("syy"), sum(xd * yd).as("sxy"))
    val nD = col("n").cast("double")
    val (sx, sy) = (col("sx").cast("double"), col("sy").cast("double"))
    val cov = nD * col("sxy").cast("double") - sx * sy
    val den1 = sqrt(nD * col("sxx").cast("double") - sx * sx)
    val den2 = sqrt(nD * col("syy").cast("double") - sy * sy)
    mom.select(mom.columns.take(by.size).map(col) ++ Seq(col("n").as("n_windows"),
      when(den1 > 0 && den2 > 0, graft.Quant.q6(cov / (den1 * den2))).as("r")): _*)
  }

  /** RawValues: time-ordered scan of [start, end). */
  def rawValues(points: DataFrame, streamCols: Seq[String], start: Long, end: Long): DataFrame =
    points
      .filter(col("t_us") >= start && col("t_us") < end)
      .select(streamKey(streamCols) :+ col("t_us") :+ col("value"): _*)

  /** AlignedWindows: power-of-two buckets of width 2^pointWidth, aligned to
    * the epoch (bucket start = (t >> pw) << pw), one StatPoint per
    * non-empty bucket. The shift-based bucketing is exactly the reference's
    * node addressing (qtree_utils.go ChildStartTime) — and is a single
    * codegen'd integer op here.
    */
  def alignedWindows(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
                     pointWidth: Int): DataFrame =
    statAgg(points.filter(col("t_us") >= start && col("t_us") < end),
      streamCols, nodeStart(col("t_us"), pointWidth).as("w_start"))

  /** Windows: arbitrary fixed-width buckets anchored at `start`. Windows
    * that would extend past `end` are dropped, matching the reference
    * (qtree.go QueryWindow emits only complete windows).
    */
  def windows(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
              width: Long): DataFrame =
    statAgg(points.filter(inWindows(start, end, width)), streamCols, widthBucket(start, width))

  /** Per-window extrema WITH the times they occurred — the "when did the
    * spike happen" refinement of the StatPoint min/max (BTrDB users chase
    * a Windows anomaly with RawValues; this answers it in the same scan).
    * Deterministic under duplicate values/timestamps: the min takes its
    * earliest timestamp, the max its latest — mirrored two-level argmax
    * in the oracle.
    */
  def argMinMax(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
                width: Long): DataFrame = {
    val key = streamKey(streamCols)
    points
      .filter(inWindows(start, end, width))
      .groupBy(key :+ widthBucket(start, width): _*)
      .agg(
        min(col("value")).as("v_min"),
        min(struct(col("value"), col("t_us"))).getField("t_us").as("t_min"),
        max(col("value")).as("v_max"),
        max(struct(col("value"), col("t_us"))).getField("t_us").as("t_max"),
        count(lit(1)).as("v_count"))
  }

  /** Windows at reduced precision — the WindowsParams.depth knob
    * (btrdb.proto:50-57): the reference stops descending the tree at
    * pointwidth `depth` and counts a straddling node wholly in the active
    * window (qtree/qtree.go:1115-1150). Re-expressed as two exact
    * aggregations: bucket the range at 2^depth, then assign each bucket to
    * the window containing its START — whole buckets never split across
    * windows, which is precisely the reference's approximation. depth=0 ≡
    * windows(). Both stages are map-side-partial groupBys; the first is
    * exactly a rollup level, so a materialized hierarchy can serve it
    * (Rollup.windowsApprox).
    */
  def windowsApprox(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
                    width: Long, depth: Int): DataFrame = {
    val buckets = statPartial(points.filter(inWindows(start, end, width)), streamCols,
      nodeStart(col("t_us"), depth).as("b"))
    // a bucket straddling `start` begins before it — clamp so it lands in
    // the first window (the reference folds it into the active window)
    statAgg(buckets, streamCols,
      gridBucket(greatest(col("b"), lit(start)), start, width).as("w_start"), ofPartials = true)
  }

  // ---------------------------------------------------------------------
  // BTrDB's node algebra, stated once for the raw reads, every Rollup level
  // and delta, and Ingest.statStream — which keeps a rollup-served read
  // bit-identical to the raw one: the node address (qtree_utils.go
  // ChildStartTime), the statpoint fold (qtree/operators.go OpReduce) and
  // the changed-range diff (qtree.go FindChangedSince). A statpoint is
  // (v_min, v_mean, v_max, v_count); its partial form (v_min, v_max,
  // v_sum_us, v_count) keeps the exact µ-unit sum, so it re-aggregates.
  // ---------------------------------------------------------------------

  /** The start of the 2^pw-wide node holding `t`: (t >> pw) << pw. */
  private[ts] def nodeStart(t: Column, pw: Int): Column = shiftleft(shiftright(t, pw), pw)

  /** The (min, max, µ-unit sum, count) a fold takes of raw points or partials. */
  private def measures(ofPartials: Boolean): (Column, Column, Column, Column) =
    if (ofPartials)
      (min(col("v_min")), max(col("v_max")), sum(col("v_sum_us")), sum(col("v_count")))
    else
      (min(col("value")), max(col("value")), sum(graft.Quant.us6(col("value"))), count(lit(1)))

  /** The partial statpoint per (stream, `bucket`), of raw points or (`ofPartials`) partials. */
  private[ts] def statPartial(df: DataFrame, streamCols: Seq[String], bucket: Column,
                              ofPartials: Boolean = false): DataFrame = {
    val (lo, hi, sumUs, n) = measures(ofPartials)
    df.groupBy(streamKey(streamCols) :+ bucket: _*)
      .agg(lo.as("v_min"), hi.as("v_max"), sumUs.as("v_sum_us"), n.as("v_count"))
  }

  /** The statpoint per (stream, `bucket`): of raw points, or (`ofPartials`)
    * of partial statpoints. The mean is mean6 of the exact µ-unit sum, so
    * it is the same whatever the aggregation order or level it came from.
    */
  private[graft] def statAgg(df: DataFrame, streamCols: Seq[String], bucket: Column,
                             ofPartials: Boolean = false): DataFrame = {
    val (lo, hi, sumUs, n) = measures(ofPartials)
    df.groupBy(streamKey(streamCols) :+ bucket: _*)
      .agg(lo.as("v_min"), graft.Quant.mean6(sumUs, n).as("v_mean"), hi.as("v_max"),
        n.as("v_count"))
  }

  /** A partial statpoint row's mean, and its statpoint columns. */
  private[ts] def statMean: Column = graft.Quant.mean6(col("v_sum_us"), col("v_count")).as("v_mean")
  private[ts] def statRow: Seq[Column] = Seq(col("v_min"), statMean, col("v_max"), col("v_count"))

  /** The changed-range diff: per key, the time ranges touched by the
    * `points` (time column `timeCol`) and, when given, the `tombstones`
    * (t_start, t_end) with fromVer < ver <= toVer — inserted times aligned
    * down to the 2^res grid, deleted [t_start, t_end) aligned out to it —
    * gap-merged into (keys…, c_start, c_end). The one builder behind
    * changes, Store.changes and Store.exportChanges.
    */
  private[ts] def changedRanges(points: DataFrame, timeCol: String,
                                tombstones: Option[DataFrame], keyCols: Seq[String],
                                fromVer: Long, toVer: Long, res: Int): DataFrame = {
    val width = 1L << res
    def inDiff(df: DataFrame) = df.filter(col("ver") > fromVer && col("ver") <= toVer)
    def withEnd(df: DataFrame) = df.withColumn("r_end", col("r_start") + width)
    val key = streamKey(keyCols)
    val ins = inDiff(points).select(key :+ nodeStart(col(timeCol), res).as("r_start"): _*)
    val ranges = tombstones.fold(withEnd(ins.distinct())) { tombs =>
      // align-up saturates: a full-range tombstone (obliterate, t_end =
      // Long.MaxValue) must not wrap to MinValue and vanish as a degenerate
      // range — it invalidates everything
      val endCap = Long.MaxValue - width
      val del = inDiff(tombs).select(key :+ nodeStart(col("t_start"), res).as("r_start")
        :+ when(col("t_end") > endCap, lit(Long.MaxValue))
          .otherwise(nodeStart(col("t_end") - 1, res) + width).as("r_end"): _*)
      withEnd(ins).unionByName(del).distinct()
    }
    mergeRanges(ranges, keyCols)
  }

  /** Whole-stream StatPoint — the qtree root node (qtree.go QueryStatisticalValues
    * at the root resolution). Unlike per-window groups, a whole stream's
    * point count is unbounded, so the micro-unit sum accumulates as
    * DECIMAL(38,0) — exact to 10^38, where a long sum would overflow
    * past ~9.2e18 µ-units (a year of ns-rate data at |value|≈300 already
    * crosses it) and, under Spark 4's default ANSI mode, fail the query
    * with ARITHMETIC_OVERFLOW. The final decimal→double cast rounds to
    * nearest exactly like DuckDB's HUGEINT→DOUBLE, so the gate stays
    * bit-exact.
    */
  def statsGlobal(points: DataFrame, streamCols: Seq[String]): DataFrame =
    points.groupBy(streamKey(streamCols): _*)
      .agg(
        min(col("value")).as("v_min"),
        graft.Quant.mean6(graft.Quant.sumUs6Unbounded(col("value")),
          count(lit(1))).as("v_mean"),
        max(col("value")).as("v_max"),
        count(lit(1)).as("v_count"),
        min(col("t_us")).as("t_first"),
        max(col("t_us")).as("t_last"))

  /** Nearest: per stream, the latest point strictly before `time`
    * (backward=true, exclusive) or the earliest point at/after `time`
    * (forward, inclusive) — qtree/qtree.go:31-33. One shuffle-free
    * argmin/argmax aggregation per stream, not a sort.
    *
    * The argmax carries (t_us, value) so equal-timestamp ties (possible
    * after ns→µs truncation) resolve deterministically — max_by on the
    * bare timestamp would pick by encounter order, and the DuckDB oracle
    * could legitimately pick the other row.
    */
  def nearest(points: DataFrame, streamCols: Seq[String], time: Long,
              backward: Boolean): DataFrame = {
    val eligible =
      if (backward) points.filter(col("t_us") < time)
      else points.filter(col("t_us") >= time)
    val (tAgg, vAgg) =
      if (backward) (max(col("t_us")), max_by(col("value"), struct(col("t_us"), col("value"))))
      else (min(col("t_us")), min_by(col("value"), struct(col("t_us"), col("value"))))
    eligible.groupBy(streamKey(streamCols): _*)
      .agg(tAgg.as("t_us"), vAgg.as("value"))
  }

  /** Changes: time ranges containing points whose version lies in
    * (fromVer, toVer], coalesced to resolution 2^res — the Spark
    * re-expression of qtree.go FindChangedSince, which walks the COW tree
    * diff and merges adjacent changed ranges below the resolution cutoff:
    * changedRanges over the points alone.
    */
  def changes(points: DataFrame, streamCols: Seq[String], fromVer: Long, toVer: Long,
              res: Int): DataFrame =
    changedRanges(points, "t_us", None, streamCols, fromVer, toVer, res)

  /** Version-diff-driven incremental recompute — the changed-ranges
    * workflow BTrDB's GenerateCSV/changes API exists for (qtree version
    * diff → refresh only what moved): the window statistics AT `toVer`
    * for exactly the windows touched by an insert in (fromVer, toVer],
    * i.e. the refresh feed a downstream materialization applies instead
    * of recomputing the full range. Emits the standard windows() row
    * per changed window.
    *
    * Scale shape: the changed-window set is bounded by the DELTA, not
    * the history — a distinct over the delta's (stream, w_start) pairs —
    * and it joins the at-version scan on (stream, w_start) equality
    * (AQE broadcasts it when the delta is small), so only changed
    * windows aggregate. Windows a delete emptied are a Store-level
    * concern (tombstones live there, not in the raw frame); over the
    * insert log this is exact.
    */
  def windowsDelta(points: DataFrame, streamCols: Seq[String], fromVer: Long,
                   toVer: Long, start: Long, end: Long, width: Long): DataFrame = {
    require(fromVer <= toVer, s"fromVer $fromVer must be <= toVer $toVer")
    val key = streamKey(streamCols)
    val complete = inWindows(start, end, width)
    val changed = points
      .filter(col("ver") > fromVer && col("ver") <= toVer && complete)
      .select(key :+ widthBucket(start, width): _*)
      .distinct()
    statAgg(points
      .filter(col("ver") <= toVer && complete)
      .select(key :+ widthBucket(start, width) :+ col("value"): _*)
      .join(changed, streamCols :+ "w_start"), streamCols, col("w_start"))
  }

  /** Coalesce overlapping/adjacent [r_start, r_end) ranges per key —
    * gaps-and-islands via lag + running sum.
    */
  def mergeRanges(ranges: DataFrame, keyCols: Seq[String]): DataFrame = {
    val key = keyCols.map(col)
    val byKey = Window.partitionBy(key: _*).orderBy(col("r_start"))
    ranges
      .withColumn("prev_end", max(col("r_end")).over(
        byKey.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("is_new", when(col("prev_end").isNull ||
        col("r_start") > col("prev_end"), 1).otherwise(0))
      .withColumn("island", sum(col("is_new")).over(
        byKey.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(key :+ col("island"): _*)
      .agg(min(col("r_start")).as("c_start"), max(col("r_end")).as("c_end"))
      .drop("island")
  }

  /** Per-stream first difference / rate of change: for each point, the
    * delta against the previous point of the same stream — the derivative
    * query every TSDB front-end offers. Ordered by (t_us, value) so
    * equal-timestamp ties are deterministic; rate is per second (µs axis).
    * Runs as the two-phase sliced scan (see the primitives above cusum):
    * a local lag inside each timeline slice plus one exchanged boundary
    * row per slice — no task ever sorts a whole stream's history.
    */
  def delta(points: DataFrame, streamCols: Seq[String]): DataFrame = {
    val key = streamKey(streamCols)
    slicedPrev(
        timeSliced(
          points.select(key :+ col("t_us") :+ col("value"): _*),
          streamCols),
        streamCols)
      .filter(col("prev_t").isNotNull)
      .select(key ++ Seq(col("t_us"), col("value"),
        graft.Quant.q6(col("value") - col("prev_v")).as("dv"),
        (col("t_us") - col("prev_t")).as("dt_us"),
        // null rate on zero dt (equal-µs ties): engines disagree on x/0
        when(col("t_us") - col("prev_t") > 0,
          graft.Quant.q6((col("value") - col("prev_v")) /
            (col("t_us") - col("prev_t")).cast("double") * 1e6))
          .as("rate_per_s")): _*)
  }

  /** Inter-arrival histogram — per stream, consecutive-gap counts in
    * power-of-two µs buckets: bucket = the BIT LENGTH of dt
    * (length(bin(dt)) = floor(log2 dt) + 1 — exact integer string
    * arithmetic, no libm log for engines to disagree on), bucket 0 =
    * equal-µs ties (the duplicate-burst signal). The ingest-health
    * diagnostic gaps()'s fixed grid can't see: sampling-rate drift shows
    * as mass migrating buckets, jitter as a widening spread, and a
    * bimodal histogram as two interleaved regimes. Rides the same
    * two-phase sliced lag pass as delta(); the histogram itself is a
    * map-side-partial (stream, bucket) aggregate at metadata scale.
    */
  def gapHistogram(points: DataFrame, streamCols: Seq[String]): DataFrame = {
    val key = streamKey(streamCols)
    slicedPrev(
        timeSliced(
          points.select(key :+ col("t_us") :+ col("value"): _*),
          streamCols),
        streamCols)
      .filter(col("prev_t").isNotNull)
      .withColumn("dt_us", col("t_us") - col("prev_t"))
      .withColumn("bucket",
        when(col("dt_us") === 0, 0L).otherwise(length(bin(col("dt_us"))).cast("long")))
      .groupBy(key :+ col("bucket"): _*)
      .agg(count(lit(1)).as("n_gaps"),
        min(col("dt_us")).as("dt_min"),
        max(col("dt_us")).as("dt_max"))
      .withColumn("bucket_lo",
        when(col("bucket") === 0, 0L)
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket - 1 AS INT))")))
      .select(key ++ Seq(col("bucket"), col("bucket_lo"), col("n_gaps"),
        col("dt_min"), col("dt_max")): _*)
  }

  /** GenerateCSV, the full stat contract (grpcinterface/csv.go:50-107):
    * per output window one row, and per stream FOUR columns —
    * `{label}_min, {label}_mean, {label}_max, {label}_count` (csv.go's
    * calculateColumnOffset "2 + i*4" layout, with w_start standing in for
    * the two time columns). `streams` is (label, membership predicate). A
    * stream silent in a window exports nulls (writeEmptyPoint's empty
    * cells), including the count — a 0-count cell and an absent cell are
    * different answers in the reference. A stream's pinned version
    * (csv.go:30-43's per-config `ver`) is part of its predicate, e.g.
    * `col("user_id") === 2 && col("ver") <= 500L`. One pass + one
    * groupBy: the per-stream pivot is conditional aggregation, not N
    * scans or N joins; rows exist only for windows where at least one
    * stream has a point (the merge loop's earliest-time driver,
    * serve.go:969-999).
    */
  def csvExport(points: DataFrame, streams: Seq[(String, Column)],
                start: Long, end: Long, width: Long): DataFrame = {
    require(streams.nonEmpty, "csvExport needs at least one stream")
    val aggs = streams.flatMap { case (label, pred) =>
      val cnt = count(when(pred, lit(1)))
      Seq(
        min(when(pred, col("value"))).as(s"${label}_min"),
        graft.Quant.mean6(sum(when(pred, graft.Quant.us6(col("value")))), cnt)
          .as(s"${label}_mean"),
        max(when(pred, col("value"))).as(s"${label}_max"),
        when(cnt > 0, cnt).as(s"${label}_count"))
    }
    points
      .filter(streams.map(_._2).reduce(_ || _) && col("t_us") >= start && col("t_us") < end)
      .groupBy(widthBucket(start, width))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** GenerateCSV raw mode (csv.go:109-143 rawBuffer): one row per distinct
    * timestamp in [start, end), one VALUE column per stream (offset
    * "2 + i"), null where a stream has no point at that instant. Same
    * single-pass conditional-aggregation shape as the stat export, grouped
    * on the raw timestamp instead of a window. Duplicate timestamps
    * WITHIN one stream collapse to max(value) here — the compact
    * relational frame keyed by (t_us); csvExportRawExact below is the
    * row-per-point form that preserves them, matching the reference's
    * merge exactly.
    */
  def csvExportRaw(points: DataFrame, streams: Seq[(String, Column)],
                   start: Long, end: Long): DataFrame = {
    require(streams.nonEmpty, "csvExport needs at least one stream")
    val aggs = streams.map { case (label, pred) =>
      max(when(pred, col("value"))).as(label)
    }
    points
      .filter(streams.map(_._2).reduce(_ || _) && col("t_us") >= start && col("t_us") < end)
      .groupBy(col("t_us"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** GenerateCSV raw mode at EXACT row fidelity (csv.go:109-143
    * rawBuffer): the reference's merge loop emits one row per POINT, so
    * a stream with two points at the same timestamp produces two output
    * rows — csvExportRaw's relational collapse to max(value) is the one
    * place a ported export silently loses data. Here each point gets an
    * occurrence index `seq` within its (stream, timestamp) — duplicates
    * ordered ascending by value, the deterministic stand-in for the
    * reference's insertion order, which a relational frame doesn't
    * carry — and rows group on (t_us, seq): the k-th duplicates of
    * different streams share a row, exactly how the merge loop pairs
    * them up, and a stream with fewer duplicates goes null in the
    * overflow rows (writeEmptyPoint's empty cells). Still one pass: an
    * inline posexplode of the matched stream indexes, a window whose
    * partitions are single (stream, µs) instants — duplicate-count
    * frames, never corpus scale — and the same conditional-aggregation
    * pivot.
    */
  def csvExportRawExact(points: DataFrame, streams: Seq[(String, Column)],
                        start: Long, end: Long): DataFrame = {
    require(streams.nonEmpty, "csvExport needs at least one stream")
    val preds = streams.map(_._2)
    val matched = points
      .filter(preds.reduce(_ || _) && col("t_us") >= start && col("t_us") < end)
      .select(col("t_us"), col("value"),
        posexplode(array(preds.map(p => when(p, lit(1))): _*)).as(Seq("sidx", "hit")))
      .filter(col("hit").isNotNull)
    val wOcc = Window.partitionBy(col("sidx"), col("t_us")).orderBy(col("value"))
    val aggs = streams.zipWithIndex.map { case ((label, _), i) =>
      max(when(col("sidx") === i, col("value"))).as(label)
    }
    matched
      .withColumn("seq", row_number().over(wOcc).cast("long"))
      .groupBy(col("t_us"), col("seq"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Gap detection: the grid buckets of width `width` anchored at `start`
    * in which a stream has NO points — the telemetry-outage query (the
    * reference's users detect dead sensors by querying Windows and looking
    * for missing StatPoints; this returns the missing set directly).
    * Distributed grid generation (sequence+explode per stream) anti-joined
    * against the occupied buckets: both sides shuffle on (stream, bucket),
    * nothing quadratic.
    *
    * `streams` is the stream universe to grid over. At 100 TB the fleet
    * roster is METADATA (MetaStore's streams table), not something to
    * re-derive by a second full-history distinct over the raw points —
    * pass it and the plan reads raw data exactly once (the time-pruned
    * occupied scan). Default (None) falls back to distinct-on-raw so the
    * operator stays self-contained on a bare point set; the fallback scan
    * cannot be time-pruned (a stream silent in [start, end) must still
    * grid), which is exactly why the metadata path exists.
    */
  def gaps(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
           width: Long, streams: Option[DataFrame] = None): DataFrame = {
    val key = streamKey(streamCols)
    val completeEnd = windowsEnd(start, end, width)
    val occupied = points
      .filter(inRange(start, completeEnd))
      .select(key :+ widthBucket(start, width): _*)
      .distinct()
    val universe = streams.map(_.select(key: _*))
      .getOrElse(points.select(key: _*).distinct())
    val grid = universe
      .withColumn("w_start", explode(sequence(lit(start), lit(completeEnd - 1), lit(width))))
    grid.join(occupied, streamCols :+ "w_start", "left_anti")
  }

  /** Outage report: contiguous runs of empty grid windows per stream as
    * [start, end) intervals — gaps() merged through the same
    * gaps-and-islands coalescing Changes uses (mergeRanges). The
    * human-consumable form of the outage query: one row per outage, not
    * one per missing window.
    */
  def outages(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
              width: Long, streams: Option[DataFrame] = None): DataFrame =
    mergeRanges(
      gaps(points, streamCols, start, end, width, streams)
        .select(streamKey(streamCols) :+ col("w_start").as("r_start")
          :+ (col("w_start") + width).as("r_end"): _*),
      streamCols)

  /** The SRE reliability report built on outages(): per stream over
    * [start, completeEnd) — outage count, total downtime, MTTR (mean
    * outage duration) and availability. One extra keyed aggregate over
    * the coalesced outage intervals plus a left join against the distinct
    * stream set (zero-outage streams must report availability 1.0, and
    * they never appear in the outage list). Downtime granularity is whole
    * silent windows — the outages() contract.
    */
  def reliability(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
                  width: Long, streams: Option[DataFrame] = None): DataFrame = {
    val key = streamKey(streamCols)
    val completeEnd = windowsEnd(start, end, width)
    val spanUs = (completeEnd - start).toDouble
    val agg = outages(points, streamCols, start, end, width, streams)
      .groupBy(key: _*)
      .agg(count(lit(1)).as("n_o"), sum(col("c_end") - col("c_start")).as("d_us"))
    streams.map(_.select(key: _*))
      .getOrElse(points.select(key: _*).distinct())
      .join(agg, streamCols, "left")
      .select(key ++ Seq(
        coalesce(col("n_o"), lit(0L)).as("n_outages"),
        coalesce(col("d_us"), lit(0L)).as("downtime_us")): _*)
      .select(key ++ Seq(col("n_outages"), col("downtime_us"),
        when(col("n_outages") > 0,
          graft.Quant.q6(col("downtime_us").cast("double") / col("n_outages")))
          .otherwise(0d).as("mttr_us"),
        graft.Quant.q6(lit(1.0) - col("downtime_us").cast("double") / spanUs)
          .as("availability")): _*)
  }

  // ---------------------------------------------------------------------
  // Two-phase per-stream sequential scan primitives.
  //
  // A window `PARTITION BY stream ORDER BY t_us` over raw points funnels
  // each stream's ENTIRE history through one task's sort — at the
  // reference's design point (billions of points per stream; the whole
  // reason qtree.go exists) that task OOMs. The same two-phase recipe as
  // the corpus prefix sum (TextFunctions.stratumPrefixSum) fixes every
  // operator of this class:
  //
  //   1. cut the time axis into ~parts quantile buckets (slices) and
  //      hash-partition ONCE on (stream, slice) — each (stream, slice)
  //      group is a contiguous slice of that stream's timeline, bounded
  //      by the bucket population, never stream-sized;
  //   2. exchange ONE row per (stream, slice) — boundary rows / slice sums,
  //      metadata-scale — and lag/prefix THOSE with a tiny window;
  //   3. broadcast the per-slice carries back and finish locally with a
  //      window keyed by (stream, slice), whose groups are bounded by the
  //      bucket population regardless of stream skew.
  //
  // Results are identical to the single-window form (the oracle replays
  // that form): the carry algebra is independent of WHERE the bucket
  // boundaries fall, and rows tying on t_us share a bucket by
  // construction.
  // ---------------------------------------------------------------------

  /** Quantile cuts per (canonical input plan, parts), JVM-wide. The
    * sketch pass behind each entry is a full scan of the frame's time
    * column, so long-lived sessions replaying sliced ops over the same
    * tables save one data pass per repeat. Safe to cache through
    * ANYTHING — hash collisions, appended data, reused plans — because
    * boundary placement never affects results, only balance; a stale
    * entry costs skew, not correctness. Bounded by wholesale clear
    * (entries are a few hundred bytes; sessions issuing many sliced ops
    * over the same tables hit the same few keys).
    */
  private[graft] val cutsCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Long]]()

  /** Phase 1: contiguous timeline slices. Input must carry (t_us, value)
    * plus the key columns; `slice` is the row's bucket ordinal between
    * precomputed approximate-quantile cuts of t_us.
    *
    * The slice is assigned BEFORE the exchange and the frame is then
    * hash-partitioned on (stream key, slice), so ONE full-data exchange
    * satisfies every downstream (stream, slice)-keyed window and
    * aggregate. The previous form (repartitionByRange +
    * spark_partition_id) needed a SECOND full-data hash exchange to
    * cluster the windows and a full re-sort under the boundary
    * aggregate — and its slice ids were execution-dependent, correct in
    * the two plan branches only while exchange reuse happened to fire;
    * quantile cuts are driver-side constants, deterministic in every
    * branch by construction.
    *
    * Boundary PLACEMENT never affects results (the carry algebra is
    * boundary-independent, and rows tying on t_us share a bucket by
    * construction — RewriteEquivalenceSpec pins both), so approximate
    * quantiles are exactly as correct as exact ones; the sketch pass
    * reads only the time column. Slice population stays bounded at
    * ~rows/parts across streams, and since the exchange is an ordinary
    * hash shuffle, AQE's skew-split/coalesce apply to it.
    */
  private[graft] def timeSliced(df: DataFrame, streamCols: Seq[String]): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    if (cutsCache.size > 256) cutsCache.clear()
    val key = (df.queryExecution.analyzed.canonicalized.hashCode(), parts)
    val cuts = cutsCache.computeIfAbsent(key, { _ =>
      df.stat.approxQuantile(
          "t_us", (1 until parts).map(_.toDouble / parts).toArray, 0.01)
        .map(math.ceil(_).toLong).distinct.sorted
    })
    // slice id = count of cuts ≤ t_us, as ONE codegen binary search
    // (graft.plans.SliceId). The previous |cuts|-deep nested-when fold
    // was O(parts) per row AND overflowed the driver stack converting
    // the Column at the campaign config's 2048 initial partitions —
    // ts_value_runs could not run at 100× at all (r17; value-identical
    // replacement, SliceIdSpec pins it against the fold form).
    // coalesce: the fold form scored a null t_us as slice 0 (every
    // `when` fell to otherwise(0)); the null-intolerant expression must
    // keep that contract
    df.withColumn("slice",
      coalesce(graft.plans.SliceId.sliceId(col("t_us"), cuts), lit(0)))
  }

  /** The main-branch exchange: cluster the sliced frame on (stream,
    * slice) so every downstream point-level window runs with only a
    * local sort. Carry branches deliberately do NOT consume this — an
    * order-free carry aggregates the un-exchanged frame directly
    * (map-side partials make its shuffle metadata-scale), and an
    * order-dependent one reads the window output so the exchange is
    * reused — so no branch ever re-shuffles the full frame.
    */
  private def clustered(sliced: DataFrame, streamCols: Seq[String]): DataFrame = {
    val parts = sliced.sparkSession.sessionState.conf.numShufflePartitions
    sliced.repartition(parts, sliceKey(streamCols): _*)
  }

  private def sliceKey(streamCols: Seq[String]): Seq[Column] =
    streamKey(streamCols) :+ col("slice")

  /** Null-safe broadcast join back on (stream key, slice) — `usingColumns`
    * equality would silently drop null-keyed streams the window form kept.
    */
  private def joinOnSlice(rows: DataFrame, perSlice: DataFrame,
                          streamCols: Seq[String]): DataFrame = {
    val renamed = perSlice.columns.foldLeft(perSlice) { (d, c) =>
      if (streamCols.contains(c) || c == "slice") d.withColumnRenamed(c, s"__j_$c") else d
    }
    val cond = (streamCols :+ "slice")
      .map(c => col(c) <=> col(s"__j_$c")).reduce(_ && _)
    rows.join(broadcast(renamed), cond, "left")
      .drop((streamCols :+ "slice").map(c => s"__j_$c"): _*)
  }

  /** Phase 2+3 for lag-shaped operators: every row gets its predecessor's
    * (t_us, value) in (t_us, value) order — local lag inside the slice,
    * the previous slice's last row (one exchanged boundary row per slice)
    * for each slice's first row. Output adds prev_t / prev_v.
    */
  private[graft] def slicedPrev(sliced: DataFrame, streamCols: Seq[String]): DataFrame = {
    val wLocal = Window.partitionBy(sliceKey(streamCols): _*)
      .orderBy(col("t_us"), col("value"))
    val wSlices = Window.partitionBy(streamKey(streamCols): _*).orderBy(col("slice"))
    // boundary rows aggregate the UN-exchanged frame: max(struct) is an
    // order-free aggregate with a map-side partial at the scan, so this
    // branch shuffles only (stream, slice) summary rows — never the full
    // frame, and never via a second copy of the main exchange
    val bounds = sliced.groupBy(sliceKey(streamCols): _*)
      .agg(max(struct(col("t_us"), col("value"))).as("last_tv"))
      .withColumn("b_prev", lag(col("last_tv"), 1).over(wSlices))
      .select(sliceKey(streamCols) :+
        col("b_prev.t_us").as("b_prev_t") :+ col("b_prev.value").as("b_prev_v"): _*)
    joinOnSlice(
        clustered(sliced, streamCols)
          .withColumn("lp_t", lag(col("t_us"), 1).over(wLocal))
          .withColumn("lp_v", lag(col("value"), 1).over(wLocal)),
        bounds, streamCols)
      // guard on lp_t (t_us is never null): lp_v may be a legitimate null
      // VALUE from an existing predecessor, which must not fall through to
      // the boundary row
      .withColumn("prev_t", when(col("lp_t").isNotNull, col("lp_t")).otherwise(col("b_prev_t")))
      .withColumn("prev_v", when(col("lp_t").isNotNull, col("lp_v")).otherwise(col("b_prev_v")))
      .drop("lp_t", "lp_v", "b_prev_t", "b_prev_v")
  }

  /** Phase 2+3 for prefix-sum-shaped operators: `outName` = the running
    * sum of `inc` in (t_us, value) order — per-slice sums exchanged,
    * prefix-summed over the metadata-scale slice rows, broadcast back as
    * carry offsets onto the slice-local running sum.
    */
  private[graft] def slicedRunningSum(sliced: DataFrame, streamCols: Seq[String],
                                      inc: Column, outName: String): DataFrame = {
    val wLocal = Window.partitionBy(sliceKey(streamCols): _*)
      .orderBy(col("t_us"), col("value"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wCarry = Window.partitionBy(streamKey(streamCols): _*).orderBy(col("slice"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withInc = sliced.withColumn("__inc", inc)
    // slice sums are order-free: aggregate the UN-exchanged frame (map-
    // side partials at the scan), so the carry branch never shuffles or
    // re-sorts the full frame — only the main branch pays the one
    // (stream, slice) exchange
    val offsets = withInc.groupBy(sliceKey(streamCols): _*)
      .agg(sum(col("__inc")).as("__slice_sum"))
      .withColumn("__carry", sum(col("__slice_sum")).over(wCarry))
      .select(sliceKey(streamCols) :+ col("__carry"): _*)
    joinOnSlice(clustered(withInc, streamCols), offsets, streamCols)
      .withColumn(outName,
        coalesce(col("__carry"), lit(0)) + sum(col("__inc")).over(wLocal))
      .drop("__inc", "__carry")
  }

  /** Fused phase 2+3 for gaps-and-islands operators: `outName` = the
    * running island count per stream in (t_us, value) order, where a row
    * starts a new island iff it has no predecessor or
    * isNew(curT, curV, prevT, prevV). Chaining slicedPrev +
    * slicedRunningSum would run the full-data lag pass twice (the carry
    * branch re-derives the increments) and join twice; this fuses them:
    * ONE local pass (lag + running count per slice) and ONE
    * metadata-scale branch — per-slice boundary rows and local island
    * counts, with a correction where a slice's first row locally counted
    * itself a new island but its true predecessor (the previous slice's
    * last row) continues it — prefix-summed into a single per-slice carry
    * and broadcast back.
    */
  private[graft] def slicedIslands(sliced: DataFrame, streamCols: Seq[String],
      isNew: (Column, Column, Column, Column) => Column,
      outName: String): DataFrame = {
    val wLocal = Window.partitionBy(sliceKey(streamCols): _*)
      .orderBy(col("t_us"), col("value"))
    // island starts are order-DEPENDENT (lag), so the meta branch reads
    // the window output below — its exchange is the reused main-branch
    // one, never a second full shuffle
    val local = clustered(sliced, streamCols)
      .withColumn("lp_t", lag(col("t_us"), 1).over(wLocal))
      .withColumn("lp_v", lag(col("value"), 1).over(wLocal))
      .withColumn("__inc", when(col("lp_t").isNull ||
          isNew(col("t_us"), col("value"), col("lp_t"), col("lp_v")), 1).otherwise(0))
      .withColumn("__run_local", sum(col("__inc")).over(
        wLocal.rowsBetween(Window.unboundedPreceding, 0)))
    val wSlices = Window.partitionBy(streamKey(streamCols): _*).orderBy(col("slice"))
    val meta = local.groupBy(sliceKey(streamCols): _*)
      .agg(min(struct(col("t_us"), col("value"))).as("first_tv"),
        max(struct(col("t_us"), col("value"))).as("last_tv"),
        sum(col("__inc")).as("n_new"))
      .withColumn("prev_last", lag(col("last_tv"), 1).over(wSlices))
      // the correction: every row of a continuing slice is over-counted
      // by exactly the first row's phantom island
      .withColumn("corr", when(col("prev_last").isNotNull &&
          !(isNew(col("first_tv.t_us"), col("first_tv.value"),
            col("prev_last.t_us"), col("prev_last.value")) <=> lit(true)), -1L)
        .otherwise(0L))
      .withColumn("carry", coalesce(sum(col("n_new") + col("corr")).over(
          wSlices.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) + col("corr"))
      .select(sliceKey(streamCols) :+ col("carry"): _*)
    joinOnSlice(local, meta, streamCols)
      .withColumn(outName, col("__run_local") + col("carry"))
      .drop("lp_t", "lp_v", "__inc", "__run_local", "carry")
  }

  /** CUSUM change detection: per stream, the running sum of deviations
    * from the stream's global mean — drifts show as sustained slopes, level
    * shifts as kinks (the classic SPC chart). The mean is the rounded
    * integer micro-unit mean (one broadcast stats pass, as anomalies), so
    * the cumulative sum is EXACT integer arithmetic — no float accumulation
    * order to disagree on — accumulated as DECIMAL (an unbounded-length
    * prefix sum, per the graft.Quant overflow rule) and quantized once on
    * emit. The prefix sum runs as the two-phase sliced scan (see above):
    * exact integer carries commute, so slice offsets + local sums
    * reproduce the stream-wide window bit-for-bit.
    */
  def cusum(points: DataFrame, streamCols: Seq[String]): DataFrame = {
    val key = streamKey(streamCols)
    val stats = streamStats(points, streamCols)
      .select(key :+ round(col("mean_us"), 0).cast("long").as("mean_i"): _*)
    val sliced = timeSliced(
        points.select(key :+ col("t_us") :+ col("value"): _*),
        streamCols)
      .join(broadcast(stats), streamCols)
    val dev = (graft.Quant.us6(col("value")) - col("mean_i")).cast("decimal(38,0)")
    slicedRunningSum(sliced, streamCols, dev, "cum_us")
      .select(key ++ Seq(col("t_us"), col("value"),
        graft.Quant.q6(col("cum_us").cast("double") / 1e6).as("cusum")): _*)
  }

  /** As-of join: for each left point, the latest right value with
    * t_right <= t_left, per join key; `toleranceUs` nulls stale matches.
    *
    * Planned as graft's custom Catalyst operator (graft.plans.AsofJoin →
    * AsofMergeJoinExec): both sides hash-clustered on the key and sorted by
    * (key, time), then a streaming two-pointer merge in O(1) memory per
    * partition — no union materialization, no window state. Falls back to
    * the declarative union + last-ignoring-nulls window plan when the
    * session was built without GraftExtensions (same results, one extra
    * column of window state per row).
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
               leftValue: String = "value", rightValue: String = "value",
               asOfCol: String = "t_us",
               toleranceUs: Option[Long] = None): DataFrame = {
    val spark = left.sparkSession
    val merged = spark.sessionState.planner.strategies.contains(graft.plans.GraftStrategies)
    if (!merged)
      return asofJoinWindowed(left, right, keyCols, leftValue, rightValue, asOfCol, toleranceUs)
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.DoubleType
    val l = left.select(keyCols.map(col) ++
      Seq(col(asOfCol), col(leftValue).as("l_value")): _*)
    // fresh aliases on the right give it disjoint expression ids — the
    // usual self-join case (two filters of one table) would otherwise put
    // duplicate attributes under one binary node
    val r = right.select(keyCols.map(c => col(c).as(s"__rk_$c")) ++
      Seq(col(asOfCol).as("__rt"), col(rightValue).cast("double").as("__rv")): _*)
    val lp = l.queryExecution.analyzed
    val rp = r.queryExecution.analyzed
    def att(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(sys.error(s"missing column $n"))
    val node = graft.plans.AsofJoin(lp, rp,
      keyCols.map(att(lp, _)), keyCols.map(c => att(rp, s"__rk_$c")),
      att(lp, asOfCol), att(rp, "__rt"), att(rp, "__rv"), toleranceUs,
      AttributeReference("asof_value", DoubleType)())
    org.apache.spark.sql.graft.GraftSqlShim.ofRows(spark, node)
  }

  /** The declarative as-of plan (union + partitioned last-ignoring-nulls
    * window): one shuffle on the stream key, no quadratic range-condition
    * fallback. Kept as the extension-free fallback and as the independent
    * reference implementation the merge operator is spec-checked against.
    */
  def asofJoinWindowed(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                       leftValue: String = "value", rightValue: String = "value",
                       asOfCol: String = "t_us",
                       toleranceUs: Option[Long] = None): DataFrame = {
    val key = keyCols.map(col)
    val l = left.select(key :+ col(asOfCol) :+ col(leftValue).as("l_value"): _*)
      .withColumn("r_value", lit(null).cast("double"))
      .withColumn("is_left", lit(1))
    val r = right.select(key :+ col(asOfCol) :+ lit(null).cast("double").as("l_value")
        :+ col(rightValue).as("r_value"): _*)
      .withColumn("is_left", lit(0))
    // right rows sort before left rows at equal timestamps => a right point
    // at exactly t is visible to a left point at t (<= semantics).
    val w = Window.partitionBy(key: _*).orderBy(col(asOfCol), col("is_left"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // the matched right TIMESTAMP travels with the value so a staleness
    // bound (toleranceUs) can null out matches older than the window —
    // the standard "don't join a quote from last week" asof knob
    val matched = last(when(col("is_left") === 0,
      struct(col(asOfCol).as("t"), col("r_value").as("v"))), ignoreNulls = true).over(w)
    val inTol = toleranceUs.fold(lit(true))(tol =>
      col(asOfCol) - col("m.t") <= tol)
    l.select(r.columns.map(col): _*).unionByName(r.select(r.columns.map(col): _*))
      .withColumn("m", matched)
      .filter(col("is_left") === 1)
      .select(key :+ col(asOfCol) :+ col("l_value")
        :+ when(col("m").isNotNull && inTol, col("m.v")).as("asof_value"): _*)
  }

  /** Per-stream EWMA over the window-mean series: classic exponential
    * smoothing (s_0 = m_0; s_t = (1-α)·s_{t-1} + α·m_t) applied to the
    * windows() output, NOT to raw points — at 100 TB the smoothing input
    * is the bounded per-stream window series (the rollup-sized data), so
    * the sequential fold is per-group metadata-scale work. The fold is an
    * aggregate() over the collected window series; both coefficients are
    * serialized with Double.toString so the SQL oracle replays the exact
    * same float ops (no pow(), whose last-ulp behavior differs per libm).
    */
  def ewma(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
           width: Long, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val key = streamKey(streamCols)
    val a = java.lang.Double.toString(alpha)
    val b = java.lang.Double.toString(1.0 - alpha)
    windows(points, streamCols, start, end, width)
      .groupBy(key: _*)
      .agg(sort_array(collect_list(struct(col("w_start"), col("v_mean")))).as("ser"))
      .withColumn("ew", expr(
        s"""aggregate(ser, CAST(array() AS ARRAY<DOUBLE>),
           |  (acc, x) -> array_append(acc,
           |    CASE WHEN size(acc) = 0 THEN x.v_mean
           |         ELSE element_at(acc, -1) * $b + x.v_mean * $a END))""".stripMargin))
      .select(key :+ posexplode(arrays_zip(col("ser"), col("ew"))): _*)
      .select(key ++ Seq(col("col.ser.w_start").as("w_start"),
        col("col.ser.v_mean").as("v_mean"),
        graft.Quant.q6(col("col.ew")).as("ewma")): _*)
  }

  /** Holt's linear (double exponential) smoothing over the window-mean
    * series: level l_t = α·m_t + (1−α)·(l_{t−1} + b_{t−1}), trend
    * b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}, initialized (l_1, b_1) =
    * (m_1, 0). Same scale shape as ewma(): the sequential fold runs over
    * the BOUNDED per-stream window series, never raw points; coefficients
    * are serialized via Double.toString so the recursive-CTE oracle
    * replays bit-identical float ops (l_t is spelled out twice inside b_t
    * — the identical expression yields the identical double).
    */
  def holt(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
           width: Long, alpha: Double, beta: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(beta >= 0 && beta <= 1, s"beta must be in [0, 1], got $beta")
    val key = streamKey(streamCols)
    val a = java.lang.Double.toString(alpha)
    val ia = java.lang.Double.toString(1.0 - alpha)
    val b = java.lang.Double.toString(beta)
    val ib = java.lang.Double.toString(1.0 - beta)
    val lNew = s"$a * x.v_mean + $ia * (element_at(acc, -1).l + element_at(acc, -1).b)"
    windows(points, streamCols, start, end, width)
      .groupBy(key: _*)
      .agg(sort_array(collect_list(struct(col("w_start"), col("v_mean")))).as("ser"))
      .withColumn("hw", expr(
        s"""aggregate(ser, CAST(array() AS ARRAY<STRUCT<l: DOUBLE, b: DOUBLE>>),
           |  (acc, x) -> array_append(acc,
           |    CASE WHEN size(acc) = 0
           |         THEN named_struct('l', x.v_mean, 'b', CAST(0.0 AS DOUBLE))
           |         ELSE named_struct(
           |           'l', $lNew,
           |           'b', $b * (($lNew) - element_at(acc, -1).l)
           |                + $ib * element_at(acc, -1).b) END))""".stripMargin))
      .select(key :+ posexplode(arrays_zip(col("ser"), col("hw"))): _*)
      .select(key ++ Seq(col("col.ser.w_start").as("w_start"),
        col("col.ser.v_mean").as("v_mean"),
        graft.Quant.q6(col("col.hw.l")).as("level"),
        graft.Quant.q6(col("col.hw.b")).as("trend")): _*)
  }

  /** Holt-Winters additive triple smoothing — the seasonal forecaster
    * (level + trend + seasonal with period p windows) on top of holt():
    *   l_t = α·(m_t − s_{t−p}) + (1−α)·(l_{t−1} + b_{t−1})
    *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
    *   s_t = γ·(m_t − l_t) + (1−γ)·s_{t−p}
    * zero-initialized seasonals (s_{t−p} = 0 while t < p), (l_0, b_0) =
    * (m_0, 0) — the deterministic textbook recurrence. Same scale and
    * determinism contract as holt(): the fold runs over the BOUNDED
    * per-stream window-mean series, coefficients serialize via
    * Double.toString, and the recursive-CTE oracle carries the seasonal
    * history as a LIST so every float op replays bit-identically (l_t
    * and s_{t−p} are spelled out repeatedly — identical expressions
    * yield identical doubles).
    */
  private def hwFold(points: DataFrame, streamCols: Seq[String], start: Long,
                     end: Long, width: Long, period: Int, alpha: Double,
                     beta: Double, gamma: Double): DataFrame = {
    require(period >= 2, s"period must be at least 2 windows, got $period")
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(beta >= 0 && beta <= 1, s"beta must be in [0, 1], got $beta")
    require(gamma >= 0 && gamma <= 1, s"gamma must be in [0, 1], got $gamma")
    val key = streamKey(streamCols)
    val a = java.lang.Double.toString(alpha)
    val ia = java.lang.Double.toString(1.0 - alpha)
    val b = java.lang.Double.toString(beta)
    val ib = java.lang.Double.toString(1.0 - beta)
    val g = java.lang.Double.toString(gamma)
    val ig = java.lang.Double.toString(1.0 - gamma)
    val sPrev = s"CASE WHEN size(acc) >= $period THEN element_at(acc, -$period).s " +
      "ELSE CAST(0.0 AS DOUBLE) END"
    val lNew = s"$a * (x.v_mean - ($sPrev)) + " +
      s"$ia * (element_at(acc, -1).l + element_at(acc, -1).b)"
    windows(points, streamCols, start, end, width)
      .groupBy(key: _*)
      .agg(sort_array(collect_list(struct(col("w_start"), col("v_mean")))).as("ser"))
      .withColumn("hw", expr(
        s"""aggregate(ser, CAST(array() AS ARRAY<STRUCT<l: DOUBLE, b: DOUBLE, s: DOUBLE>>),
           |  (acc, x) -> array_append(acc,
           |    CASE WHEN size(acc) = 0
           |         THEN named_struct('l', x.v_mean, 'b', CAST(0.0 AS DOUBLE),
           |                           's', CAST(0.0 AS DOUBLE))
           |         ELSE named_struct(
           |           'l', $lNew,
           |           'b', $b * (($lNew) - element_at(acc, -1).l)
           |                + $ib * element_at(acc, -1).b,
           |           's', $g * (x.v_mean - ($lNew)) + $ig * ($sPrev)) END))""".stripMargin))
  }

  def holtWinters(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
                  width: Long, period: Int, alpha: Double, beta: Double,
                  gamma: Double): DataFrame = {
    val key = streamKey(streamCols)
    hwFold(points, streamCols, start, end, width, period, alpha, beta, gamma)
      .select(key :+ posexplode(arrays_zip(col("ser"), col("hw"))): _*)
      .select(key ++ Seq(col("col.ser.w_start").as("w_start"),
        col("col.ser.v_mean").as("v_mean"),
        graft.Quant.q6(col("col.hw.l")).as("level"),
        graft.Quant.q6(col("col.hw.b")).as("trend"),
        graft.Quant.q6(col("col.hw.s")).as("seasonal")): _*)
  }

  /** The forecast SERVED from the Holt-Winters state — ŷ(T+h) =
    * l_T + h·b_T + s_{T−p+1+((h−1) mod p)} for h = 1..horizon, the
    * query a dashboard's "next week" band runs. Pure arithmetic on the
    * fold's final state (one struct per stream): no extra pass over
    * points, seasonal indices resolve inside a transform() HOF, and
    * streams shorter than one period fall back to seasonal 0 — all
    * replayed exactly by the recursive-CTE oracle's carried ring.
    */
  def holtWintersForecast(points: DataFrame, streamCols: Seq[String], start: Long,
                          end: Long, width: Long, period: Int, alpha: Double,
                          beta: Double, gamma: Double, horizon: Int): DataFrame = {
    require(horizon >= 1, s"horizon must be at least 1, got $horizon")
    val key = streamKey(streamCols)
    hwFold(points, streamCols, start, end, width, period, alpha, beta, gamma)
      .select(key ++ Seq(
        element_at(col("ser"), -1).getField("w_start").as("last_w"),
        element_at(col("hw"), -1).getField("l").as("l"),
        element_at(col("hw"), -1).getField("b").as("b"),
        col("hw"), size(col("hw")).as("n")): _*)
      .select(key :+ explode(expr(
        s"""transform(sequence(1, $horizon), h -> named_struct(
           |  'h', CAST(h AS BIGINT),
           |  'w_start', last_w + CAST(h AS BIGINT) * ${width}L,
           |  'forecast', l + CAST(h AS DOUBLE) * b +
           |    CASE WHEN n - $period + ((h - 1) % $period) >= 0
           |         THEN element_at(hw, n - $period + ((h - 1) % $period) + 1).s
           |         ELSE CAST(0.0 AS DOUBLE) END))""".stripMargin)).as("f"): _*)
      .select(key ++ Seq(col("f.h").as("h"), col("f.w_start").as("w_start"),
        graft.Quant.q6(col("f.forecast")).as("forecast")): _*)
  }

  /** Linear interpolation onto a regular [start, end) grid: at each grid
    * time g, the value is the point AT g if one exists, otherwise the
    * linear blend of the last point before and first point after g (null
    * when either side is missing). Same union-the-grid shape as asofJoin —
    * one shuffle per stream key, no range join. Equal-timestamp ties take
    * the max value (the deterministic last-write-wins used throughout).
    */
  def interpolate(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
                  width: Long): DataFrame = {
    val key = streamKey(streamCols)
    val pts = points
      // one value per (stream, t): ties resolve to max BEFORE the window
      // walk so prev/next agree with the oracle under duplicate timestamps
      .groupBy(key :+ col("t_us"): _*).agg(max(col("value")).as("value"))
      .select(key ++ Seq(col("t_us").as("t"), col("value"), lit(0).as("is_grid")): _*)
    val grid = points.select(key: _*).distinct()
      .withColumn("t", explode(sequence(lit(start), lit(end - 1), lit(width))))
      .withColumn("value", lit(null).cast("double"))
      .withColumn("is_grid", lit(1))
    // point rows sort before the grid row at equal t => a point exactly at
    // g lands in the "previous" frame and pins the interpolation to it
    val ord = Window.partitionBy(key: _*).orderBy(col("t"), col("is_grid"))
    val wPrev = ord.rowsBetween(Window.unboundedPreceding, -1)
    val wNext = ord.rowsBetween(1, Window.unboundedFollowing)
    val pv = when(col("is_grid") === 1, last(when(col("is_grid") === 0,
      struct(col("t"), col("value"))), ignoreNulls = true).over(wPrev))
    val nx = when(col("is_grid") === 1, first(when(col("is_grid") === 0,
      struct(col("t"), col("value"))), ignoreNulls = true).over(wNext))
    pts.unionByName(grid)
      .withColumn("pv", pv).withColumn("nx", nx)
      .filter(col("is_grid") === 1)
      .select(key ++ Seq(col("t").as("g_t"),
        graft.Quant.q6(
          when(col("pv.t") === col("t"), col("pv.value"))
            .otherwise(col("pv.value") + (col("nx.value") - col("pv.value")) *
              ((col("t") - col("pv.t")).cast("double") /
                (col("nx.t") - col("pv.t")).cast("double"))))
          .as("v_interp")): _*)
  }

  /** Per-(stream, window, value-bin) histogram: bin = floor(value / binWidth)
    * as an exact integer — the distribution query behind latency heatmaps.
    * Pure integer counts over a computed column: map-side partial, nothing
    * to round, scales like any windowed aggregation.
    */
  def histogram(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
                width: Long, binWidth: Double): DataFrame = {
    val key = streamKey(streamCols)
    points
      .filter(inWindows(start, end, width))
      .groupBy(key :+ widthBucket(start, width)
        :+ floor(col("value") / binWidth).cast("long").as("bin"): _*)
      .agg(count(lit(1)).as("n"))
  }

  /** histogram_quantile (the PromQL estimator): per-window quantile
    * estimates FROM the binned counts — the query a metrics backend
    * answers when only histogram buckets survive (raw samples long
    * discarded). For each φ, rank = φ·N; the answering bin is the first
    * whose cumulative count reaches the rank (cum_prev < rank ≤ cum —
    * exactly one bin qualifies since cum strictly increases on present
    * bins), and the estimate interpolates uniformly within it:
    * bin·w + w·(rank − cum_prev)/n_bin. All counts are exact longs far
    * below 2^53, so the one rank product and one interpolation divide
    * are the only float ops and both engines replay them bit-for-bit.
    * ts_percentile is the exact-rank answer from raw points; this is
    * what you get when the bins are all you kept — the spread between
    * them is the binning error, which is the operator's point.
    */
  def histogramQuantile(points: DataFrame, streamCols: Seq[String], start: Long,
                        end: Long, width: Long, binWidth: Double, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1), s"quantiles must be in (0,1]: $ps")
    val key = streamKey(streamCols)
    val grp = key :+ col("w_start")
    val ord = Window.partitionBy(grp: _*).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val h = histogram(points, streamCols, start, end, width, binWidth)
      .withColumn("cum", sum(col("n")).over(ord))
      .withColumn("total", sum(col("n")).over(Window.partitionBy(grp: _*)))
    def label(p: Double) =
      "p" + (if (p * 100 == (p * 100).floor) (p * 100).toInt.toString
             else java.lang.Double.toString(p).replace('.', '_').replace("0_", ""))
    val aggs = ps.map { p =>
      val rank = lit(p) * col("total").cast("double")
      val cumPrev = (col("cum") - col("n")).cast("double")
      val sel = cumPrev < rank && rank <= col("cum").cast("double")
      max(when(sel,
        col("bin").cast("double") * binWidth +
          lit(binWidth) * (rank - cumPrev) / col("n").cast("double")))
        .as(label(p) + "_est")
    } :+ max(col("total")).as("n_points")
    h.groupBy(grp: _*).agg(aggs.head, aggs.tail: _*)
      .select(key ++ Seq(col("w_start"), col("n_points")) ++
        ps.map(p => graft.Quant.q6(col(label(p) + "_est")).as(label(p) + "_est")): _*)
  }

  /** Calendar profile: per (stream, day-of-week, hour-of-day) sample count,
    * exact mean, and min/max over [start, end) — the weekly-seasonality
    * fingerprint behind capacity dashboards (in the reference this takes
    * 168 repeated Windows scans per stream, btrdb.go QueryWindow; here it
    * is ONE pass). Both phase columns derive from pure epoch-µs integer
    * arithmetic relative to `start` — dow 0 = the weekday of `start`
    * (callers pass a Monday-aligned start for ISO numbering), hour in
    * 0..23 UTC-offset-free — so the engine and the DuckDB oracle compute
    * identical buckets with no calendar library, timezone, or DST rule
    * involved. One map-side-partial aggregation over counts + integer
    * micro-unit sums; output ≤ |streams| × 168 rows.
    *
    * The phase divisions are exact in IEEE double: both numerators are
    * pmod-floored multiples of their divisor, and |t_us − start| stays
    * far below 2^53 for any real time range.
    */
  def calendarProfile(points: DataFrame, streamCols: Seq[String], start: Long,
                      end: Long): DataFrame = {
    val key = streamKey(streamCols)
    val day = 86400000000L
    val hour = 3600000000L
    val d = col("t_us") - start
    val dow = pmod(((d - pmod(d, lit(day))) / day).cast("long"), lit(7L)).as("dow")
    val hr = ((pmod(d, lit(day)) - pmod(d, lit(hour))) / hour).cast("long").as("hour")
    points
      .filter(col("t_us") >= start && col("t_us") < end)
      .groupBy(key :+ dow :+ hr: _*)
      .agg(count(lit(1)).as("n"),
        sum(graft.Quant.us6(col("value"))).as("sum_us"),
        min(col("value")).as("v_min"),
        max(col("value")).as("v_max"))
      .select(key ++ Seq(col("dow"), col("hour"), col("n"),
        graft.Quant.mean6(col("sum_us"), col("n")).as("v_mean"),
        col("v_min"), col("v_max")): _*)
  }

  /** Counter-reset-aware per-window increase and rate (the PromQL
    * increase()/rate() semantics): per point, the positive delta against
    * the previous sample — a negative delta means the counter reset, and
    * the new absolute value IS the increase since the reset. Increases are
    * summed per window as exact micro-units (order-independent), rate is
    * the window sum divided by the window span in seconds.
    */
  def counterRate(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
                  width: Long): DataFrame = {
    val key = streamKey(streamCols)
    val w = Window.partitionBy(key: _*).orderBy(col("t_us"), col("value"))
    val inc = points
      .select(key :+ col("t_us") :+ col("value"): _*)
      .withColumn("prev_v", lag(col("value"), 1).over(w))
      .filter(inWindows(start, end, width))
      .withColumn("inc",
        when(col("prev_v").isNull, lit(null).cast("double"))
          .when(col("value") >= col("prev_v"), col("value") - col("prev_v"))
          .otherwise(col("value")))
    inc.groupBy(key :+ widthBucket(start, width): _*)
      .agg(sum(graft.Quant.us6(col("inc"))).as("inc_us"),
        count(col("inc")).as("n_samples"))
      .select(key ++ Seq(col("w_start"),
        (col("inc_us").cast("double") / 1e6 + lit(0d)).as("increase"),
        graft.Quant.q6(col("inc_us").cast("double") / 1e6 / (width.toDouble / 1e6))
          .as("rate_per_s"),
        col("n_samples")): _*)
  }

  /** M4 downsampling: per window, the four value-extremes a pixel column
    * needs — first, min, max, last — plus their time bounds (the other
    * standard error-free visual downsampler next to LTTB; one map-side-
    * partial aggregation, no sequential pass). Ties at the first/last
    * timestamp resolve by (t, value) struct order: first takes the smaller
    * value, last the larger — the deterministic two-level rule used by
    * nearest().
    */
  def m4(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
         width: Long): DataFrame = {
    val key = streamKey(streamCols)
    points
      .filter(inWindows(start, end, width))
      .groupBy(key :+ widthBucket(start, width): _*)
      .agg(
        min_by(col("value"), struct(col("t_us"), col("value"))).as("v_first"),
        min(col("value")).as("v_min"),
        max(col("value")).as("v_max"),
        max_by(col("value"), struct(col("t_us"), col("value"))).as("v_last"),
        min(col("t_us")).as("t_first"),
        max(col("t_us")).as("t_last"),
        count(lit(1)).as("v_count"))
  }

  /** Coverage: per stream, how many of the [start, end) grid windows
    * contain at least one point, and the occupied fraction — the uptime /
    * telemetry-completeness metric (the aggregate complement of gaps()).
    * One distinct-bucket aggregation; the denominator is the constant grid
    * size. With a `streams` roster (metadata, as gaps()), streams silent
    * over the whole range are included at coverage 0 — without one they
    * cannot appear (the aggregate only sees streams with points).
    */
  def coverage(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
               width: Long, streams: Option[DataFrame] = None): DataFrame = {
    val key = streamKey(streamCols)
    val nTotal = (windowsEnd(start, end, width) - start) / width
    require(nTotal > 0, s"empty grid: [$start, $end) at width $width")
    val occ = points
      .filter(inWindows(start, end, width))
      .groupBy(key: _*)
      .agg(countDistinct(widthBucket(start, width)).as("n_occ"))
    val withUniverse = streams match {
      case Some(s) => s.select(key: _*).join(occ, streamCols, "left")
        .select(key :+ coalesce(col("n_occ"), lit(0L)).as("n_occupied"): _*)
      case None => occ.select(key :+ col("n_occ").as("n_occupied"): _*)
    }
    withUniverse
      .select(key ++ Seq(col("n_occupied"), lit(nTotal).as("n_windows"),
        graft.Quant.q6(col("n_occupied").cast("double") / nTotal.toDouble)
          .as("coverage")): _*)
  }

  /** Sessionize: split each stream into activity sessions separated by
    * silence longer than `gapUs` — classic gaps-and-islands (lag + running
    * sum). Equal-timestamp ties share a dt of zero, so the session
    * assignment is order-independent. Output one row per session with its
    * time bounds, event count, and mean value (exact micro-unit sum;
    * per-session counts are windowed-scale, so a long accumulator suffices
    * per the graft.Quant bound). Both the lag and the session counter run
    * as the two-phase sliced scan (primitives above cusum): sessions
    * crossing a slice boundary are stitched by the exchanged boundary row
    * and the broadcast island-count carry — no stream-wide sort.
    */
  def sessionize(points: DataFrame, streamCols: Seq[String], gapUs: Long): DataFrame = {
    require(gapUs > 0, s"gapUs must be positive, got $gapUs")
    val key = streamKey(streamCols)
    slicedIslands(
        timeSliced(
          points.select(key :+ col("t_us") :+ col("value"): _*),
          streamCols),
        streamCols,
        (ct, _, pt, _) => ct - pt > gapUs,
        "session")
      // two-level session rollup: level 1 groups by (stream, slice,
      // session) — satisfied by the islands frame's (stream, slice)
      // clustering, so it aggregates WITHOUT an exchange — and level 2
      // stitches cross-slice sessions from those per-slice partials
      // (metadata-scale shuffle instead of re-shuffling every point)
      .groupBy(key :+ col("slice") :+ col("session"): _*)
      .agg(
        min(col("t_us")).as("p_start"),
        max(col("t_us")).as("p_end"),
        count(lit(1)).as("p_n"),
        sum(graft.Quant.us6(col("value"))).as("p_sum"))
      .groupBy(key :+ col("session"): _*)
      .agg(
        min(col("p_start")).as("s_start"),
        max(col("p_end")).as("s_end"),
        sum(col("p_n")).as("n_events"),
        graft.Quant.mean6(sum(col("p_sum")), sum(col("p_n"))).as("v_mean"))
      .withColumn("duration_us", col("s_end") - col("s_start"))
      .drop("session")
  }

  /** Rolling statistics over the trailing `k` non-empty windows (current
    * included) of the windows() series: rolling mean re-aggregated from the
    * exact per-window micro-unit sums (so it is NOT a mean-of-means — each
    * point weighs equally), plus rolling min/max and the number of windows
    * actually present in the frame. The frame runs over the bounded
    * per-stream window series — rollup-scale data, never raw points.
    */
  def rolling(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
              width: Long, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val key = streamKey(streamCols)
    val base = statPartial(points.filter(inWindows(start, end, width)), streamCols,
      widthBucket(start, width))
    val frame = Window.partitionBy(key: _*).orderBy(col("w_start"))
      .rowsBetween(-(k - 1).toLong, 0)
    base.select(key ++ Seq(col("w_start"), statMean,
      graft.Quant.mean6(sum(col("v_sum_us")).over(frame), sum(col("v_count")).over(frame))
        .as("roll_mean"),
      min(col("v_min")).over(frame).as("roll_min"),
      max(col("v_max")).over(frame).as("roll_max"),
      count(lit(1)).over(frame).as("n_windows")): _*)
  }

  /** Exact interpolated per-window percentiles (linear interpolation
    * between closest ranks, the numpy/Type-7 definition): for quantile p
    * over n ordered values, idx = p·(n-1), result = v[floor(idx)] +
    * (v[ceil(idx)] - v[floor(idx)])·frac. Rank assignment is deterministic
    * (ORDER BY value, t_us) and the rank→value lookup is conditional
    * aggregation over row_number — no per-group sort materialization, one
    * shuffle. Unlike approx_percentile this is exact AND engine-portable
    * (the oracle replays the identical float ops).
    */
  def percentileWindows(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
                        width: Long, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1), s"quantiles must be in [0,1]: $ps")
    val key = streamKey(streamCols)
    val grp = key :+ col("w_start")
    val ord = Window.partitionBy(grp: _*).orderBy(col("value"), col("t_us"))
    val ranked = points
      .filter(inWindows(start, end, width))
      .select(key :+ widthBucket(start, width) :+ col("t_us") :+ col("value"): _*)
      .withColumn("rn", row_number().over(ord))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(grp: _*)))
    // '.'-free temp column suffix: dots in column names break resolution
    def tag(p: Double) = java.lang.Double.toString(p).replace('.', '_')
    val aggs = ps.flatMap { p =>
      val ps6 = tag(p)
      val idx = lit(p) * (col("n") - 1).cast("double")
      val lo = floor(idx).cast("long") + 1
      val hi = ceil(idx).cast("long") + 1
      Seq(
        max(when(col("rn") === lo, col("value"))).as(s"lo_$ps6"),
        max(when(col("rn") === hi, col("value"))).as(s"hi_$ps6"),
        max(idx - floor(idx)).as(s"frac_$ps6"))
    } :+ count(lit(1)).as("n_points")
    val out = ranked.groupBy(grp: _*).agg(aggs.head, aggs.tail: _*)
    val cols = key ++ Seq(col("w_start"), col("n_points")) ++ ps.map { p =>
      val ps6 = tag(p)
      val label = "p" + (if (p * 100 == (p * 100).floor) (p * 100).toInt.toString
                         else ps6.replace("0_", ""))
      graft.Quant.q6(col(s"lo_$ps6") +
        (col(s"hi_$ps6") - col(s"lo_$ps6")) * col(s"frac_$ps6")).as(label)
    }
    out.select(cols: _*)
  }

  /** Per-window robust dispersion: median + MAD (median absolute
    * deviation) — the outlier-resistant alternative to mean/stddev bands
    * (one wild point moves the mean arbitrarily; it moves the median not
    * at all). Two rank-lookup passes of the exact type-7 machinery: the
    * window median, then the median of |value − median|. Both passes are
    * one shuffle each on the same (stream, window) key — the deviation
    * join is co-partitioned, nothing re-sorts raw data twice on different
    * keys. Quantization (Q6) happens only on emit; the intermediate
    * median stays raw double so the oracle replays the exact float chain.
    */
  def madWindows(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
                 width: Long): DataFrame = {
    val key = streamKey(streamCols)
    val grp = key :+ col("w_start")
    val joinCols = streamCols :+ "w_start"
    // type-7 p50 of `v` (ordered deterministically by (v, tie)) per group
    def median(df: DataFrame, v: Column, tie: Column, out: String): DataFrame = {
      val ord = Window.partitionBy(grp: _*).orderBy(v, tie)
      val idx = lit(0.5) * (count(lit(1)).over(
        Window.partitionBy(grp: _*)) - 1).cast("double")
      val lo = max(when(col("rn") === floor(col("idx")).cast("long") + 1, v))
      val hi = max(when(col("rn") === ceil(col("idx")).cast("long") + 1, v))
      df.withColumn("rn", row_number().over(ord)).withColumn("idx", idx)
        .groupBy(grp: _*)
        .agg(count(lit(1)).as("n_points"),
          (lo + (hi - lo) * max(col("idx") - floor(col("idx")))).as(out))
    }
    val base = points
      .filter(inWindows(start, end, width))
      .select(key :+ widthBucket(start, width) :+ col("t_us") :+ col("value"): _*)
    val med = median(base, col("value"), col("t_us"), "med")
    val mad = median(
      base.join(med.select(grp :+ col("med"): _*), joinCols)
        .select(grp ++ Seq(col("t_us"), abs(col("value") - col("med")).as("dev")): _*),
      col("dev"), col("t_us"), "mad")
    med.join(mad.withColumnRenamed("n_points", "n2"), joinCols)
      .select(key ++ Seq(col("w_start"), col("n_points"),
        graft.Quant.q6(col("med")).as("median"),
        graft.Quant.q6(col("mad")).as("mad")): _*)
  }

  /** The sketch swap-in for percentileWindows at extreme window sizes:
    * the exact operator rank-sorts every (stream, window) partition — a
    * per-group sort whose cost is n·log n in the window's point count.
    * Greenwald-Khanna summaries (Spark's percentile_approx) keep a
    * bounded sketch per group with guaranteed rank error ≤ n/accuracy,
    * aggregate map-side-partially, and never materialize a sort — the
    * billion-points-per-window regime. Returns nearest-rank values (an
    * actual data point, not Type-7 interpolation), so it is spec-gated on
    * the G-K rank-error contract against the exact operator rather than
    * oracle-hashed.
    */
  def percentileWindowsApprox(points: DataFrame, streamCols: Seq[String],
                              start: Long, end: Long, width: Long, ps: Seq[Double],
                              accuracy: Int = 10000): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1), s"quantiles must be in [0,1]: $ps")
    val key = streamKey(streamCols)
    def label(p: Double) =
      "p" + (if (p * 100 == (p * 100).floor) (p * 100).toInt.toString
             else java.lang.Double.toString(p).replace('.', '_').replace("0_", ""))
    points
      .filter(inWindows(start, end, width))
      .groupBy(key :+ widthBucket(start, width): _*)
      .agg(count(lit(1)).as("n_points"),
        percentile_approx(col("value"),
          array(ps.map(lit): _*), lit(accuracy)).as("qs"))
      .select(key ++ Seq(col("w_start"), col("n_points")) ++
        ps.zipWithIndex.map { case (p, i) => col("qs").getItem(i).as(label(p)) }: _*)
  }

  /** Per-stream value moments as scoring parameters (mean_us, std_us in
    * exact-then-cast micro-units): one map-side-partial pass of integer
    * moment sums. This is the "trained profile" — anomalies() consumes it
    * batch-side, graft.streaming.AnomalyScore joins it onto a live stream.
    */
  def streamStats(points: DataFrame, streamCols: Seq[String]): DataFrame = {
    val key = streamKey(streamCols)
    val us = graft.Quant.us6(col("value")).cast("decimal(38,0)")
    val mean = col("s1").cast("double") / col("n")
    points.groupBy(key: _*)
      .agg(sum(us).as("s1"), sum(us * us).as("s2"), count(lit(1)).as("n"))
      .select(key ++ Seq(
        mean.as("mean_us"),
        sqrt(col("s2").cast("double") / col("n") - mean * mean).as("std_us"),
        col("n")): _*)
  }

  /** The z of a row's value against (mean_us, std_us) columns. */
  def zScore: Column =
    (graft.Quant.us6(col("value")).cast("double") - col("mean_us")) / col("std_us")

  /** Per-stream z-score anomalies: points whose value deviates from the
    * stream's global mean by ≥ `zThresh` standard deviations. The
    * per-stream moments come from ONE pass of exact integer micro-unit
    * sums (DECIMAL(38,0) — unbounded groups, and the squared sums reach
    * 10^21 at sf0.1 already); the metadata-scale stats table is broadcast
    * back onto the raw scan, so the whole operator is scan + broadcast-join
    * + filter: no window sort over raw points, survives any corpus size.
    * The float pipeline (cast → mean → variance → sqrt → z) is replayed
    * term-for-term by the oracle; sqrt is IEEE-correctly-rounded on both.
    */
  def anomalies(points: DataFrame, streamCols: Seq[String], zThresh: Double): DataFrame = {
    require(zThresh > 0, s"zThresh must be positive, got $zThresh")
    val key = streamKey(streamCols)
    points
      .join(broadcast(streamStats(points, streamCols)), streamCols)
      .withColumn("z", zScore)
      .filter(col("std_us") > 0 && abs(col("z")) >= zThresh)
      .select(key ++ Seq(col("t_us"), col("value"),
        graft.Quant.q6(col("z")).as("z_score")): _*)
  }

  /** Min-max normalization — the feature-scaling export step before a
    * model consumes raw telemetry: every point rescaled to [0, 1] by
    * its OWN stream's range ((v − min)/(max − min)); constant streams
    * (max = min) emit NULL rather than a divide-by-zero artifact, and
    * min/max are unrounded doubles (order-free, bit-exact on both
    * engines) so the one division is the only float op. Plan: one
    * map-side-partial stats pass broadcast back onto the scan — the
    * anomalies() shape.
    */
  def normalize(points: DataFrame, streamCols: Seq[String]): DataFrame = {
    val key = streamKey(streamCols)
    val stats = points.groupBy(key: _*)
      .agg(min(col("value")).as("v_min"), max(col("value")).as("v_max"))
    points
      .join(broadcast(stats), streamCols)
      .select(key ++ Seq(col("t_us"), col("value"),
        when(col("v_max") > col("v_min"),
          graft.Quant.q6((col("value") - col("v_min")) /
            (col("v_max") - col("v_min")))).as("norm01")): _*)
  }

  /** Seasonal-profile drift — "did this stream's load SHAPE change
    * between two periods" (deploy regressions, demand-pattern shifts a
    * level-based detector misses when the daily total stays flat): per
    * stream, the per-phase mean profile of [aStart, aEnd) vs
    * [bStart, bEnd), compared as the RMS and max of the per-phase
    * µ-unit mean differences over phases observed in BOTH periods.
    * Phase = position in a repeating period (the anomaliesSeasonal
    * rule, pure epoch-µs integer arithmetic).
    *
    * Determinism: phase means are rounded integer µ-units from exact
    * DECIMAL sums; differences and their squares stay integer (DECIMAL
    * for the square sum), with one division + sqrt at the end. Two
    * map-side-partial aggregations (one per period — different filters,
    * same shape) + a co-partitioned (stream, phase) join bounded by
    * streams × periodBuckets.
    */
  def profileDrift(points: DataFrame, streamCols: Seq[String],
                   aStart: Long, aEnd: Long, bStart: Long, bEnd: Long,
                   bucketUs: Long, periodBuckets: Int): DataFrame = {
    require(bucketUs > 0 && periodBuckets > 0, "bucketUs/periodBuckets must be positive")
    val key = streamKey(streamCols)
    val phase = pmod(expr(s"t_us div $bucketUs"), lit(periodBuckets.toLong)).as("phase")
    def profile(s: Long, e: Long, out: String): DataFrame =
      points
        .filter(col("t_us") >= s && col("t_us") < e)
        .groupBy(key :+ phase: _*)
        .agg(round(sum(graft.Quant.us6(col("value")).cast("decimal(38,0)")).cast("double") /
          count(lit(1)), 0).cast("long").as(out))
    val joined = profile(aStart, aEnd, "ma").join(profile(bStart, bEnd, "mb"),
      streamCols :+ "phase")
    val d = col("ma") - col("mb")
    joined.groupBy(key: _*)
      .agg(count(lit(1)).as("n_phases"),
        sum((d * d).cast("decimal(38,0)")).as("ss"),
        max(abs(d)).as("max_us"))
      .select(key ++ Seq(col("n_phases"),
        graft.Quant.q6(sqrt(col("ss").cast("double") / col("n_phases")) / 1e6)
          .as("drift_rms"),
        (col("max_us").cast("double") / 1e6 + lit(0d)).as("max_shift")): _*)
  }

  /** Seasonal-aware anomaly detection: z-score against the stream's OWN
    * per-phase profile — a 6pm load spike is normal AT 6pm and an
    * incident at 3am, a distinction the global-profile z (anomalies())
    * cannot make. Phase = position within a repeating period (hour of
    * day at the defaults), pure epoch-µs integer arithmetic (the
    * seasonalProfile rule — no calendar library on either engine).
    * Profile moments per (stream, phase) follow the streamStats recipe
    * exactly (µ-unit DECIMAL sums, one deterministic float assembly);
    * phases with fewer than `minN` points never flag (one observation
    * has σ = 0 and would divide by zero or flag everything).
    *
    * Scale shape: the profile is one map-side-partial groupBy bounded by
    * streams × periodBuckets (metadata scale → broadcast back onto the
    * scan, the anomalies() shape); the flagged output is filter-selective.
    */
  def anomaliesSeasonal(points: DataFrame, streamCols: Seq[String], zThresh: Double,
                        bucketUs: Long = 3600000000L, periodBuckets: Int = 24,
                        minN: Long = 2): DataFrame = {
    require(zThresh > 0, s"zThresh must be positive, got $zThresh")
    require(bucketUs > 0 && periodBuckets > 0, "bucketUs/periodBuckets must be positive")
    val key = streamKey(streamCols)
    val phase = pmod(expr(s"t_us div $bucketUs"), lit(periodBuckets.toLong)).as("phase")
    val us = graft.Quant.us6(col("value")).cast("decimal(38,0)")
    val mean = col("s1").cast("double") / col("n")
    val profile = points
      .groupBy(key :+ phase: _*)
      .agg(sum(us).as("s1"), sum(us * us).as("s2"), count(lit(1)).as("n"))
      .select(key ++ Seq(col("phase"),
        mean.as("mean_us"),
        sqrt(col("s2").cast("double") / col("n") - mean * mean).as("std_us"),
        col("n")): _*)
    points
      .withColumn("phase", phase)
      .join(broadcast(profile), streamCols :+ "phase")
      .withColumn("z", zScore)
      .filter(col("n") >= minN && col("std_us") > 0 && abs(col("z")) >= zThresh)
      .select(key ++ Seq(col("t_us"), col("phase"), col("value"),
        graft.Quant.q6(col("z")).as("z_score")): _*)
  }

  /** Pearson correlation between two point sets (e.g. two sensor types)
    * per `keyCols`, computed over their aligned window-mean series: both
    * sides reduce to windowMeans over [start, end) — the partial last
    * window included — inner-join on (key, window), and pearson() reduces
    * each key's pairs. Two map-side partial aggs + one join on (key,
    * window) + one agg on key: every stage keyed, nothing quadratic, no
    * raw-data window sort.
    */
  def correlation(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                  start: Long, end: Long, width: Long): DataFrame = {
    val joined = windowMeans(left, keyCols, start, end, width, "x")
      .join(windowMeans(right, keyCols, start, end, width, "y"), keyCols :+ "w_start")
    pearson(joined, keyCols.map(col), "x", "y")
  }

  /** Classical seasonal decomposition (STL-lite): per stream, each fine
    * window's mean splits into trend + seasonal + residual. Trend is the
    * centered moving average over `period` windows (full frames only —
    * the classical edge rule); for EVEN periods that is the classical
    * 2×MA — the frame spans period+1 windows with half weights on the two
    * edges, so a pure periodic component still cancels out of the trend.
    * Seasonal is the per-position mean of the detrended series; residual
    * is what's left. All means are assembled from EXACT integer micro-unit
    * sums — both parities reduce to the doubled frame sum
    * s2 = 2·Σframe − [period even](m_lo + m_hi), a long, and
    * trend = s2 / (2·period); the seasonal mean expands to
    * Σm/n − Σs2/(n·2·period) over integer sums — so no float accumulates
    * in partition order and the oracle replays the identical expression
    * (for odd periods s2/(2p) is the same rational, hence the same
    * double, as the plain Σframe/p). One shuffle for the window means,
    * one per-stream sort for the frame sums, one keyed aggregate for the
    * seasonal profile (broadcast back) — no pass over raw data beyond the
    * first.
    */
  def decompose(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
                width: Long, period: Int): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val key = streamKey(streamCols)
    val h = period / 2
    val f = 2 * h + 1 // frame length: period for odd, period+1 for even (2×MA)
    val means = windowMeans(points, streamCols, start, windowsEnd(start, end, width), width,
      "m_us")
    val wf = Window.partitionBy(key: _*).orderBy(col("w_start"))
      .rowsBetween(-h, h)
    val doubled =
      if (period % 2 == 0)
        lit(2L) * col("s_f") - first(col("m_us")).over(wf) - last(col("m_us")).over(wf)
      else lit(2L) * col("s_f")
    val framed = means
      .withColumn("s_f", sum(col("m_us")).over(wf))
      .withColumn("n_f", count(lit(1)).over(wf))
      .withColumn("s2", doubled)
      .filter(col("n_f") === f) // full frames only — classical edge rule
      .withColumn("pos",
        pmod(expr(s"(w_start - $start) div $width"), lit(period.toLong)))
    val p2 = 2 * period
    val seas = framed.groupBy(key :+ col("pos"): _*)
      .agg(sum(col("m_us")).as("sm"), sum(col("s2")).as("s2s"),
        count(lit(1)).as("n"))
      .select(key ++ Seq(col("pos"),
        (col("sm").cast("double") / col("n")
          - col("s2s").cast("double") / (col("n") * p2)).as("seasonal_raw")): _*)
    val trend = col("s2").cast("double") / p2
    framed.join(broadcast(seas), streamCols :+ "pos")
      .select(key ++ Seq(col("w_start"),
        graft.Quant.q6(col("m_us").cast("double") / 1e6).as("v_mean"),
        graft.Quant.q6(trend / 1e6).as("trend"),
        graft.Quant.q6(col("seasonal_raw") / 1e6).as("seasonal"),
        graft.Quant.q6((col("m_us").cast("double") - trend - col("seasonal_raw")) / 1e6)
          .as("residual")): _*)
  }

  /** Windowed Pearson correlation — correlation() resolved per COARSE
    * window instead of one global r: the same fine (width-wide) window
    * means joined on (key, fine window), reduced by pearson() per
    * containing coarse window — the rolling-correlation panel ("when did
    * these two decouple?"). n per coarse window = fine windows where BOTH
    * sides have data.
    */
  def windowedCorrelation(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                          start: Long, end: Long, width: Long,
                          coarse: Long): DataFrame = {
    require(coarse % width == 0, s"coarse $coarse must be a multiple of width $width")
    val joined = windowMeans(left, keyCols, start, end, width, "x")
      .join(windowMeans(right, keyCols, start, end, width, "y"), keyCols :+ "w_start")
    pearson(joined, keyCols.map(col) :+ gridBucket(col("w_start"), start, coarse).as("c_start"),
      "x", "y")
  }

  /** Lag cross-correlation — which time shift aligns two streams best
    * ("do clicks LEAD views?"): Pearson r of x(w) against y(w − lag) for
    * every candidate lag. Lags need NOT be multiples of the window width:
    * the y side is bucketed once per distinct lag PHASE (lag mod width)
    * on the correspondingly shifted grid, so a half-window lag compares
    * full-width windows instead of being rejected, and lags sharing a
    * phase share one aggregation — the common all-multiples case still
    * aggregates y exactly once (phase 0 ≡ the x grid). The lag set enters
    * the plan as an exploded dimension on the x side, so the whole sweep
    * is ONE equi-join on (key, phase, shifted window) and one moment
    * aggregation per (key, lag) — not |lags| separate scans. Both inputs
    * are restricted to [start, end). Positive r at positive lag ⇒ x's
    * past predicts y's present (x leads).
    */
  def lagCorrelation(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                     start: Long, end: Long, width: Long,
                     lags: Seq[Long]): DataFrame = {
    require(lags.nonEmpty, "at least one lag required")
    val key = keyCols.map(col)
    val phases = lags.map(l => math.floorMod(l, width)).distinct
    // all-multiples case (single phase 0): y is the SAME aggregation
    // shape as x — no explode, no shifted-grid arithmetic, one narrow
    // agg (the subtrees canonicalize equal, though AQE stage reuse is
    // not currently observed to dedupe them); otherwise y means on each
    // phase-shifted grid: one scan fanned |phases| ways (grid anchor
    // start − phase, so y_w = w_start − lag lands on it)
    val y =
      if (phases == Seq(0L))
        windowMeans(right, keyCols, start, end, width, "y")
          .withColumn("phase", lit(0L))
          .withColumnRenamed("w_start", "y_w")
      else {
        val dy = col("t_us") - (lit(start) - col("phase"))
        right.filter(inRange(start, end))
          .withColumn("phase", explode(array(phases.map(lit): _*)))
          .groupBy(key ++ Seq(col("phase"),
            (col("t_us") - pmod(dy, lit(width))).as("y_w")): _*)
          .agg(meanUs.as("y"))
      }
    // the explicit not-null (always true: t_us is filtered non-null)
    // mirrors the isnotnull(grouping) conjunct the JOIN pushes into y's
    // scan through its aggregate — x's own join key is the computed
    // w_start − lag, which never pushes through — so the two sides'
    // scan+partial-agg subtrees canonicalize EQUAL and AQE serves y
    // from x's shuffle (ReusedExchange) in the autocorrelation case
    val xl = windowMeans(left, keyCols, start, end, width, "x")
      .filter(col("w_start").isNotNull)
      .withColumn("lag", explode(array(lags.map(lit): _*)))
      .withColumn("phase", pmod(col("lag"), lit(width)))
      .withColumn("y_w", col("w_start") - col("lag"))
    pearson(xl.join(y, keyCols ++ Seq("phase", "y_w")), key :+ col("lag"), "x", "y")
  }

  /** Rolling-origin backtest of the Holt-Winters one-step forecast — the
    * forecast-accuracy report that decides whether the (α, β, γ, period)
    * the dashboards run is actually predictive: at every window t the
    * model's own next-window forecast f_t = level_t + trend_t +
    * s_{t+1−p} (the seasonal emitted p−1 windows back; 0 until a full
    * cycle is seen — the streaming Forecast's exact rule) is compared to
    * the realized mean at t+1, and each stream reports n_evals, MAE,
    * signed bias, and RMSE over its evaluation windows.
    *
    * Determinism: f assembles from holtWinters' EMITTED (quantized)
    * columns, so both engines add the same doubles; errors quantize to
    * integer µ-units before the order-free sums (MAE/bias via MEAN6;
    * RMSE's squared µ-units accumulate in DECIMAL — ~4·10⁸ µ errors
    * square past the long bound at grid scale), one sqrt + Q6 emit.
    * Plan: the hw fold's output (grid-bounded per stream) + one lag/lead
    * window + one aggregation — nothing touches raw points twice.
    */
  def holtWintersBacktest(points: DataFrame, streamCols: Seq[String], start: Long,
                          end: Long, width: Long, period: Int, alpha: Double,
                          beta: Double, gamma: Double): DataFrame = {
    val key = streamKey(streamCols)
    val w = Window.partitionBy(key: _*).orderBy(col("w_start"))
    val sNext = coalesce(lag(col("seasonal"), period - 1).over(w), lit(0d))
    val f = col("level") + col("trend") + sNext
    val errUs = graft.Quant.us6(lead(col("v_mean"), 1).over(w) - f)
    holtWinters(points, streamCols, start, end, width, period, alpha, beta,
        gamma)
      .withColumn("err_us", errUs)
      .filter(col("err_us").isNotNull)
      .groupBy(key: _*)
      .agg(count(lit(1)).as("n_evals"),
        graft.Quant.mean6(sum(abs(col("err_us"))), count(lit(1))).as("mae"),
        graft.Quant.mean6(sum(col("err_us")), count(lit(1))).as("bias"),
        graft.Quant.q6(
          sqrt(sum((col("err_us").cast("decimal(38,0)") * col("err_us"))
            .cast("decimal(38,0)")).cast("double") / count(lit(1))) / 1e6)
          .as("rmse"))
  }

  /** Burstiness of the event-arrival process per stream: the index of
    * dispersion (Fano factor) of per-window event counts over the
    * COMPLETE grid — F = Var(n)/Mean(n) with empty windows counting 0,
    * because a regular-but-sparse stream and a bursty one have identical
    * non-empty-window statistics (F = 1 Poisson, < 1 regular, > 1
    * bursty; the telemetry-health triage number next to ts_gaps).
    *
    * The zeros need no grid join: with W total grid windows, Σn and Σn²
    * over the grid equal the sums over the non-empty windows, so
    * F = (W·Σn² − (Σn)²) / (W·Σn) assembles EXACTLY from one window
    * count aggregation — integers end to end (DECIMAL per the
    * unbounded-group rule), one final division, Q6 emit. Streams with
    * no in-range points emit nothing.
    */
  def burstiness(points: DataFrame, streamCols: Seq[String], start: Long,
                 end: Long, width: Long): DataFrame = {
    require(width > 0, s"width must be positive, got $width")
    val key = streamKey(streamCols)
    val w = (windowsEnd(start, end, width) - start) / width
    require(w > 0, s"range [$start,$end) holds no complete window of $width")
    val counts = points
      .filter(inWindows(start, end, width))
      .groupBy(key :+ widthBucket(start, width): _*)
      .agg(count(lit(1)).as("n"))
    val nDec = col("n").cast("decimal(38,0)")
    counts.groupBy(key: _*)
      .agg(count(lit(1)).as("n_windows_nonempty"),
        sum(col("n")).as("sn"),
        sum(nDec * nDec).as("sn2"))
      .select(key ++ Seq(
        col("n_windows_nonempty"),
        col("sn").as("n_events"),
        graft.Quant.q6((lit(w).cast("decimal(38,0)") * col("sn2") -
            col("sn").cast("decimal(38,0)") * col("sn")).cast("double") /
          (lit(w).cast("decimal(38,0)") * col("sn")).cast("double")).as("fano"),
        graft.Quant.mean6(col("sn").cast("decimal(38,0)") * 1000000, lit(w))
          .as("mean_per_window")): _*)
  }

  /** Ordinal-pattern profile of the window-mean series (Bandt & Pompe
    * 2002, order 3): each triple of consecutive window means maps to the
    * permutation that sorts it — ties broken by POSITION (the standard
    * stable rule: the earlier element ranks first on equal values) — and
    * every stream reports its pattern counts. This is the exact-count
    * face of permutation entropy (complexity vs determinism of the
    * dynamics: white noise spreads mass over all six patterns, a
    * monotone trend concentrates on one) — the log stays client-side,
    * the text_entropy_freq recipe, so the gate is integer-exact.
    *
    * The permutation decodes from three ≤-comparisons on the
    * rounded-integer means via a 6-way CASE (two of the eight combos are
    * transitivity-impossible); triples come from two lead()s over
    * grid-bounded per-stream groups — the rolling() scale shape, one
    * map-side-partial exchange over raw points and nothing wider than
    * the (stream, pattern) summary after it.
    */
  def ordinalPatterns(points: DataFrame, streamCols: Seq[String], start: Long,
                      end: Long, width: Long): DataFrame = {
    val key = streamKey(streamCols)
    val means = windowMeans(points, streamCols, start, windowsEnd(start, end, width), width, "a")
    val ord = Window.partitionBy(key: _*).orderBy(col("w_start"))
    val (a, b, c) = (col("a"), col("b"), col("c"))
    val (p1, p2, p3) = (a <= b, a <= c, b <= c)
    means
      .withColumn("b", lead(col("a"), 1).over(ord))
      .withColumn("c", lead(col("a"), 2).over(ord))
      .filter(col("b").isNotNull && col("c").isNotNull)
      .withColumn("pattern",
        when(p1 && p2 && p3, "012").when(p1 && p2 && !p3, "021")
          .when(p1 && !p2, "201").when(!p1 && p2, "102")
          .when(!p1 && !p2 && p3, "120").otherwise("210"))
      .groupBy(key :+ col("pattern"): _*)
      .agg(count(lit(1)).as("n"))
  }

  /** Partial autocorrelation at lags 1–3 of the window-mean series — the
    * AR-order diagnostic read next to the ACF (ts_autocorr): pacf(m) is
    * the correlation at lag m with the shorter lags regressed out, so an
    * AR(p) stream cuts off sharply after lag p where the raw ACF decays
    * slowly. Computed by the Durbin–Levinson recursion UNROLLED to closed
    * forms (φ₁₁ = r₁; φ₂₂ = (r₂−r₁²)/(1−r₁²); φ₃₃ = (r₃ − φ₂₁r₂ − φ₂₂r₁)
    * / ((1−r₁²)(1−φ₂₂²)), φ₂₁ = r₁ − φ₂₂r₁) — a fixed arithmetic DAG over
    * the already-quantized ACF values, so both engines replay it
    * bit-for-bit with no fold or recursion; a degenerate prediction
    * error (|r₁| = 1, or the lag-2 error zero) nulls the deeper lags,
    * and a null r at any lag propagates. One lagCorrelation pass (all
    * three lags share one phase and one scan — the ts_autocorr reuse
    * shape) plus a metadata-scale pivot.
    */
  def pacf(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
           width: Long): DataFrame = {
    val key = streamKey(streamCols)
    val acf = lagCorrelation(points, points, streamCols, start, end, width,
      Seq(width, 2 * width, 3 * width))
    val piv = acf.groupBy(key: _*).agg(
      max(when(col("lag") === width, col("r"))).as("r1"),
      max(when(col("lag") === 2 * width, col("r"))).as("r2"),
      max(when(col("lag") === 3 * width, col("r"))).as("r3"))
    val e1 = lit(1d) - col("r1") * col("r1")
    val phi22 = (col("r2") - col("r1") * col("r1")) / e1
    val phi21 = col("r1") - phi22 * col("r1")
    val e2 = e1 * (lit(1d) - phi22 * phi22)
    val phi33 = (col("r3") - phi21 * col("r2") - phi22 * col("r1")) / e2
    // ANSI: the φ divisions must stay INSIDE the e₁ guard — even the
    // e₂ > 0 test divides by e₁ (φ₂₂ is part of e₂), so a flat
    // conjunction would raise DIVIDE_BY_ZERO on an |r₁| = 1 stream
    piv.select(key ++ Seq(
      col("r1"), col("r2"), col("r3"),
      col("r1").as("pacf1"),
      when(e1 > 0, graft.Quant.q6(phi22)).as("pacf2"),
      when(e1 > 0, when(e2 > 0, graft.Quant.q6(phi33))).as("pacf3")): _*)
  }

  /** Time-series similarity search (the "which sensors behave like this
    * one" query, cf. distributed TS similarity search à la EDBT'19): rank
    * every stream by Pearson correlation of its aligned window-mean
    * series against ONE query stream. The fleet reduces to exact integer
    * micro-unit window means in a single map-side-partial pass; the query
    * stream's series (≤ #windows rows, metadata-scale) broadcasts onto
    * it; one keyed moment aggregation per candidate and a TakeOrdered
    * top-k — no pairwise stream join, no raw-data sort, so the search is
    * one scan + one broadcast join regardless of fleet size. Means keep the
    * partial last window (the correlation() range), and pearson()'s exact
    * moments let the oracle replay r bit-for-bit.
    */
  def similarStreams(points: DataFrame, streamCols: Seq[String], queryPred: Column,
                     start: Long, end: Long, width: Long, k: Int): DataFrame = {
    val key = streamKey(streamCols)
    val means = windowMeans(points, streamCols, start, end, width, "v")
    val qMeans = broadcast(means.filter(queryPred)
      .select(col("w_start"), col("v").as("q")))
    val scored = pearson(means.filter(!queryPred).join(qMeans, "w_start"), key, "v", "q")
      .filter(col("r").isNotNull)
    val ord = col("r").desc +: key.map(_.asc)
    scored.orderBy(ord: _*).limit(k)
      .withColumn("rank", row_number()
        .over(graft.Bounded.window(ord: _*)).cast("long"))
  }

  /** Seasonal profile: aggregate each stream's values by position within a
    * repeating period — here hour-of-day (periodUs = 1 h buckets, modulo
    * `periodBuckets` per cycle). The load-shape / diurnal-pattern query.
    * Group count per (key, bucket) grows with data volume (unbounded), so
    * the micro-unit sums accumulate as DECIMAL per the graft.Quant rule.
    */
  def seasonalProfile(points: DataFrame, keyCols: Seq[String], bucketUs: Long,
                      periodBuckets: Int): DataFrame = {
    val key = keyCols.map(col)
    val bucket = pmod(expr(s"t_us div $bucketUs"), lit(periodBuckets.toLong)).as("pos")
    points
      .groupBy(key :+ bucket: _*)
      .agg(
        min(col("value")).as("v_min"),
        graft.Quant.mean6(graft.Quant.sumUs6Unbounded(col("value")),
          count(lit(1))).as("v_mean"),
        max(col("value")).as("v_max"),
        count(lit(1)).as("v_count"))
  }

  /** Seasonality / trend strength (Hyndman & Athanasopoulos, FPP §6.7)
    * — the fleet ranking on top of decompose(): per stream,
    * F_s = max(0, 1 − Var(residual)/Var(residual + seasonal)) and
    * F_t = max(0, 1 − Var(residual)/Var(residual + trend)); ~1 = the
    * component explains the series, ~0 = it is noise. The triage query
    * before anyone picks a period-aware model (ts_holtwinters) or a
    * seasonal-aware detector (ts_anomaly_seasonal) per stream.
    *
    * Determinism: decompose's components are already Q6-quantized, so
    * their µ-unit integers are exact; variances assemble from exact
    * DECIMAL moments (n·Σx² − (Σx)² — the ts_stddev rule) and the only
    * float ops are the two ratio divisions. One metadata-scale
    * aggregation over the grid-bounded decompose frame.
    */
  def seasonalStrength(points: DataFrame, streamCols: Seq[String], start: Long,
                       end: Long, width: Long, period: Int): DataFrame = {
    val key = streamKey(streamCols)
    def us(c: Column) = graft.Quant.us6(c).cast("decimal(38,0)")
    val r = us(col("residual"))
    val ds = us(col("residual") + col("seasonal"))
    val dt = us(col("residual") + col("trend"))
    val mom = decompose(points, streamCols, start, end, width, period)
      .groupBy(key: _*)
      .agg(count(lit(1)).as("n"),
        sum(r).as("sr"), sum(r * r).as("srr"),
        sum(ds).as("sd"), sum(ds * ds).as("sdd"),
        sum(dt).as("st"), sum(dt * dt).as("stt"))
    def variance(s: Column, ss: Column) = col("n") * ss - s * s
    val varR = variance(col("sr"), col("srr"))
    val varS = variance(col("sd"), col("sdd"))
    val varT = variance(col("st"), col("stt"))
    def strength(denom: Column) = when(denom > 0,
      graft.Quant.q6(greatest(lit(0d),
        lit(1d) - varR.cast("double") / denom.cast("double"))))
    mom.select(key ++ Seq(col("n").as("n_windows"),
      strength(varS).as("seasonal_strength"),
      strength(varT).as("trend_strength")): _*)
  }

  /** Time-weighted average per stream over [start, end): each point's
    * value holds until the next sample (the step-function/last-observation
    * integral — the correct mean for irregularly sampled holdings, gauges,
    * and config values, where the plain mean over-weights bursts). Equal
    * timestamps collapse to max(value) first (the last-write-wins rule
    * used by interpolate/resample) so segments are well-defined; the final
    * point spans no time and contributes no weight. The weighted sum is
    * EXACT integer arithmetic — micro-unit value × µs duration — but a
    * single segment already reaches ~1e24 (3e8 µ-units × 2.4e15 µs), so
    * the products accumulate as DECIMAL(38,0) (mirroring DuckDB's HUGEINT)
    * per the graft.Quant overflow rule. One keyed window sort over the
    * deduplicated points — the same shape/cost class as delta().
    */
  def timeWeighted(points: DataFrame, streamCols: Seq[String], start: Long,
                   end: Long): DataFrame = {
    val key = streamKey(streamCols)
    val dedup = points
      .filter(col("t_us") >= start && col("t_us") < end)
      .groupBy(key :+ col("t_us"): _*).agg(max(col("value")).as("value"))
    val w = Window.partitionBy(key: _*).orderBy(col("t_us"))
    val seg = dedup.withColumn("next_t", lead(col("t_us"), 1).over(w))
    val dur = col("next_t") - col("t_us")
    val wsum = graft.Quant.us6(col("value")).cast("decimal(38,0)") * dur
    seg.groupBy(key: _*)
      .agg(
        min(col("t_us")).as("t_first"),
        max(col("t_us")).as("t_last"),
        count(col("next_t")).as("n_segments"),
        sum(when(col("next_t").isNotNull, wsum)).as("wsum"),
        sum(when(col("next_t").isNotNull, dur)).as("wdur"))
      .select(key ++ Seq(col("t_first"), col("t_last"), col("n_segments"),
        when(col("wdur") > 0,
          graft.Quant.q6(col("wsum").cast("double") / col("wdur").cast("double") / 1e6))
          .as("twa")): _*)
  }

  /** Multi-resolution windows in ONE raw scan: StatPoints at every width in
    * `widths` (each must divide the next, all anchored at `start` — e.g.
    * day ⊂ week), where each coarser level re-aggregates the previous one
    * instead of rescanning raw. This is the qtree's internal-node hierarchy
    * computed on the fly — the dashboard zoom-ladder query. Exact by
    * construction: min/max/count re-aggregate losslessly and the means come
    * from the same integer micro-unit sums at every level (why Spark's own
    * ROLLUP/Expand is NOT used here: it duplicates every raw row once per
    * level BEFORE the shuffle — re-aggregating rollup-scale output costs
    * nothing instead).
    */
  def multiResolution(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
                      widths: Seq[Long]): DataFrame = {
    require(widths.nonEmpty && widths.zip(widths.tail).forall { case (a, b) => b % a == 0 },
      s"each width must divide the next: $widths")
    val key = streamKey(streamCols)
    val fine = statPartial(points.filter(inWindows(start, end, widths.max)), streamCols,
      widthBucket(start, widths.head))
    val levels = widths.tail.scanLeft(widths.head -> fine) { case ((_, prev), wid) =>
      wid -> statPartial(prev, streamCols, gridBucket(col("w_start"), start, wid).as("w_start"),
        ofPartials = true)
    }
    levels.map { case (wid, df) =>
      df.select(key ++ Seq(lit(wid).as("w_width"), col("w_start")) ++ statRow: _*)
    }.reduce(_ unionByName _)
  }

  /** Per-window cardinality: how many distinct streams (`distinctCols`)
    * reported into each (keyCols, window) bucket — the active-series /
    * fleet-liveness query. Exact two-phase distinct (partial per-partition
    * sets, then merge); at extreme cardinalities swap countDistinct for
    * approx_count_distinct(HLL) — same plan shape, bounded state.
    */
  def cardinality(points: DataFrame, keyCols: Seq[String], distinctCols: Seq[String],
                  start: Long, end: Long, width: Long): DataFrame = {
    require(distinctCols.nonEmpty, "cardinality needs at least one distinct column")
    val key = keyCols.map(col)
    points
      .filter(inWindows(start, end, width))
      .groupBy(key :+ widthBucket(start, width): _*)
      .agg(countDistinct(distinctCols.head, distinctCols.tail: _*).as("n_streams"),
        count(lit(1)).as("n_points"))
  }

  /** The HLL swap-in for cardinality() at extreme stream counts: exact
    * two-phase distinct keeps per-group state proportional to the distinct
    * count (10^8 streams per window = 10^8 rows through the first
    * exchange); HyperLogLog++ holds a CONSTANT-size sketch per group (the
    * relativeSD=0.01 default ≈ a few KB) and one partial-aggregated pass —
    * the fleet-liveness dashboard query at planet scale. Approximate by
    * nature, so spec-gated on relative error against the exact operator
    * rather than oracle-hashed.
    */
  def cardinalityApprox(points: DataFrame, keyCols: Seq[String], distinctCols: Seq[String],
                        start: Long, end: Long, width: Long,
                        relativeSD: Double = 0.01): DataFrame = {
    require(distinctCols.nonEmpty, "cardinality needs at least one distinct column")
    val key = keyCols.map(col)
    points
      .filter(inWindows(start, end, width))
      .groupBy(key :+ widthBucket(start, width): _*)
      .agg(approx_count_distinct(struct(distinctCols.map(col): _*), relativeSD)
          .as("n_streams_approx"),
        count(lit(1)).as("n_points"))
  }

  /** Top-k streams per window by point count — the "who is loudest right
    * now" feed behind rate-limiting and hot-shard dashboards. One windowed
    * aggregation (map-side partial), then a BOUNDED two-phase rank: a
    * single `row_number PARTITION BY w_start` would put every active
    * stream of a window through one task's sort (at millions of streams,
    * #windows tasks each sorting the fleet). Instead the local phase ranks
    * within (w_start, aggregation slice) — groups are partition-sized —
    * and only each slice's top k survive to the final rank, whose groups
    * are ≤ k × #slices rows regardless of fleet size. Any row in the
    * global top k is in its slice's top k, so the cut is exact; ties
    * break on the stream key in both phases, so it is deterministic.
    */
  def topKPerWindow(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
                    width: Long, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val key = streamKey(streamCols)
    val counts = points
      .filter(inWindows(start, end, width))
      .groupBy(key :+ widthBucket(start, width): _*)
      .agg(count(lit(1)).as("n_points"))
    val ord = col("n_points").desc +: key.map(_.asc)
    val localRank = row_number().over(
      Window.partitionBy(col("w_start"), col("slice")).orderBy(ord: _*))
    val candidates = counts
      .withColumn("slice", spark_partition_id())
      .withColumn("lrnk", localRank).filter(col("lrnk") <= k)
    val rank = row_number().over(
      Window.partitionBy(col("w_start")).orderBy(ord: _*))
    // long, not row_number's int — the gate compares against SQL BIGINT
    candidates.withColumn("rnk", rank.cast("long")).filter(col("rnk") <= k)
      .drop("slice", "lrnk")
  }

  /** Value runs: maximal runs of consecutive equal values per stream —
    * the RLE/compressibility profile (how long does a sensor sit at a
    * level; the batch complement of the streaming Deadband). Equal
    * timestamps collapse to max(value) first so "consecutive" is
    * well-defined, then classic gaps-and-islands on value change, run as
    * the two-phase sliced scan (primitives above cusum): runs crossing a
    * slice boundary are stitched by the exchanged boundary row and the
    * broadcast run-count carry — same cost class as delta(), never a
    * stream-wide sort.
    */
  def valueRuns(points: DataFrame, streamCols: Seq[String]): DataFrame = {
    val key = streamKey(streamCols)
    val dedup = points
      .groupBy(key :+ col("t_us"): _*).agg(max(col("value")).as("value"))
    slicedIslands(timeSliced(dedup, streamCols), streamCols,
        (_, cv, _, pv) => pv.isNull || cv =!= pv,
        "run")
      // two-level run rollup (see sessionize): per-(stream, slice, run)
      // partials aggregate exchange-free under the existing clustering;
      // only the partials shuffle to stitch boundary-crossing runs
      .groupBy(key :+ col("slice") :+ col("run"): _*)
      .agg(
        min(col("t_us")).as("p_start"),
        max(col("t_us")).as("p_end"),
        min(col("value")).as("p_value"),
        count(lit(1)).as("p_n"))
      .groupBy(key :+ col("run"): _*)
      .agg(
        min(col("p_start")).as("r_start"),
        max(col("p_end")).as("r_end"),
        min(col("p_value")).as("value"),
        sum(col("p_n")).as("n_points"))
      .drop("run")
  }

  /** Fleet load skew — the Gini coefficient of per-stream point volume
    * ("is this fleet one hot stream and a long tail?" — the
    * partitioning/salting decision input, and the capacity answer
    * ts_top_streams' raw ranking doesn't summarize): one row with the
    * stream count, total points, the exact-arithmetic Gini
    * G = Σ(2i − n − 1)·x_i / (n·Σx) over volumes ranked ascending
    * (deterministic ties by stream key), and the hottest stream's
    * share. The rank runs over PER-STREAM COUNTS — fleet-size rows,
    * metadata scale — but "fleet-size" is millions of streams at the
    * design point, so the global rank is TWO-PHASE (the stratumPrefixSum
    * recipe on the volume axis), never one partition-less window:
    * range-partition on (x, key) — RangePartitioner assigns partition
    * ids in range order, so global rank = rows in earlier slices +
    * local row_number — then the weighted sum collapses via
    * Σ(2i − n − 1)·x = 2·Σ(i·x) − (n + 1)·Σx to plain map-side-partial
    * aggregates over the ranked table. Every product stays exact
    * DECIMAL with one float division per emitted ratio.
    */
  def loadGini(points: DataFrame, streamCols: Seq[String]): DataFrame = {
    val key = streamKey(streamCols)
    val counts = points
      .groupBy(key: _*).agg(count(lit(1)).as("x"))
    val parts = points.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = counts
      .repartitionByRange(parts, col("x") +: key: _*)
      .withColumn("slice", spark_partition_id())
    // ≤`parts` rows: the bounded offset table (empty slices are simply
    // absent and contribute zero to the running count)
    val offsets = ranged
      .groupBy(col("slice")).agg(count(lit(1)).as("slice_n"))
      .withColumn("offset", coalesce(
        sum(col("slice_n")).over(graft.Bounded.window(col("slice"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("slice"), col("offset"))
    val wLocal = Window.partitionBy(col("slice"))
      .orderBy(col("x") +: key: _*)
    ranged.join(broadcast(offsets), Seq("slice"))
      .withColumn("rnk", col("offset") + row_number().over(wLocal))
      .agg(count(lit(1)).as("n_streams"),
        sum(col("x")).as("total_points"),
        // decimal BEFORE the product: rank × volume (and below
        // (n+1) × Σx) can overflow long at fleet scale
        sum(col("rnk").cast("decimal(38,0)") * col("x").cast("decimal(38,0)"))
          .as("s1"),
        max(col("x")).as("x_max"))
      .select(col("n_streams"), col("total_points"),
        graft.Quant.q6(
          (lit(2).cast("decimal(38,0)") * col("s1")
            - (col("n_streams") + 1L).cast("decimal(38,0)")
              * col("total_points").cast("decimal(38,0)"))
            .cast("double") /
          (col("n_streams").cast("double") * col("total_points").cast("double")))
          .as("gini"),
        graft.Quant.q6(col("x_max").cast("double") / col("total_points").cast("double"))
          .as("max_share"))
  }

  /** Compressibility audit — "what would run-length / deadband encoding
    * save on this stream": per stream, point count, maximal-constant-run
    * count (the row count RLE would store), the compression ratio, and
    * the longest run. The capacity-planning complement of the streaming
    * Deadband operator and of the reference's delta-encoded block store:
    * streams with ratio ≪ 1 are the ones worth a deadband at the edge.
    * One aggregation over valueRuns' grid-free run table (which itself
    * never stream-wide-sorts — the sliced-islands shape).
    */
  def compressibility(points: DataFrame, streamCols: Seq[String]): DataFrame = {
    val key = streamKey(streamCols)
    valueRuns(points, streamCols)
      .groupBy(key: _*)
      .agg(sum(col("n_points")).as("n_points"),
        count(lit(1)).as("n_runs"),
        max(col("n_points")).as("longest_run"))
      .select(key ++ Seq(col("n_points"), col("n_runs"), col("longest_run"),
        graft.Quant.q6(col("n_runs").cast("double") / col("n_points").cast("double"))
          .as("run_ratio")): _*)
  }

  /** Resample onto a regular [start, end) grid with step `width`,
    * forward-filling the last observed value (gap fill). The grid is
    * generated distributed (per stream via sequence+explode), joined to the
    * per-bucket last value, then forward-filled with a partitioned window.
    */
  def resample(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
               width: Long): DataFrame = {
    val key = streamKey(streamCols)
    val bucketed = points
      .filter(inRange(start, end))
      .groupBy(key :+ gridBucket(col("t_us"), start, width).as("g_t"): _*)
      // (t_us, value) argmax: deterministic under equal-timestamp ties
      .agg(max_by(col("value"), struct(col("t_us"), col("value"))).as("last_v"))
    val grid = points.select(key: _*).distinct()
      .withColumn("g_t", explode(sequence(lit(start), lit(end - 1), lit(width))))
    val w = Window.partitionBy(key: _*).orderBy(col("g_t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(bucketed, streamCols :+ "g_t", "left")
      .withColumn("v_fill", last(col("last_v"), ignoreNulls = true).over(w))
      .select(key :+ col("g_t") :+ col("v_fill"): _*)
  }

  /** Per-window standard deviation (PromQL stddev_over_time): population
    * stddev from ONE pass of exact integer micro-unit moment sums — the
    * windowed sibling of streamStats. Squared µ-unit sums reach ~1e21 per
    * window (1e9 µ-units squared × 1e3 points), so both moments accumulate
    * as DECIMAL(38,0) even for windowed groups.
    *
    * The variance numerator D = n·Σx² − (Σx)² is assembled in EXACT
    * integer arithmetic (≥ 0 by Cauchy-Schwarz, and identical across
    * engines by construction) — NOT as double E[x²]−E[x]², whose
    * catastrophic cancellation on near-constant windows amplifies the
    * one-ulp slop of DuckDB's HUGEINT→DOUBLE cast (measured: NOT
    * correctly rounded at ≥2^53) into 6-dp-visible noise. Only the final
    * exact D is cast; std = sqrt(D)/n in µ-units. Bound: n·Σx² ≤ n²·1e18
    * < 10^38 ⇒ fine to ~10^10 points per window. One map-side-partial
    * groupBy, nothing else.
    */
  def stddevWindows(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
                    width: Long): DataFrame = {
    val key = streamKey(streamCols)
    val us = graft.Quant.us6(col("value")).cast("decimal(38,0)")
    val bigD = col("n") * col("s2") - col("s1") * col("s1")
    points
      .filter(inWindows(start, end, width))
      .groupBy(key :+ widthBucket(start, width): _*)
      .agg(sum(us).as("s1"), sum(us * us).as("s2"), count(lit(1)).as("n"))
      .select(key ++ Seq(col("w_start"),
        graft.Quant.mean6(col("s1"), col("n")).as("v_mean"),
        graft.Quant.q6(sqrt(bigD.cast("double")) / col("n") / 1e6).as("v_stddev"),
        col("n").as("v_count")): _*)
  }

  /** Per-point property facets — the semi-structured analytics path:
    * BTrDB carries per-stream tags/annotations (metadata facets via
    * GetMetadataUsage); event systems carry per-POINT JSON properties,
    * and this is that facet count — values of a JSON path tallied per
    * key. `get_json_object` is a codegen'd projection, so the plan is
    * scan → map-side-partial groupBy: one narrow pass, no shuffle wider
    * than the (key, facet) result, column-pruned to the props column.
    */
  def propsFacets(events: DataFrame, keyCols: Seq[String],
                  path: String = "$.k"): DataFrame =
    events
      .select(keyCols.map(col) :+
        get_json_object(col("props"), path).cast("long").as("facet"): _*)
      .groupBy(keyCols.map(col) :+ col("facet"): _*)
      .agg(count(lit(1)).as("n"))

  /** Bollinger bands — rolling mean ± K·σ over the trailing k windows,
    * the volatility envelope dashboards draw around rolling()'s mean:
    * per-window exact integer µ-unit moments (DECIMAL — squared µ-units
    * overflow longs, the ts_stddev rule), re-aggregated over the
    * trailing frame by exact sums, variance numerator n·Σx² − (Σx)²
    * assembled exactly, and ONE deterministic float expression per
    * band. Same plan shape as rolling(): one map-side-partial window
    * aggregation + one k-row frame window over window summaries — no
    * raw-point sort at any fleet size.
    */
  def bollingerBands(points: DataFrame, streamCols: Seq[String], start: Long,
                     end: Long, width: Long, k: Int, nSigma: Double): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(nSigma > 0, s"nSigma must be positive, got $nSigma")
    val key = streamKey(streamCols)
    val us = graft.Quant.us6(col("value")).cast("decimal(38,0)")
    val base = points
      .filter(inWindows(start, end, width))
      .groupBy(key :+ widthBucket(start, width): _*)
      .agg(sum(us).as("s1"), sum(us * us).as("s2"), count(lit(1)).as("n"))
    val frame = Window.partitionBy(key: _*).orderBy(col("w_start"))
      .rowsBetween(-(k - 1).toLong, 0)
    val rs1 = sum(col("s1").cast("decimal(38,0)")).over(frame)
    val rs2 = sum(col("s2").cast("decimal(38,0)")).over(frame)
    val rn = sum(col("n").cast("long")).over(frame)
    val bigD = rn * rs2 - rs1 * rs1
    val meanF = rs1.cast("double") / rn
    val stdF = sqrt(bigD.cast("double")) / rn
    val ns = lit(nSigma)
    base.select(key ++ Seq(col("w_start"),
      graft.Quant.mean6(rs1, rn).as("roll_mean"),
      graft.Quant.q6((meanF - ns * stdF) / 1e6).as("band_lo"),
      graft.Quant.q6((meanF + ns * stdF) / 1e6).as("band_hi"),
      rn.as("n_pts")): _*)
  }

  /** Per-window least-squares slope (PromQL deriv()): the trend of each
    * window's points in value-units per second, from exact integer moment
    * sums. Times enter as offsets from the window start (t − w_start < the
    * window width) so the moment magnitudes stay bounded; offsets × µ-unit
    * values and squared offsets overflow a long, so all four moments
    * accumulate as DECIMAL(38,0) (HUGEINT in the oracle). Numerator
    * n·Σtv − Σt·Σv and denominator n·Σt² − (Σt)² are assembled in EXACT
    * integer arithmetic — a float-assembled den>0 degeneracy test flips
    * across engines, because DuckDB's HUGEINT→DOUBLE cast is NOT
    * correctly rounded past 2^53 (measured: a single-point window gets
    * den=8192, one ulp of tr², instead of 0). Only the final exact
    * integers are cast for the one division; µ-value per µs ≡ value per
    * second, no rescale needed. Windows with one distinct timestamp have
    * an exactly-zero denominator → null slope. Bound: n·Σt² ≤ n²·width²
    * < 10^38 ⇒ ~3·10^7 points per day-window. One map-side-partial
    * groupBy.
    */
  def deriv(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
            width: Long): DataFrame = {
    val key = streamKey(streamCols)
    val d = col("t_us") - start
    val mom = points
      .filter(inWindows(start, end, width))
      .select(key ++ Seq(
        widthBucket(start, width),
        pmod(d, lit(width)).cast("decimal(38,0)").as("tr"),
        graft.Quant.us6(col("value")).cast("decimal(38,0)").as("vu")): _*)
      .groupBy(key :+ col("w_start"): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("tr")).as("st"), sum(col("vu")).as("sv"),
        sum(col("tr") * col("tr")).as("stt"), sum(col("tr") * col("vu")).as("stv"))
    val num = col("n") * col("stv") - col("st") * col("sv")
    val den = col("n") * col("stt") - col("st") * col("st")
    mom.select(key ++ Seq(col("w_start"), col("n").as("n_points"),
      when(den > 0, graft.Quant.q6(num.cast("double") / den.cast("double")))
        .as("slope_per_s")): _*)
  }

  /** Capacity forecast — the "disk full in N days" SRE projection: one
    * least-squares line per STREAM over the whole range (the deriv()
    * moment recipe without the window key — exact DECIMAL sums of
    * µs-relative times × µ-unit values), plus the projected crossing
    * time of `threshold`: t_cross = start + (thr − intercept)/slope.
    * The crossing emits only for genuinely rising fits that are still
    * below threshold and cross within `horizonUs` (a near-zero slope
    * projects a crossing astronomically far out — past BIGINT in the
    * oracle engine's strict cast, and useless operationally; the
    * horizon comparison happens on the raw double, identically in both
    * engines, before any cast).
    *
    * Scale shape: ONE map-side-partial aggregation to 5 moments per
    * stream — the ts_stats_global cost class; nothing else touches the
    * raw points.
    */
  def capacityForecast(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
                       threshold: Double, horizonUs: Long): DataFrame = {
    require(horizonUs > 0, s"horizonUs must be positive, got $horizonUs")
    val key = streamKey(streamCols)
    val d = col("t_us") - start
    val mom = points
      .filter(col("t_us") >= start && col("t_us") < end)
      .select(key ++ Seq(
        d.cast("decimal(38,0)").as("tr"),
        graft.Quant.us6(col("value")).cast("decimal(38,0)").as("vu")): _*)
      .groupBy(key: _*)
      .agg(count(lit(1)).as("n"),
        sum(col("tr")).as("st"), sum(col("vu")).as("sv"),
        sum(col("tr") * col("tr")).as("stt"), sum(col("tr") * col("vu")).as("stv"))
    val num = col("n") * col("stv") - col("st") * col("sv")
    val den = col("n") * col("stt") - col("st") * col("st")
    val slope = num.cast("double") / den.cast("double") // µ-units per µs ≡ units per s
    val intercept = (col("sv").cast("double") - slope * col("st").cast("double")) /
      col("n").cast("double")
    val thrUs = threshold * 1e6
    val rel = (lit(thrUs) - intercept) / slope
    mom.select(key ++ Seq(col("n").as("n_points"),
      when(den > 0, graft.Quant.q6(slope)).as("slope_per_s"),
      when(den > 0, graft.Quant.q6(intercept / 1e6)).as("intercept"),
      when(den > 0 && slope > 0 && intercept < thrUs && rel < horizonUs.toDouble,
        lit(start) + round(rel, 0).cast("long")).as("t_cross_us")): _*)
  }

  /** Multi-window SLO burn rate (the Google SRE multi-window alert): per
    * stream and window SIZE, each grid window's bad-event fraction
    * divided by the error budget (1 − slo) — burn 1.0 consumes the
    * budget exactly at window scale, 14.4 is the classic page threshold.
    * All window sizes ride ONE scan: widths explode per point (a
    * |widths|-fan of the filtered stream, the multires trade), each
    * width bucketing on its own grid with its own complete-window
    * cutoff; counts are exact longs and the fraction/burn are two float
    * divisions both engines replay bit-for-bit.
    */
  def burnRate(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
               widths: Seq[Long], badPred: Column, slo: Double): DataFrame = {
    require(widths.nonEmpty && widths.forall(_ > 0), s"widths must be positive: $widths")
    require(slo > 0 && slo < 1, s"slo must be in (0,1), got $slo")
    val key = streamKey(streamCols)
    val exploded = points
      .filter(col("t_us") >= start && col("t_us") < end)
      .select(key ++ Seq(col("t_us"), col("value"),
        explode(array(widths.map(lit): _*)).as("width_us")): _*)
      .filter(col("t_us") <
        lit(start) + expr(s"(${end}L - ${start}L) div width_us") * col("width_us"))
    val dRel = col("t_us") - start
    val grp = key ++ Seq(col("width_us"),
      (lit(start) + dRel - pmod(dRel, col("width_us"))).as("w_start"))
    exploded
      .groupBy(grp: _*)
      .agg(count(lit(1)).as("n_events"),
        sum(when(badPred, 1L).otherwise(0L)).as("n_bad"))
      .select(key ++ Seq(col("width_us"), col("w_start"),
        col("n_events"), col("n_bad")) ++ burnCols(slo): _*)
  }

  /** bad_frac = n_bad / n_events and burn = bad_frac / (1 − slo) over
    * exact long counts: two float divisions in this order, q6-rounded —
    * burnRate and the streaming BurnRateMonitor both emit them, and the
    * oracle replays them bit-for-bit.
    */
  private[graft] def burnCols(slo: Double): Seq[Column] = {
    val frac = col("n_bad").cast("double") / col("n_events").cast("double")
    Seq(graft.Quant.q6(frac).as("bad_frac"),
      graft.Quant.q6(frac / (lit(1.0) - lit(slo))).as("burn"))
  }

  /** Interval-containment join (the temporal join): annotate each point
    * with the enclosing interval from an interval table carrying
    * INCLUSIVE [startCol, endCol] µs bounds per key — "purchases inside
    * a click session", "events while the sensor was dark". A raw range
    * predicate joins as a broadcast-nested-loop in Spark (quadratic per
    * key); here each interval explodes to the fixed-width grid buckets
    * it overlaps (fan = length/width + 1 — pick `width` near the typical
    * interval length to bound it) and points equi-join on (key, bucket)
    * with the containment residual, a plain hash join at any scale.
    * Intervals are expected DISJOINT per key (sessions, outages — every
    * producer in this library emits disjoint spans); overlapping
    * intervals would multiply matching points, one row per cover.
    */
  def intervalJoin(points: DataFrame, intervals: DataFrame, keyCols: Seq[String],
                   startCol: String, endCol: String, width: Long): DataFrame = {
    require(width > 0, s"width must be positive, got $width")
    val iv = intervals.withColumn("i_bucket",
      explode(sequence(expr(s"$startCol div ${width}L"), expr(s"$endCol div ${width}L"))))
    val pt = points.withColumn("i_bucket", expr(s"t_us div ${width}L"))
    pt.join(iv, keyCols :+ "i_bucket")
      .filter(col("t_us") >= col(startCol) && col("t_us") <= col(endCol))
      .drop("i_bucket")
  }

  /** The integer core shared by offsetCompare and topMovers: rounded
    * µ-unit window means with the offset-prior mean via a range-frame
    * window (one scan, no self-join), rows without a comparator dropped.
    */
  private def offsetFrame(points: DataFrame, streamCols: Seq[String], start: Long,
                          end: Long, width: Long, offsetUs: Long): DataFrame = {
    require(offsetUs > 0 && offsetUs % width == 0,
      s"offset must be a positive multiple of the window width, got $offsetUs / $width")
    val key = streamKey(streamCols)
    val means = windowMeans(points, streamCols, start, windowsEnd(start, end, width), width,
      "m_us")
    val w = Window.partitionBy(key: _*).orderBy(col("w_start"))
      .rangeBetween(-offsetUs, -offsetUs)
    means
      .withColumn("prev_us", max(col("m_us")).over(w))
      .filter(col("prev_us").isNotNull)
  }

  /** Offset comparison (PromQL `offset` / week-over-week): each window's
    * mean against the same stream's mean `offsetUs` earlier, with absolute
    * and percent change. Window means are rounded integer micro-units
    * (windowMeans over the complete windows), so the difference is exact
    * integer arithmetic and the percent change is a single scale-0 round
    * of an integer ratio (the graft.Quant-portable form). The prior
    * window comes from a range-frame window function ([w_start−offset,
    * w_start−offset]), NOT a self-join — one scan, one shuffle on the
    * stream key; rows_between lag(k) would miscount across empty windows.
    * Windows without a comparator are dropped.
    */
  def offsetCompare(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
                    width: Long, offsetUs: Long): DataFrame = {
    val key = streamKey(streamCols)
    offsetFrame(points, streamCols, start, end, width, offsetUs)
      .select(key ++ Seq(col("w_start"),
        (col("m_us").cast("double") / 1e6 + lit(0d)).as("v_mean"),
        (col("prev_us").cast("double") / 1e6 + lit(0d)).as("prev_mean"),
        ((col("m_us") - col("prev_us")).cast("double") / 1e6 + lit(0d)).as("diff"),
        when(col("prev_us") =!= 0,
          round((col("m_us") - col("prev_us")).cast("double") * 1e8 / col("prev_us"), 0) / 1e6
            + lit(0d)).as("pct_change")): _*)
  }

  /** Top-k movers: the fleet's biggest offset-window changes ("which
    * streams moved the most week-over-week") — the triage entry point a
    * dashboard renders before anyone knows which stream to look at.
    * Ranks |Δmean| in exact integer µ-units (a float pct would rank
    * nondeterministically on ties), deterministic total order
    * (abs desc, stream key, w_start), TakeOrdered top-k — the fleet is
    * never globally sorted; the rank window runs over k survivors.
    */
  def topMovers(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
                width: Long, offsetUs: Long, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val key = streamKey(streamCols)
    val ord = abs(col("m_us") - col("prev_us")).desc +:
      (key :+ col("w_start")).map(_.asc)
    offsetFrame(points, streamCols, start, end, width, offsetUs)
      .orderBy(ord: _*)
      .limit(k)
      .withColumn("rank", row_number().over(graft.Bounded.window(ord: _*)).cast("long"))
      .select(key ++ Seq(col("w_start"), col("rank"),
        (col("m_us").cast("double") / 1e6 + lit(0d)).as("v_mean"),
        (col("prev_us").cast("double") / 1e6 + lit(0d)).as("prev_mean"),
        ((col("m_us") - col("prev_us")).cast("double") / 1e6 + lit(0d)).as("diff")): _*)
  }

  /** Aligned-series binary arithmetic (the PromQL vector-division class:
    * error rate = errors / requests, cache hit ratio, ad CTR): per
    * (key, window), the ratio of the two sides' exact µ-unit value SUMS
    * over the shared grid of [start, end), the partial last window
    * included — sums, not means, so the ratio weighs every event equally
    * (a mean-of-means ratio would over-weight sparse windows). Inner join
    * on (key, window): the ratio exists only where both sides observed
    * data; a zero denominator yields NULL, never a float Inf. Two
    * map-side-partial aggs + one co-partitioned join — the correlation()
    * shape without the moment math.
    */
  def ratio(left: DataFrame, right: DataFrame, keyCols: Seq[String],
            start: Long, end: Long, width: Long): DataFrame = {
    val key = keyCols.map(col)
    def sums(df: DataFrame, tag: String): DataFrame =
      df.filter(inRange(start, end))
        .groupBy(key :+ widthBucket(start, width): _*)
        .agg(sum(graft.Quant.us6(col("value"))).as(s"${tag}_us"),
          count(lit(1)).as(s"n_$tag"))
    sums(left, "l").join(sums(right, "r"), keyCols :+ "w_start")
      .select(key ++ Seq(col("w_start"), col("n_l"), col("n_r"),
        (col("l_us").cast("double") / 1e6 + lit(0d)).as("l_sum"),
        (col("r_us").cast("double") / 1e6 + lit(0d)).as("r_sum"),
        when(col("r_us") =!= 0,
          graft.Quant.q6(col("l_us").cast("double") / col("r_us").cast("double")))
          .as("ratio")): _*)
  }

  /** User-journey transition matrix — consecutive-event (from → to)
    * counts and row-normalized probabilities over the event stream (the
    * funnel's generalization: the first-order Markov view of product
    * flows). Transitions pair WITHIN each (user, window) group —
    * window-bounded ordered groups, the percentileWindows pattern, so
    * no stream-wide point sort; cross-window transitions are dropped by
    * construction (a day boundary is a session boundary here,
    * documented). Ordering ties break (t_us, event_type), so same-µs
    * events pair deterministically on both engines; the probability is
    * the MEAN6 integer ratio over the from-row total (the matrix is
    * |types|² — metadata scale — so the row-total window is free).
    */
  def transitions(points: DataFrame, userCols: Seq[String], typeCol: String,
                  start: Long, end: Long, width: Long): DataFrame = {
    val key = userCols.map(col)
    val ord = Window.partitionBy(key :+ col("w_start"): _*)
      .orderBy(col("t_us"), col(typeCol))
    val counts = points
      .filter(inWindows(start, end, width))
      .select(key ++ Seq(widthBucket(start, width), col("t_us"), col(typeCol)): _*)
      .withColumn("from_type", lag(col(typeCol), 1).over(ord))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col(typeCol).as("to_type"))
      .agg(count(lit(1)).as("n"))
    val rowTotal = Window.partitionBy(col("from_type"))
    counts
      .withColumn("prob",
        graft.Quant.mean6(col("n") * 1000000L, sum(col("n")).over(rowTotal)))
  }

  /** Transition dwell times — the duration face of the journey matrix
    * ("HOW LONG between view and purchase", not just how often): per
    * (from → to) event pair, the count plus exact-µs min / mean / max
    * of the inter-event gap, paired under EXACTLY the transitions()
    * rules (within (user, window) groups, (t_us, type) tie order, a
    * window boundary is a session boundary). Gaps are integer µs, so
    * min/max are exact and the mean is one quantized integer ratio.
    * Same plan shape as transitions: window-bounded ordered groups →
    * one map-side-partial aggregation over the |types|² matrix.
    */
  def transitionDwell(points: DataFrame, userCols: Seq[String], typeCol: String,
                      start: Long, end: Long, width: Long): DataFrame = {
    val key = userCols.map(col)
    val ord = Window.partitionBy(key :+ col("w_start"): _*)
      .orderBy(col("t_us"), col(typeCol))
    points
      .filter(inWindows(start, end, width))
      .select(key ++ Seq(widthBucket(start, width), col("t_us"), col(typeCol)): _*)
      .withColumn("from_type", lag(col(typeCol), 1).over(ord))
      .withColumn("dwell_us", col("t_us") - lag(col("t_us"), 1).over(ord))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col(typeCol).as("to_type"))
      .agg(count(lit(1)).as("n"),
        min(col("dwell_us")).as("min_us"),
        max(col("dwell_us")).as("max_us"),
        sum(col("dwell_us").cast("decimal(38,0)")).as("s_us"))
      .select(col("from_type"), col("to_type"), col("n"),
        col("min_us"), col("max_us"),
        (round(col("s_us").cast("double") / col("n"), 0) + lit(0d)).as("mean_us"))
  }

  /** Cohort retention triangle — the product-analytics classic over the
    * event stream: users cohorted by their FIRST active window, and for
    * each (cohort, k) the count of cohort members active k windows
    * later. Exact by construction: the distinct (user, window) activity
    * set has one row per user-window, so the per-(cohort, k) count IS
    * the distinct-user count — no count-distinct shuffle. k = 0 rows
    * restate cohort sizes (every member is active in their first
    * window), the denominator a retention-rate report divides by.
    *
    * Scale shape: one groupBy(user) min for the cohort map and one
    * distinct over (user, window) — both shuffle on the user axis, and
    * the cohort map joins back user-keyed (AQE broadcasts it when
    * small); the triangle aggregation is map-side-partial over
    * grid-bounded (cohort, k) keys. Nothing stream-wide, nothing
    * quadratic.
    */
  def retention(points: DataFrame, streamCols: Seq[String], start: Long,
                end: Long, width: Long): DataFrame = {
    require(width > 0, s"width must be positive, got $width")
    val key = streamKey(streamCols)
    val acts = points
      .filter(inWindows(start, end, width))
      .select(key :+ widthBucket(start, width): _*)
      .distinct()
    val cohorts = acts.groupBy(key: _*).agg(min(col("w_start")).as("cohort_w"))
    acts.join(cohorts, streamCols)
      .withColumn("k", expr(s"(w_start - cohort_w) DIV $width"))
      .groupBy(col("cohort_w"), col("k"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** Rolling distinct actives — DAU and trailing-k-window AU (the
    * DAU/WAU/MAU dashboard row) per grid window: exact distinct counts,
    * no approximate sketch. The trailing distinct is NOT a sum of daily
    * distincts (users active twice in the lookback must count once), so
    * each (user, window) activity CONTRIBUTES ITSELF to the k windows
    * it keeps the user active in — a bounded k-fan explode — and a
    * second distinct collapses multi-window users before the per-window
    * count. Windows beyond completeEnd are clipped; windows with no
    * active users in range emit nothing.
    *
    * Scale shape: distinct (user, window) [one user-axis shuffle], the
    * k-fan explode (bounded multiplier), one more distinct + count —
    * everything keyed, nothing stream-wide; the exact-distinct cost is
    * the k× shuffle, the price of not sketching (ts_cardinality's HLL
    * swap-in is the approximate alternative at extreme scale).
    */
  def activeUsers(points: DataFrame, streamCols: Seq[String], start: Long,
                  end: Long, width: Long, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val key = streamKey(streamCols)
    val completeEnd = windowsEnd(start, end, width)
    val acts = points
      .filter(inRange(start, completeEnd))
      .select(key :+ widthBucket(start, width): _*)
      .distinct()
    val dau = acts.groupBy(col("w_start")).agg(count(lit(1)).as("active"))
    val wau = acts
      .withColumn("w_to",
        explode(sequence(col("w_start"),
          least(col("w_start") + (k - 1).toLong * width, lit(completeEnd - width)),
          lit(width))))
      .select(key :+ col("w_to"): _*)
      .distinct()
      .groupBy(col("w_to").as("w_start"))
      .agg(count(lit(1)).as("active_trailing"))
    // right join: a window can have trailing actives but none today
    // (dau 0); the converse is impossible (a window contributes to its
    // own trailing range)
    dau.join(wau, Seq("w_start"), "right")
      .select(col("w_start"), coalesce(col("active"), lit(0L)).as("active"),
        col("active_trailing"))
  }

  /** Conversion funnel: for each base event (e.g. click), did a conversion
    * event (e.g. purchase) follow within `horizonUs`? Aggregated per
    * (key, window of the base event): base count, converted count, and the
    * conversion rate. The "earliest conversion at/after t" lookup is the
    * as-of join run FORWARD — both time axes negated, so the backward
    * merge's "latest right ≤ t" becomes "earliest right ≥ t" and the
    * staleness tolerance becomes the conversion horizon; the custom
    * AsofMergeJoinExec (or its windowed fallback) does the heavy lifting,
    * no interval/range join materializes. Conversions collapse to
    * max(value) per (key, t) first (the asof determinism rule). cvr is the
    * quantized integer ratio (graft.Quant MEAN6 form).
    */
  def funnel(base: DataFrame, conv: DataFrame, keyCols: Seq[String], start: Long, end: Long,
             width: Long, horizonUs: Long): DataFrame = {
    require(horizonUs > 0, s"horizon must be positive, got $horizonUs")
    val key = keyCols.map(col)
    val l = base
      .filter(inWindows(start, end, width))
      .select(key ++ Seq((-col("t_us")).as("t_neg"), col("value")): _*)
    val r = conv
      .groupBy(key :+ col("t_us"): _*).agg(max(col("value")).as("value"))
      .select(key ++ Seq((-col("t_us")).as("t_neg"), col("value")): _*)
    val joined = asofJoin(l, r, keyCols, asOfCol = "t_neg", toleranceUs = Some(horizonUs))
    joined
      .groupBy(key :+ gridBucket(-col("t_neg"), start, width).as("w_start"): _*)
      .agg(count(lit(1)).as("n_base"),
        count(col("asof_value")).as("n_converted"))
      .withColumn("cvr",
        graft.Quant.mean6(col("n_converted") * 1000000L, col("n_base")))
  }

  /** Top user journeys — the Sankey/path-analysis feed ("what are the
    * most common things users actually DO in a session"): per
    * (user, window) the ordered event-type path capped at `maxLen`
    * steps, then the top-k paths fleet-wide by occurrence.
    * ts_transitions is this report's first-order marginal; the full
    * path keeps order beyond adjacent pairs.
    *
    * Determinism: the in-group order is (t_us, event_type) —
    * array_sort over (t, type) structs — so same-µs events order
    * identically on both engines; the cap keeps the path string
    * bounded regardless of session size. Paths build inside
    * window-bounded groups (the percentileWindows pattern — no
    * stream-wide sort; a collect_list per (user, window) group is
    * bounded by per-session volume); the path census is one
    * map-side-partial groupBy + TakeOrdered top-k.
    */
  def topPaths(events: DataFrame, keyCols: Seq[String], typeCol: String,
               start: Long, end: Long, width: Long, maxLen: Int, k: Int): DataFrame = {
    require(maxLen > 0 && k > 0, s"maxLen/k must be positive, got $maxLen/$k")
    val key = keyCols.map(col)
    val paths = events
      .filter(inWindows(start, end, width))
      .groupBy(key :+ widthBucket(start, width): _*)
      .agg(concat_ws(">", slice(
        transform(array_sort(collect_list(struct(col("t_us"), col(typeCol).as("et")))),
          x => x.getField("et")), 1, maxLen)).as("path"))
    val ranked = paths.groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)
    ranked.withColumn("rank",
      row_number().over(graft.Bounded.window(col("n_sessions").desc, col("path"))).cast("long"))
      .select(col("rank"), col("path"), col("n_sessions"))
  }

  /** Multi-step funnel — the N-step sequence report ("click → view →
    * purchase, each within the horizon of the previous"): per user, the
    * FIRST occurrence of each step at-or-after the previous step's
    * time, the reached-user count per step, and step/overall conversion
    * rates. funnel() answers the per-window 2-step question; this is
    * the Amplitude/GA-class ordered-sequence report.
    *
    * Each step is one keyed equi-join (users who reached the previous
    * step, a shrinking frame) + one min-aggregation — never an as-of
    * buffer or a per-user event sort; the final report is |steps| rows
    * assembled by a union of single-row aggregates with the rates from
    * a |steps|-row window (metadata scale). Rates are the quantized
    * integer ratios of funnel()'s cvr contract, NULL when the previous
    * step converted nobody.
    */
  def funnelSteps(events: DataFrame, keyCols: Seq[String], typeCol: String,
                  stepTypes: Seq[String], start: Long, end: Long, horizonUs: Long): DataFrame = {
    require(stepTypes.size >= 2, s"need at least 2 steps, got $stepTypes")
    require(horizonUs > 0, s"horizon must be positive, got $horizonUs")
    val key = keyCols.map(col)
    val pts = events
      .filter(col("t_us") >= start && col("t_us") < end)
    val seed = pts.filter(col(typeCol) === stepTypes.head)
      .groupBy(key: _*).agg(min(col("t_us")).as("t_step"))
    // Tie rule: a step at EXACTLY the previous step's time counts
    // (at-or-after) — two different event types at the same µs are a
    // legitimate simultaneous pair. EXCEPT when the step type repeats
    // (click -> click): there `>=` would let the very same event satisfy
    // both steps and inflate conversion, so a repeated type requires
    // strictly-after.
    val frames = stepTypes.tail.zip(stepTypes.init).scanLeft(seed) {
      case (prev, (st, prevSt)) =>
        val after =
          if (st == prevSt) col("t_us") > col("t_prev")
          else col("t_us") >= col("t_prev")
        pts.filter(col(typeCol) === st)
          .join(prev.select(key :+ col("t_step").as("t_prev"): _*), keyCols)
          .filter(after && col("t_us") <= col("t_prev") + horizonUs)
          .groupBy(key: _*).agg(min(col("t_us")).as("t_step"))
    }
    val report = frames.zip(stepTypes).zipWithIndex.map { case ((f, st), i) =>
      f.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).cast("long").as("step"), lit(st).as("event_type"),
          col("n_users"))
    }.reduce(_ union _)
    val w = graft.Bounded.window(col("step"))
    report
      .withColumn("n_prev", lag(col("n_users"), 1).over(w))
      .withColumn("n_first", first(col("n_users")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("step"), col("event_type"), col("n_users"),
        when(col("n_prev") > 0,
          graft.Quant.mean6(col("n_users") * 1000000L, col("n_prev"))).as("cvr_step"),
        when(col("n_first") > 0,
          graft.Quant.mean6(col("n_users") * 1000000L, col("n_first"))).as("cvr_total"))
  }

  /** Peak detection over the window-mean series: a window is a peak when
    * its mean strictly exceeds every neighbor within `k` non-empty
    * windows on BOTH sides and rises at least `minPromUs` micro-units
    * above the taller shoulder (the prominence floor that separates real
    * spikes from ripple). The alarm/event-extraction query a BTrDB user
    * scripts by pulling Windows client-side and scanning for local maxima
    * (qtree windows → client loop); here it is one declarative plan.
    *
    * Determinism: window means are rounded integer micro-units (the
    * windowMeans values), so every comparison — neighbor max, strict
    * dominance, prominence threshold — is exact integer arithmetic;
    * requiring a full k-window shoulder on both sides (count, not just
    * max) keeps boundary windows out without an engine-dependent null
    * rule. Ties (equal neighbor mean) are NOT
    * peaks: strictness is the tiebreak, so a plateau never fires.
    *
    * Scale shape: one map-side-partial groupBy to window means, then
    * rows-frame windows over GRID-BOUNDED per-stream groups (≤
    * (end−start)/width rows — metadata scale, the rolling() shape); raw
    * points are never sorted or shuffled beyond the one partial-agg
    * exchange.
    */
  def peaks(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
            width: Long, k: Int, minPromUs: Long): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(minPromUs >= 0, s"minPromUs must be non-negative, got $minPromUs")
    val key = streamKey(streamCols)
    val sums = points
      .filter(inWindows(start, end, width))
      .groupBy(key :+ widthBucket(start, width): _*)
      .agg(sum(graft.Quant.us6(col("value"))).as("sum_us"), count(lit(1)).as("n"))
    val means = sums.select(key ++ Seq(col("w_start"),
      round(col("sum_us").cast("double") / col("n"), 0).cast("long").as("m_us"),
      col("n").as("n_points")): _*)
    val ord = Window.partitionBy(key: _*).orderBy(col("w_start"))
    val lFrame = ord.rowsBetween(-k.toLong, -1L)
    val rFrame = ord.rowsBetween(1L, k.toLong)
    means
      .withColumn("l_max", max(col("m_us")).over(lFrame))
      .withColumn("r_max", max(col("m_us")).over(rFrame))
      .withColumn("l_n", count(lit(1)).over(lFrame))
      .withColumn("r_n", count(lit(1)).over(rFrame))
      .filter(col("l_n") === k && col("r_n") === k &&
        col("m_us") > col("l_max") && col("m_us") > col("r_max") &&
        col("m_us") - greatest(col("l_max"), col("r_max")) >= minPromUs)
      .select(key ++ Seq(col("w_start"),
        (col("m_us").cast("double") / 1e6 + lit(0d)).as("v_mean"),
        ((col("m_us") - greatest(col("l_max"), col("r_max"))).cast("double") / 1e6
          + lit(0d)).as("prominence"),
        col("n_points")): _*)
  }

  /** Change-point detection over the window-mean series — the two-sample
    * mean-shift scan (CUSUM's offline sibling): at each boundary, the
    * mean of the next `k` non-empty windows (current included) minus the
    * mean of the previous `k`; a change point is a boundary whose
    * |shift| clears `minShiftUs` micro-units AND is the local apex of
    * the |shift| series (strictly above the previous boundary's score,
    * at-or-above the next — the half-open tiebreak that picks exactly
    * one boundary per plateau, never a run of flags for one level
    * change).
    *
    * Determinism: side means are rounded integer micro-units from exact
    * µ-unit sums (each point weighs equally within its side — a
    * mean-of-window-means would not be a two-sample statistic), so the
    * shift, its threshold test, and both apex comparisons are exact
    * integer arithmetic end to end.
    *
    * Scale shape: identical to rolling()/bollingerBands() — one
    * map-side-partial groupBy to per-window (sum, count), then rows-frame
    * windows over grid-bounded per-stream groups; never a raw-point
    * sort.
    */
  def changePoints(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
                   width: Long, k: Int, minShiftUs: Long): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(minShiftUs >= 0, s"minShiftUs must be non-negative, got $minShiftUs")
    val key = streamKey(streamCols)
    val sums = points
      .filter(inWindows(start, end, width))
      .groupBy(key :+ widthBucket(start, width): _*)
      .agg(sum(graft.Quant.us6(col("value"))).as("sum_us"), count(lit(1)).as("n"))
    val ord = Window.partitionBy(key: _*).orderBy(col("w_start"))
    val lFrame = ord.rowsBetween(-k.toLong, -1L)
    val rFrame = ord.rowsBetween(0L, (k - 1).toLong)
    val scored = sums
      .withColumn("l_cnt", count(lit(1)).over(lFrame))
      .withColumn("r_cnt", count(lit(1)).over(rFrame))
      .withColumn("l_mean_us",
        round(sum(col("sum_us")).over(lFrame).cast("double") /
          sum(col("n")).over(lFrame), 0).cast("long"))
      .withColumn("r_mean_us",
        round(sum(col("sum_us")).over(rFrame).cast("double") /
          sum(col("n")).over(rFrame), 0).cast("long"))
      .withColumn("score_us",
        when(col("l_cnt") === k && col("r_cnt") === k,
          abs(col("r_mean_us") - col("l_mean_us"))))
    scored
      .withColumn("prev_score", lag(col("score_us"), 1).over(ord))
      .withColumn("next_score", lead(col("score_us"), 1).over(ord))
      .filter(col("score_us").isNotNull && col("score_us") >= minShiftUs &&
        (col("prev_score").isNull || col("score_us") > col("prev_score")) &&
        (col("next_score").isNull || col("score_us") >= col("next_score")))
      .select(key ++ Seq(col("w_start"),
        (col("l_mean_us").cast("double") / 1e6 + lit(0d)).as("mean_before"),
        (col("r_mean_us").cast("double") / 1e6 + lit(0d)).as("mean_after"),
        ((col("r_mean_us") - col("l_mean_us")).cast("double") / 1e6 + lit(0d))
          .as("shift")): _*)
  }

  /** Savitzky–Golay smoothing (Savitzky & Golay 1964) of the per-window
    * mean series: the quadratic/cubic 5-point kernel (−3, 12, 17, 12,
    * −3)/35 — the standard "smooth without flattening the peaks" filter
    * (a moving average biases every local extremum toward its
    * shoulders; the SG quadratic fit preserves second-order structure).
    * Runs over each stream's OCCUPIED-window rounded-µ-unit mean series
    * in w_start order (row adjacency, the rolling()/peaks() series
    * contract); windows without the full 5-row frame emit a NULL smooth
    * (the classical edge rule, matching decompose()'s full-frame trend).
    *
    * Determinism: window means are rounded integer micro-units (the
    * peaks idiom), the kernel dot product is a pure long expression, and
    * the single float step is one correctly-rounded division by 35
    * before the µ-unit re-round — both engines replay it bit-for-bit.
    *
    * Scale shape: one map-side-partial groupBy to window means, then one
    * rows-frame window over grid-bounded per-stream groups — raw points
    * see only the partial-agg exchange, never a stream-wide sort.
    */
  def savgol(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
             width: Long): DataFrame = {
    val key = streamKey(streamCols)
    val sums = points
      .filter(inWindows(start, end, width))
      .groupBy(key :+ widthBucket(start, width): _*)
      .agg(sum(graft.Quant.us6(col("value"))).as("sum_us"), count(lit(1)).as("n"))
    val means = sums.select(key ++ Seq(col("w_start"),
      round(col("sum_us").cast("double") / col("n"), 0).cast("long").as("m_us"),
      col("n").as("n_points")): _*)
    val ord = Window.partitionBy(key: _*).orderBy(col("w_start"))
    val sgNum = lit(17L) * col("m_us") +
      lit(12L) * (lag(col("m_us"), 1).over(ord) + lead(col("m_us"), 1).over(ord)) -
      lit(3L) * (lag(col("m_us"), 2).over(ord) + lead(col("m_us"), 2).over(ord))
    means
      .withColumn("sg_us", round(sgNum.cast("double") / 35.0, 0).cast("long"))
      .select(key ++ Seq(col("w_start"),
        (col("m_us").cast("double") / 1e6 + lit(0d)).as("v_mean"),
        (col("sg_us").cast("double") / 1e6 + lit(0d)).as("sg_mean"),
        col("n_points")): _*)
  }

  /** Per-window five-number summary + Tukey-fence outlier counts (the
    * boxplot serving query): exact type-7 p25/p50/p75 via the
    * percentileWindows rank-lookup (deterministic (value, t_us) order,
    * conditional aggregation over row_number — no per-group sort
    * materialization), IQR, and the counts of points beyond
    * q1 − w·IQR / q3 + w·IQR. Fences are computed on the RAW
    * interpolated quantiles (floats both engines assemble identically);
    * Q6 quantization happens only on emit. The outlier count pass joins
    * the points back on the same (stream, window) key — co-partitioned,
    * no second shuffle key.
    */
  def boxplotWindows(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
                     width: Long, whisker: Double = 1.5): DataFrame = {
    require(whisker > 0, s"whisker must be positive, got $whisker")
    val key = streamKey(streamCols)
    val grp = key :+ col("w_start")
    val joinCols = streamCols :+ "w_start"
    val base = points
      .filter(inWindows(start, end, width))
      .select(key :+ widthBucket(start, width) :+ col("t_us") :+ col("value"): _*)
    val ord = Window.partitionBy(grp: _*).orderBy(col("value"), col("t_us"))
    val ranked = base
      .withColumn("rn", row_number().over(ord))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(grp: _*)))
    val qs = Seq(25 -> 0.25, 50 -> 0.5, 75 -> 0.75)
    val aggs = qs.flatMap { case (t, p) =>
      val idx = lit(p) * (col("n") - 1).cast("double")
      Seq(
        max(when(col("rn") === floor(idx).cast("long") + 1, col("value"))).as(s"lo_$t"),
        max(when(col("rn") === ceil(idx).cast("long") + 1, col("value"))).as(s"hi_$t"),
        max(idx - floor(idx)).as(s"frac_$t"))
    } :+ count(lit(1)).as("n_points")
    val quart = ranked.groupBy(grp: _*).agg(aggs.head, aggs.tail: _*)
      .select(grp ++ Seq(col("n_points")) ++ qs.map { case (t, _) =>
        (col(s"lo_$t") + (col(s"hi_$t") - col(s"lo_$t")) * col(s"frac_$t")).as(s"q$t")
      }: _*)
      .withColumn("f_lo", col("q25") - lit(whisker) * (col("q75") - col("q25")))
      .withColumn("f_hi", col("q75") + lit(whisker) * (col("q75") - col("q25")))
    val outs = base.join(quart.select(grp ++ Seq(col("f_lo"), col("f_hi")): _*), joinCols)
      .groupBy(grp: _*)
      .agg(sum(when(col("value") < col("f_lo"), 1L).otherwise(0L)).as("n_out_lo"),
        sum(when(col("value") > col("f_hi"), 1L).otherwise(0L)).as("n_out_hi"))
    quart.join(outs, joinCols)
      .select(key ++ Seq(col("w_start"), col("n_points"),
        graft.Quant.q6(col("q25")).as("p25"),
        graft.Quant.q6(col("q50")).as("p50"),
        graft.Quant.q6(col("q75")).as("p75"),
        graft.Quant.q6(col("q75") - col("q25")).as("iqr"),
        col("n_out_lo"), col("n_out_hi")): _*)
  }

  /** Fleet cross-correlation matrix: pairwise Pearson r of the
    * window-mean series across the top-N streams by point volume
    * ("which signals in this fleet move together?" — ts_similar answers
    * it against ONE query stream; this is the roster×roster audit).
    * The N² blow-up is tamed by construction: the roster is a
    * TakeOrdered top-N (deterministic ties by stream key), broadcast
    * into the mean frame, so the self-join is (N · grid)×(N · grid) on
    * the window equi-key — metadata scale, never fleet×fleet. pearson()
    * reduces each pair's window means; each unordered pair appears once
    * (strict lexicographic key order), diagonal excluded.
    */
  def xcorrMatrix(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
                  width: Long, topN: Int): DataFrame = {
    require(topN >= 2, s"topN must be >= 2, got $topN")
    val key = streamKey(streamCols)
    val completeEnd = windowsEnd(start, end, width)
    val means = windowMeans(points, streamCols, start, completeEnd, width, "m_us")
    // the roster needs only per-stream POINT counts — a count-only
    // aggregate straight off the scan, so its second pass reads (key,
    // ts) with the value column pruned instead of re-deriving the mean
    // arithmetic (Catalyst reuses the means exchange across the two
    // join sides but not across the differently-shaped roster branch)
    val roster = points
      .filter(inRange(start, completeEnd))
      .groupBy(key: _*).agg(count(lit(1)).as("n_points"))
      .orderBy(col("n_points").desc +: key: _*)
      .limit(topN)
    val m = means.join(broadcast(roster.select(key: _*)), streamCols)
    def side(suffix: String, v: String) = m.select(
      streamCols.map(c => col(c).as(s"${c}_$suffix")) ++
        Seq(col("w_start").as(s"w_$suffix"), col("m_us").as(v)): _*)
    val a = side("a", "x")
    val b = side("b", "y")
    // strict lexicographic order on the composite stream key: each
    // unordered pair once, no diagonal
    val pairLt = streamCols.zipWithIndex.map { case (c, i) =>
      val eqPrefix = streamCols.take(i)
        .map(p => col(s"${p}_a") === col(s"${p}_b"))
        .foldLeft(lit(true))(_ && _)
      eqPrefix && col(s"${c}_a") < col(s"${c}_b")
    }.reduce(_ || _)
    val pairKey = streamCols.map(c => col(s"${c}_a")) ++ streamCols.map(c => col(s"${c}_b"))
    pearson(a.join(b, col("w_a") === col("w_b") && pairLt), pairKey, "x", "y")
  }
}
