package graft.ts

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Hierarchical statistical rollups — the Spark-native form of BTrDB's
  * qtree internal nodes.
  *
  * The reference's K=64-ary tree stores (min, mean, max, count) per child
  * pointer at every level (qtree/operators.go OpReduce, bstore
  * blocktypes.go Coreblock), which is what makes AlignedWindows O(log n):
  * a query at pointWidth p reads tree nodes, never raw points.
  *
  * Here the same precomputation is N materialized aggregate tables at
  * increasing pointwidths. Every level stores exactly the partial
  * statpoint `(keys…, w_start, v_min, v_max, v_sum_us, v_count)` of
  * TimeSeriesOps' node algebra — SUM (not mean), so it re-aggregates
  * exactly from the previous level — and every level read folds it with
  * the definitions the raw reads use. A query at pointWidth p is served
  * from the coarsest level ≤ p, re-aggregating 2^(p−l) buckets per window
  * — at 100 TB a year of ns data at level 32 is ~7 k rows per stream, so
  * stat queries never touch the raw fact table.
  *
  * Incremental maintenance: level 0 is a groupBy over the new batch only
  * (merged by bucket on read or by periodic compaction) — see
  * graft.streaming.Ingest for the streaming path.
  *
  * Declared level schema: build() — and appendBatch() when it starts the
  * hierarchy — records the levels' columns (keys…, the four statpoint
  * columns and the `delta` partition) in `base/_level_schema`, and every
  * level read uses it, so no read pays a Spark job for parquet footer
  * inference. A hierarchy written before the record existed is read with
  * inference until its next build.
  *
  * A level serves BTrDB's three stat reads and nothing else:
  * alignedWindows (with its invalidation ranges), windows and
  * windowsApprox. Every other operator reads raw points. The quantile
  * family (TimeSeriesOps.boxplotWindows, percentileWindows) never serves
  * from a level, at any width or alignment: order statistics do not
  * re-aggregate from (min, sum, max, count) — two buckets with identical
  * statpoints can hold different medians — so those operators always
  * read raw points rather than a silently-wrong moment-based
  * approximation. Serving them would take a mergeable sketch column
  * (t-digest/KLL) added at build time, a different storage contract than
  * the reference's statpoint node (qtree.go's min/mean/max/count), kept
  * out so the rollup stays bit-exact for everything it serves. The
  * detectors read raw points too. bollingerBands needs a second moment
  * and burnRate a per-bucket count of a predicate, and neither is a
  * statpoint field. peaks, savgol and changePoints could re-sum a level's
  * (v_sum_us, v_count), but the reference serves no detector from its
  * tree and no reader here asks for one, so a level path for them would
  * be a second path with no caller.
  */
class Rollup(val spark: SparkSession, val base: String, val pointwidths: Seq[Int]) {
  require(pointwidths == pointwidths.sorted, "pointwidths must ascend")

  private def levelDir(pw: Int) = s"$base/rollup_pw$pw"

  /** Raw points as the level at pointwidth pw: one partial statpoint per node. */
  private def bucketize(points: DataFrame, streamCols: Seq[String], pw: Int): DataFrame =
    TimeSeriesOps.statPartial(points, streamCols,
      TimeSeriesOps.nodeStart(col("t_us"), pw).as("w_start"))

  /** A finer level merged up to pointwidth pw. It names only the four
    * statpoint columns, so any extra column a finer level carries is
    * ignored.
    */
  private def merge(finer: DataFrame, streamCols: Seq[String], pw: Int): DataFrame =
    TimeSeriesOps.statPartial(finer, streamCols,
      TimeSeriesOps.nodeStart(col("w_start"), pw).as("w_start"), ofPartials = true)

  /** Build (or rebuild) all levels, each from the previous — a single raw
    * scan total. Every level lives under a `delta=` subdir (the same
    * layout appendBatch extends), so a full build is just the compacted
    * `delta=base`; building clears any previous deltas (it subsumes them).
    */
  def build(points: DataFrame, streamCols: Seq[String]): Unit = {
    // Hadoop FS, not java.io.File: on HDFS/S3A a local-File delete
    // silently no-ops and stale delta= dirs would double-count every
    // bucket on read (same consistency stance as graft.ts.Store)
    var prev: DataFrame = null
    pointwidths.zipWithIndex.foreach { case (pw, i) =>
      val level =
        if (i == 0) bucketize(points, streamCols, pw)
        else merge(prev, streamCols, pw)
      if (i == 0) recordSchema(level)
      val dir = hpath(levelDir(pw))
      if (hfs.exists(dir)) hfs.delete(dir, true)
      level.write.mode(SaveMode.Overwrite).parquet(s"${levelDir(pw)}/delta=base")
      prev = read(levelDir(pw))
    }
  }

  /** The level at pointwidth `pw` (every delta of it), read with the
    * recorded level schema, so the read starts no Spark job; a compaction
    * swap that crashed is restored first.
    */
  def level(pw: Int): DataFrame = { recoverCrashedSwap(pw); read(levelDir(pw)) }

  private val hfs = new org.apache.hadoop.fs.Path(base)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def hpath(d: String) = new org.apache.hadoop.fs.Path(d)

  private val schemaFile = hpath(s"$base/_level_schema")

  /** Records the level schema of `level` (a level's columns before the
    * `delta` partition) — see the class doc.
    */
  private def recordSchema(level: DataFrame): Unit = {
    val out = hfs.create(schemaFile, true)
    val schema = org.apache.spark.sql.types.StructType(level.schema.fields.map(_.copy(nullable = true)))
    try out.write(schema.add("delta", "string").json.getBytes("UTF-8"))
    finally out.close()
  }

  /** A level dir read with the recorded schema (footer inference without one). */
  private def read(dir: String): DataFrame =
    if (!hfs.exists(schemaFile)) spark.read.parquet(dir)
    else {
      val in = hfs.open(schemaFile)
      val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      spark.read.schema(org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType]).parquet(dir)
    }

  /** A compactDeltas swap that died between moving the live level aside
    * and publishing the compacted one leaves `_old`/`_compacted` but no
    * live dir — restore whichever exists (same stance as Store: both
    * states are complete and correct; `_old` is pre-compaction deltas,
    * `_compacted` their exact merge). Racing recoverers are tolerated: a
    * failed restore rename is fine if SOMEONE published a live dir, and
    * the un-restored twin is dropped so a later recovery can't resurrect
    * a stale copy (compactDeltas tolerates losing its publish rename to
    * a recoverer the same way).
    */
  private def recoverCrashedSwap(pw: Int): Unit =
    if (!hfs.exists(hpath(levelDir(pw)))) {
      val live = hpath(levelDir(pw))
      val comp = hpath(s"${levelDir(pw)}_compacted")
      val old = hpath(s"${levelDir(pw)}_old")
      Seq(comp, old).find(hfs.exists).foreach { c =>
        if (!hfs.rename(c, live) && !hfs.exists(live))
          sys.error(s"rollup: could not restore $c")
        if (hfs.exists(live)) hfs.delete(if (c == comp) old else comp, true)
      }
    }

  /** Collapse accumulated ingest deltas into one `delta=base` per level —
    * the read-efficiency complement of appendBatch. Reads only the LEVEL
    * files (never raw points), so the job is O(rollup size): at 100 TB of
    * raw data the finest level is ~2^pw smaller, and a nightly compaction
    * touches megabytes per stream, not the fact table. Each level swaps
    * independently and crash-safely (write `_compacted` → move live to
    * `_old` → publish → drop `_old`; a crash at any point leaves either
    * the old deltas or their exact merge, and level() restores it).
    *
    * Concurrency contract: call from the (single) ingest writer while no
    * batch is in flight — a delta landing between the read and the swap
    * would be dropped. READERS need no quiescing: one that observes the
    * mid-swap window (live moved aside, compacted not yet published) will
    * publish `_compacted` itself via recoverCrashedSwap; losing the
    * publish rename to such a reader is success here, not a fault — the
    * published bytes are this compaction's own merge either way. Replayed
    * micro-batches after a compaction are safe: the ingest commit markers
    * outlive it, so an absorbed delta is never re-appended.
    */
  def compactDeltas(streamCols: Seq[String]): Unit =
    pointwidths.foreach { pw =>
      recoverCrashedSwap(pw)
      val dir = hpath(levelDir(pw))
      if (hfs.exists(dir) &&
          hfs.listStatus(dir).count(_.getPath.getName.startsWith("delta=")) > 1) {
        val tmp = hpath(s"${levelDir(pw)}_compacted")
        val old = hpath(s"${levelDir(pw)}_old")
        if (hfs.exists(tmp)) hfs.delete(tmp, true)
        if (hfs.exists(old)) hfs.delete(old, true)
        // same-pw merge: re-aggregates duplicate w_start buckets across
        // deltas (associative min/max + exact integer sums — identical to
        // what every read path does on the fly)
        merge(read(levelDir(pw)), streamCols, pw)
          .write.parquet(s"${tmp.toString}/delta=base")
        if (!hfs.rename(dir, old)) sys.error(s"rollup: could not move $dir aside")
        if (!hfs.rename(tmp, dir) && !(hfs.exists(dir) && !hfs.exists(tmp)))
          sys.error(s"rollup: could not publish $tmp")
        hfs.delete(old, true)
      }
    }

  /** Incrementally append one ingest batch's contribution to EVERY level —
    * the streaming-maintenance path (the reference updates its tree's
    * internal aggregates on each commit; here each micro-batch lands a
    * delta at each pointwidth, chained coarse-from-fine so the batch is
    * bucketized once). Duplicate w_start buckets across deltas are exact
    * partial aggregates: every read path re-merges buckets (min/max/sum/
    * count are associative), so deltas never need compaction for
    * correctness — a periodic build() collapses them for read efficiency.
    * An append reads no level: every read names only the statpoint
    * columns, so a delta never has to match its base's other columns.
    *
    * `writeId` makes replays idempotent: a delta lands at
    * `rollup_pw<pw>/delta=<writeId>` with Overwrite, so a replayed batch
    * (same writeId) overwrites its own delta instead of double-counting.
    */
  def appendBatch(points: DataFrame, streamCols: Seq[String], writeId: String): Unit = {
    val cached = scala.collection.mutable.Buffer.empty[DataFrame]
    var prev: DataFrame = null
    val fresh = !hfs.exists(schemaFile) && pointwidths.forall(pw => !hfs.exists(hpath(levelDir(pw))))
    pointwidths.zipWithIndex.foreach { case (pw, i) =>
      val delta =
        if (i == 0) bucketize(points, streamCols, pw)
        else merge(prev, streamCols, pw)
      if (i == 0 && fresh) recordSchema(delta)
      delta.cache()
      cached += delta
      delta.write.mode(SaveMode.Overwrite).parquet(s"${levelDir(pw)}/delta=$writeId")
      prev = delta
    }
    cached.foreach(_.unpersist())
  }

  /** Serve EXACT arbitrary-width Windows from the coarsest level whose
    * buckets tile the windows — width divisible by 2^l and `start`
    * 2^l-aligned, so every bucket lies wholly inside one window and the
    * re-aggregation is exact (integer micro-unit sums). Anything else
    * falls back to raw. This is the qtree's Windows read path: the
    * reference answers WindowsParams from internal nodes whenever the
    * window geometry permits (qtree.go QueryWindow descends only to the
    * node size that fits).
    */
  def windows(raw: => DataFrame, streamCols: Seq[String],
              start: Long, end: Long, width: Long): DataFrame = {
    val usable =
      pointwidths.filter(l => width % (1L << l) == 0 && (start & ((1L << l) - 1)) == 0L)
    if (usable.isEmpty) TimeSeriesOps.windows(raw, streamCols, start, end, width)
    else
      reaggregate(level(usable.max), streamCols, start, end, width)
  }

  /** Re-aggregate level buckets into the complete `width`-wide windows
    * from `start` (the raw path's cutoff): keep the buckets inside
    * [start, completeEnd), optionally merge them up to 2^mergeTo first,
    * then group each into the window holding its start. Output schema
    * matches TimeSeriesOps.windows: (keys…, w_start, v_min, v_mean, v_max,
    * v_count).
    */
  private def reaggregate(buckets: DataFrame, streamCols: Seq[String], start: Long,
                          end: Long, width: Long, mergeTo: Option[Int] = None): DataFrame = {
    val complete = buckets.filter(TimeSeriesOps.inWindows(start, end, width, col("w_start")))
    TimeSeriesOps.statAgg(mergeTo.fold(complete)(merge(complete, streamCols, _)), streamCols,
        TimeSeriesOps.gridBucket(col("w_start"), start, width).as("w_win"), ofPartials = true)
      .withColumnRenamed("w_win", "w_start")
  }

  /** Serve depth-approximate Windows (TimeSeriesOps.windowsApprox — the
    * WindowsParams.depth semantics) from the coarsest level ≤ depth: merge
    * level buckets up to 2^depth, then assign each to the window containing
    * its start. `start` and the complete-window end should be
    * 2^depth-aligned for bit-equivalence with the raw path — an edge
    * bucket straddling the range boundary carries points the raw path's
    * [start, end) filter excludes (inherent to whole-node approximation).
    */
  def windowsApprox(streamCols: Seq[String], start: Long, end: Long,
                    width: Long, depth: Int): DataFrame = {
    val usable = pointwidths.filter(_ <= depth)
    require(usable.nonEmpty, s"no rollup level at or below depth $depth")
    // unaligned start would merge a finer-level bucket to a 2^depth bucket
    // starting BEFORE the range (emitting a window the raw path never
    // produces) or drop a straddling bucket's in-range points
    require((start & ((1L << depth) - 1)) == 0L,
      s"windowsApprox start must be 2^$depth-aligned, got $start")
    reaggregate(level(usable.max), streamCols, start, end, width, Some(depth))
  }

  /** Serve AlignedWindows(pointWidth=pw) from the coarsest usable level.
    * Falls back to `raw` when pw is finer than the finest level. Output
    * schema matches TimeSeriesOps.alignedWindows.
    *
    * `invalid`: per-stream [r_start, r_end) time ranges whose rollup
    * buckets must not be trusted — rollups reflect raw INGEST only, so a
    * Store.deleteRange/obliterate after the last build leaves the
    * overlapped buckets stale (they still count the hidden points). Pass
    * the store's tombstones with ver > the rollup's build watermark
    * (Rollup.tombstoneRanges) and every window overlapping one is
    * recomputed from `raw` (the visible view) instead; all other windows
    * stay rollup-served. Tombstones are metadata-scale, so `invalid` is
    * collected to the driver exactly once per call and only the ranges
    * overlapping the level-served span [loAligned, hiAligned) are kept:
    * when none are, the answer plans neither the anti-join nor the
    * dirty-bucket recompute (`raw` is then evaluated only for the
    * unaligned edge windows); otherwise the bucket filter and the
    * dirty-point semi-join broadcast the kept rows as a local relation.
    * A periodic build() over the post-delete visible view re-absorbs the
    * ranges.
    */
  def alignedWindows(raw: => DataFrame, streamCols: Seq[String],
                     start: Long, end: Long, pw: Int,
                     invalid: Option[DataFrame] = None): DataFrame = {
    val usable = pointwidths.filter(_ <= pw)
    if (usable.isEmpty)
      TimeSeriesOps.alignedWindows(raw, streamCols, start, end, pw)
    else {
      val l = usable.max
      val width = 1L << pw
      // Rollup buckets aggregate EVERY point in their 2^l span, so a level
      // can only serve pw-windows that lie fully inside [start, end). The
      // (at most two) partial boundary windows — the pw-bucket containing an
      // unaligned `start` and the one containing an unaligned `end` — are
      // computed from raw points with the exact [start, end) filter; the
      // raw scans are single-bucket time ranges, so they partition-prune.
      val loAligned = if ((start & (width - 1)) == 0L) start
                      else ((start >> pw) + 1) << pw
      val hiAligned = (end >> pw) << pw
      if (loAligned >= hiAligned)
        TimeSeriesOps.alignedWindows(raw, streamCols, start, end, pw)
      else {
        // the ranges that can touch a level-served bucket, resolved once
        val invRanges = invalid.flatMap { df =>
          val inv = df.select(streamCols.map(c => col(c).as(s"__inv_$c"))
            :+ col("r_start") :+ col("r_end"): _*)
          val kept = inv.filter(col("r_start") < hiAligned && col("r_end") > loAligned)
            .collect()
          if (kept.isEmpty) None
          else Some(spark.createDataFrame(java.util.Arrays.asList(kept: _*), inv.schema))
        }
        def keyEq = streamCols.map(c => col(c) === col(s"__inv_$c")).reduce(_ && _)
        def overlaps(bucket: Column) =
          bucket < col("r_end") && bucket + width > col("r_start")

        val fromLevel = merge(
            level(l).filter(col("w_start") >= loAligned && col("w_start") < hiAligned),
            streamCols, pw)
        val trusted = invRanges.fold(fromLevel)(inv =>
            fromLevel.join(broadcast(inv), keyEq && overlaps(col("w_start")), "left_anti"))
          .select((streamCols :+ "w_start").map(col) ++ TimeSeriesOps.statRow: _*)
        // dirty interior buckets: recomputed over ALL their visible raw
        // points (a bucket is stale as a whole, not just inside the range)
        val dirty = invRanges.toSeq.map { inv =>
          val pts = raw.filter(col("t_us") >= loAligned && col("t_us") < hiAligned)
            .withColumn("__b", TimeSeriesOps.nodeStart(col("t_us"), pw))
          TimeSeriesOps.alignedWindows(
            pts.join(broadcast(inv), keyEq && overlaps(col("__b")), "left_semi").drop("__b"),
            streamCols, loAligned, hiAligned, pw)
        }
        (Seq((start, loAligned), (hiAligned, end))
          .filter { case (s, e) => s < e }
          .map { case (s, e) => TimeSeriesOps.alignedWindows(raw, streamCols, s, e, pw) }
          ++ dirty)
          .foldLeft(trusted)(_ unionByName _)
      }
    }
  }
}

object Rollup {
  def apply(spark: SparkSession, base: String, pointwidths: Seq[Int]): Rollup =
    new Rollup(spark, base, pointwidths)

  /** Store tombstones as invalidation ranges for alignedWindows (stream
    * key = uuid). Callers serving a rollup built at version V should pass
    * `store.tombstones.filter(col("ver") > V)` — older tombstones were
    * already absorbed by that build.
    */
  def tombstoneRanges(tombstones: DataFrame): DataFrame =
    tombstones.select(col("uuid"),
      col("t_start").as("r_start"), col("t_end").as("r_end"))
}
