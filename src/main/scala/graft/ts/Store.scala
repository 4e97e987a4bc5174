package graft.ts

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** MVCC versioned point store — the Spark-native re-expression of BTrDB's
  * copy-on-write tree versioning (internal/bstore blocktypes.go: every
  * commit creates a new root with a new version; old versions stay
  * readable) and its write path (Insert/Delete/Flush/Obliterate RPCs,
  * btrdb.proto:16-21,196-208).
  *
  * Layout (append-only, no file is ever rewritten except by compact()):
  *   base/points/ub=N/tb=M/   (uuid, time, value, ver)
  *   base/tombstones/         (uuid, t_start, t_end, ver)
  *
  * Partitioning: `ub` = xxhash64(uuid) mod 64 (uuid bucket — bounded
  * directory fan-out at millions of streams, unlike partitioning on the
  * raw uuid) and `tb` = time >> 42 (≈51-day time buckets in µs). Every
  * per-stream read derives both partition predicates itself (the bucket
  * of a literal uuid is computable on the driver; a [start, end) range
  * maps to a [tb_lo, tb_hi] interval), so stream- AND time-scoped queries
  * prune partitions before any file is opened — at 100 TB a one-stream
  * one-day query touches 1/64th of one time bucket.
  *
  * Versioning is per-stream (BTrDB's versionMajor): each insert or delete
  * batch takes the stream's next version. Visibility of point p at
  * version V:  p.ver <= V  AND no tombstone t with  p.ver < t.ver <= V
  * covering p.time — i.e. a range delete hides only points inserted before
  * it, so insert-after-delete behaves exactly like the reference.
  *
  * The version rule: every write claims its (stream, version) in the
  * stream's claim log, `base/_log/<uuid>/<ver>` (graft.ts.ClaimLog), by
  * put-if-absent BEFORE its data job starts, so two writers never share a
  * version: a losing `insert`/`deleteRange` retries at the next one, and a
  * batch write at pre-assigned versions fails. The claim is marked
  * pending; once the data job commits, the record is rewritten committed.
  * A stream's version is its highest COMMITTED claim, so a read pinned at
  * `version`, or a rollup built with it as its watermark, never misses a
  * write at or below it: within one JVM a store's writes claim, commit and
  * mark one at a time (its claims and commits happen in the same order),
  * and so a pending claim is the write in flight or one that died. A
  * write whose job fails releases its claim; a write that dies before its
  * mark leaves a pending claim, which `version` skips and the next write
  * numbers above — a version gap, never a duplicate. It shows no point,
  * or, when its job had committed, points that a read pinned at `version`
  * sees once a later write commits. Each record carries the write's kind (insert,
  * delete or floor) and its time hull [lo, hi) (an insert's from a
  * `Dataset.observe` on its own write job, written with the commit mark;
  * a pending or torn hull reads as the whole time range). So `version`,
  * `versionsFor` and `nextWrites`' version half start no Spark job;
  * `hullsSince` answers "which ranges may have changed after version V"
  * for rollup invalidation without scanning points; and a single-stream
  * read skips the tombstone anti-join when no record can hide a point at
  * its version. `changes`, `exportChanges` and every fleet-wide read still
  * read the data. compact() folds each stream's records into one. A base
  * written before the log existed is seeded once from a max(ver) scan of
  * its points ∪ tombstones: one whole-range `floor` record per stream,
  * which stands for every write up to it, so reads at every version keep
  * the tombstone join until a compaction.
  *
  * Scale: appends are blind writes (no read-modify-write); reads prune on
  * the (ub, tb) partition columns and push uuid/time/ver filters to
  * parquet row groups. The tombstone side of the visibility anti-join is
  * tiny (one row per delete call) and broadcasts. compact() physically
  * drops dead rows and rewrites partitions — BTrDB's tree GC, done as a
  * deterministic batch job instead of reference counting.
  *
  * Declared schemas: the store writes exactly the columns of
  * Store.PointsSchema, Store.TombstonesSchema and Store.BufferSchema and
  * reads them back with those constants, never by parquet footer
  * inference (which would cost a Spark job on every read). A new stored
  * column therefore means changing the constant; an empty store reads
  * with the same schema.
  *
  * `maxBatchStreams` bounds the ONLY driver-resident state the store
  * keeps: the per-batch uuid→version map (nextVersions / versionsFor).
  * That map is metadata-scale — one entry per distinct stream IN THE
  * BATCH, never per point and never per stream in the store — which is
  * how the reference sizes its etcd version state too. The bound makes
  * the contract explicit for million-stream fleets: a batch touching
  * more distinct uuids than this fails loudly (split the batch; the
  * write path itself is unbounded), instead of quietly growing the
  * driver heap. The default (2^20 entries ≈ tens of MB) is far above
  * any sane micro-batch and far below driver OOM territory.
  */
class Store(val spark: SparkSession, val base: String,
            val maxBatchStreams: Int = Store.DefaultMaxBatchStreams) {
  private val pointsDir = s"$base/points"
  private val tombsDir  = s"$base/tombstones"

  import spark.implicits._
  import Store.{Record, TimeBucketShift, UuidBuckets, record}

  // All filesystem control operations (existence probes, the compact swap
  // renames) go through the Hadoop FileSystem API, like MetaStore — on
  // HDFS/S3A a java.io.File probe would silently report an empty store and
  // crashed-swap recovery would never trigger.
  private val hfs = new org.apache.hadoop.fs.Path(base)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def hpath(dir: String) = new org.apache.hadoop.fs.Path(dir)

  private def hasData(dir: String): Boolean = hfs.exists(hpath(dir))

  private val claims = new ClaimLog(s"$base/_log", spark.sparkContext.hadoopConfiguration)

  /** The claim log (see the class doc), seeded once with a floor record
    * per stream when the base holds data written before the log.
    */
  private def log: ClaimLog =
    claims.open(Seq("points", "tombstones", "points_old", "points_compacted", "tombstones_old")
        .exists(d => hasData(s"$base/$d")),
      maxVersions(rawPoints, tombstones).map { case (u, v) =>
        (u, v, record("floor", Long.MinValue, Long.MaxValue)) })

  /** A stream's records, oldest first. */
  private def records(uuid: String): Seq[Record] =
    log.records(uuid).map { case (v, b) => Record.parse(v, b) }

  /** Partition columns for a (uuid, time, value, ver) batch, clustered
    * for the write: without the repartition, a dynamic-partition write
    * has EVERY task write EVERY (ub, tb) dir it sees — tasks × dirs tiny
    * files (the classic ingest small-file explosion; measured 10× on the
    * 500k-point bench probe). Shuffling on the partition columns first
    * means each dir is written by exactly one task, and the within-task
    * (uuid, time) sort gives parquet row groups that min/max-prune on
    * both stream and time at read time.
    */
  private def withLayout(df: DataFrame): DataFrame =
    df.withColumn("ub", pmod(xxhash64($"uuid"), lit(UuidBuckets)))
      .withColumn("tb", shiftright($"time", TimeBucketShift))
      .repartition($"ub", $"tb")
      .sortWithinPartitions($"ub", $"tb", $"uuid", $"time")

  /** The written value, checked against graft.Quant's domain inside the
    * write projection: a value outside it fails the one all-or-nothing job.
    */
  private def checkedValue = graft.Quant.checkDomain(col("value").cast("double")).as("value")

  /** Driver-side uuid bucket — same value as the Spark xxhash64 column
    * expression (XXH64 over the UTF-8 bytes, seed 42), so literal-uuid
    * reads can prune the ub partition without touching data.
    */
  private def ubOf(uuid: String): Long = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(uuid)
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
    ((h % UuidBuckets) + UuidBuckets) % UuidBuckets
  }

  /** Stream-scoped raw read with ub partition pruning. */
  private def streamPoints(uuid: String): DataFrame =
    rawPoints.filter($"ub" === ubOf(uuid) && $"uuid" === uuid)

  /** All raw point rows (no visibility applied). A missing live dir first
    * attempts crashed-swap recovery, so a compact() that died mid-rename
    * never reads as an empty store.
    */
  def rawPoints: DataFrame = {
    if (!hasData(pointsDir)) recoverCrashedSwap()
    read(pointsDir, Store.PointsSchema)
  }

  def tombstones: DataFrame = {
    if (!hasData(tombsDir) && hasData(s"$base/tombstones_old"))
      recoverCrashedSwap()
    read(tombsDir, Store.TombstonesSchema)
  }

  /** A store table read with its declared schema (see the class doc);
    * an empty local frame of the same schema when the dir is absent.
    */
  private def read(dir: String, schema: StructType): DataFrame =
    if (hasData(dir)) spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** The stream's version: its highest committed claim (0 for a stream
    * never written). A claim still pending is a write in flight or one
    * that died, so a read pinned here stays the same read.
    */
  def version(uuid: String): Long = log.latest(uuid, Record.parse(0L, _).committed)

  /** Runs one write of the store: its claims, data job and commit marks.
    * Writes of one store run one at a time in this JVM, so their claims
    * commit in claim order and a pending claim below a committed one can
    * only be a write that died.
    */
  private def serially[T](write: => T): T = ClaimLog.appending(base)(write)

  /** Claims the stream's next version for a pending write of `body`; a
    * claim lost to a writer in another process retries at the version
    * after it.
    */
  private def claimNext(uuid: String, body: String): Long = {
    val l = log
    Iterator.iterate(l.latest(uuid) + 1)(_ + 1).find(l.claim(uuid, _, body)).get
  }

  /** Runs a write's data job under its claims: a failed job releases them. */
  private def committing[T](held: => Seq[(String, Long)])(write: => T): T =
    try write
    catch { case e: Throwable => held.foreach { case (u, v) => log.release(u, v) }; throw e }

  /** Insert a batch of (time, value) rows; returns the new stream version.
    * Mirrors InsertParams→InsertResponse(versionMajor) semantics. An empty
    * batch still takes its version.
    */
  def insert(uuid: String, points: DataFrame): Long = serially {
    val v = claimNext(uuid, record("insert", Long.MinValue, Long.MaxValue, committed = false))
    val hull = org.apache.spark.sql.Observation()
    committing(Seq(uuid -> v)) {
      withLayout(points.select(lit(uuid).as("uuid"), col("time").cast("long").as("time"),
          checkedValue, lit(v).as("ver"))
          .observe(hull, min($"time").as("lo"), max($"time").as("hi")))
        .write.mode(SaveMode.Append).partitionBy("ub", "tb").parquet(pointsDir)
    }
    val (lo, hi) = observedHull(hull)
    log.rewrite(uuid, v, record("insert", lo, hi))
    v
  }

  /** The [lo, hi) time hull an insert's write job observed ((0, 0) for an
    * empty insert); the whole time range when the metrics did not arrive.
    */
  private def observedHull(hull: org.apache.spark.sql.Observation): (Long, Long) =
    try {
      val r = scala.concurrent.Await.result(hull.future, scala.concurrent.duration.Duration(30, "s"))
      if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), Store.hullEnd(r.getLong(1)))
    } catch { case _: java.util.concurrent.TimeoutException => (Long.MinValue, Long.MaxValue) }

  /** Insert a multi-stream batch of (uuid, time, value) rows in ONE parquet
    * job: each distinct uuid in the batch gets its own version bump (same
    * per-stream versionMajor semantics as insert()), computed as a join
    * instead of a driver-side loop — O(1) Spark jobs per batch instead of
    * O(#streams), which is what the streaming ingest path needs at scale.
    * The single job also gives all-or-nothing commit semantics (Spark's
    * file-commit protocol), making replays of a failed batch safe.
    */
  def insertBatch(batch: DataFrame): Unit = insertBatchAt(batch, nextWrites(batch))

  /** The per-uuid writes the next batch write will make: the batch's
    * distinct uuids (driver-collected with each one's time hull in the
    * batch, metadata-scale, bounded by maxBatchStreams), each at the
    * version after its highest claim. Exposed so an idempotent writer can
    * persist the intent BEFORE the write and later decide whether a
    * crashed attempt committed (the write is one all-or-nothing job:
    * either every uuid reached its intended version or none did).
    */
  def nextWrites(batch: DataFrame): Seq[Store.Write] = {
    val hulls = bounded(batch.groupBy("uuid")
      .agg(min(col("time").cast("long")), max(col("time").cast("long")))
      .limit(maxBatchStreams + 1).as[(String, Long, Long)].collect().toSeq)
    val l = log
    hulls.map { case (u, lo, hi) => Store.Write(u, l.latest(u) + 1, lo, Store.hullEnd(hi)) }
  }

  /** The maxBatchStreams guard: the limit(max+1) on the collect above
    * bounds driver memory unconditionally; one extra row proves overflow
    * without ever materializing the full fleet.
    */
  private def bounded[T](rows: Seq[T]): Seq[T] = {
    require(rows.size <= maxBatchStreams,
      s"batch touches more than $maxBatchStreams distinct streams: the " +
        "per-batch uuid->version map is driver-resident by contract - " +
        "split the batch (or raise maxBatchStreams)")
    rows
  }

  /** Current (committed, see `version`) version per uuid for a BOUNDED
    * uuid set, from the claim log (no Spark job). A uuid never written is absent from the map
    * (version 0).
    */
  def versionsFor(uuids: Seq[String]): Map[String, Long] =
    // the class contract bounds DISTINCT streams per batch — a duplicate-
    // heavy caller list must not trip the guard early
    bounded(uuids.distinct).map(u => u -> version(u)).filter(_._2 > 0).toMap

  /** The versions the DATA holds per uuid (bounded set): max(ver) over the
    * streams' points ∪ tombstones, a scan restricted to their ub buckets.
    * A claim alone is not a landing, so a replaying writer asks this, not
    * versionsFor, whether its batch committed (graft.streaming.Ingest).
    */
  private[graft] def landedVersions(uuids: Seq[String]): Map[String, Long] = {
    val ids = bounded(uuids.distinct)
    if (ids.isEmpty) Map.empty
    else maxVersions(
      rawPoints.filter($"ub".isin(ids.map(ubOf).distinct: _*)).filter($"uuid".isin(ids: _*)),
      tombstones.filter($"uuid".isin(ids: _*)))
  }

  /** Marks committed the claims of a batch write whose data landed
    * (landedVersions): a writer that died between its job's commit and its
    * marks left them pending, so `version` did not count them yet.
    */
  private[graft] def markLanded(vers: Seq[(String, Long)]): Unit = serially {
    val l = log
    vers.foreach { case (u, v) =>
      records(u).find(r => r.ver == v && !r.committed).foreach(r =>
        l.rewrite(u, v, record(if (r.kind == "?") "insert" else r.kind, r.lo, r.hi)))
    }
  }

  /** max(ver) per uuid over the (uuid, ver) of some points and tombstones. */
  private def maxVersions(points: DataFrame, tombs: DataFrame): Map[String, Long] =
    points.select($"uuid", $"ver").unionByName(tombs.select($"uuid", $"ver"))
      .groupBy("uuid").agg(max($"ver").as("ver"))
      .as[(String, Long)].collect().toMap

  /** Write a batch as the planned per-uuid `writes` (from nextWrites) in
    * ONE parquet job — all-or-nothing file commit. Every (uuid, ver) is
    * claimed first, with its write's hull. A version already claimed by
    * another writer fails the call before any data is written, releasing
    * the claims it took.
    */
  def insertBatchAt(batch: DataFrame, writes: Seq[Store.Write]): Unit = serially {
    val l = log
    val held = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    committing(held.toSeq) {
      writes.foreach { w =>
        if (!l.claim(w.uuid, w.ver, record("insert", w.lo, w.hi, committed = false)))
          throw new java.util.ConcurrentModificationException(
            s"version ${w.ver} of stream ${w.uuid} is already claimed by another writer")
        held += w.uuid -> w.ver
      }
      withLayout(batch.select($"uuid", col("time").cast("long").as("time"), checkedValue)
        .join(broadcast(writes.map(w => w.uuid -> w.ver).toDF("uuid", "ver")), Seq("uuid"))
        .select($"uuid", $"time", $"value", $"ver"))
        .write.mode(SaveMode.Append).partitionBy("ub", "tb").parquet(pointsDir)
    }
    writes.foreach(w => l.rewrite(w.uuid, w.ver, record("insert", w.lo, w.hi)))
  }

  /** Range delete [start, end) — a tombstone, not a rewrite. */
  def deleteRange(uuid: String, start: Long, end: Long): Long = serially {
    val v = claimNext(uuid, record("delete", start, end, committed = false))
    committing(Seq(uuid -> v)) {
      Seq((uuid, start, end, v)).toDF("uuid", "t_start", "t_end", "ver")
        .write.mode(SaveMode.Append).parquet(tombsDir)
    }
    log.rewrite(uuid, v, record("delete", start, end))
    v
  }

  /** Obliterate: the stream disappears entirely (full-range tombstone;
    * physical removal happens at compact()).
    */
  def obliterate(uuid: String): Long = {
    // unflushed rows must not outlive the stream: a later flush would
    // commit them ABOVE the obliterate tombstone and resurrect it
    rm(hpath(s"$base/buffer/uuid=$uuid"))
    deleteRange(uuid, Long.MinValue, Long.MaxValue)
  }

  // ---- unflushed-write buffer (the reference's PQM, opt-in) ----
  private val bufferDir = s"$base/buffer"

  /** Buffered insert — the reference's primary-queue write path
    * (internal/pqm): rows land in a per-stream staging area WITHOUT a
    * version bump and are visible to the *Merged read forms immediately,
    * the read-your-unflushed-writes semantic of
    * `pqm.MergeQueryValuesStream` (quasar.go:241–267). `flush` promotes
    * the buffer into one committed versioned batch (the reference's
    * journal→tree commit). Durability-first callers keep using insert()
    * (every batch a committed append); this path exists for the
    * reference's latency shape — points queryable before the commit.
    * Scale contract: the buffer holds only the unflushed tail (ingest
    * rate × flush interval), never corpus-scale data, so the merged
    * read's union arm stays small by construction.
    */
  def insertBuffered(uuid: String, points: DataFrame): Unit =
    points.select(lit(uuid).as("uuid"), col("time").cast("long").as("time"), checkedValue)
      .repartition(1)
      .write.mode(SaveMode.Append).partitionBy("uuid").parquet(bufferDir)

  /** Unflushed rows across all streams, read with Store.BufferSchema
    * (empty frame when none; the declared schema also keeps a drained
    * buffer dir — every partition flushed or obliterated — readable as
    * empty instead of failing parquet inference).
    */
  def bufferedPoints: DataFrame =
    read(bufferDir, Store.BufferSchema).select($"uuid", $"time", $"value")

  /** (versionMajor, versionMinor) — the reference's two-part version:
    * committed version plus an unflushed component. The reference's
    * minor counts journal INSERTS since the last flush (quasar.go's
    * PQM path, internal/jprovider) — and each insertBuffered call
    * commits exactly one staged file into the stream's buffer
    * partition (repartition(1) + one append job), so the file count IS
    * the buffered-insert-call count: same unit as the reference, read
    * from directory metadata without scanning a row.
    */
  def versionMerged(uuid: String): (Long, Long) = {
    val p = hpath(s"$bufferDir/uuid=$uuid")
    val minor =
      if (!hfs.exists(p)) 0L
      else hfs.listStatus(p).count(s =>
        s.isFile && s.getPath.getName.startsWith("part-")).toLong
    (version(uuid), minor)
  }

  /** rawValues with the write buffer merged in — read-your-unflushed-
    * writes. Historical reads (`rawValues` with asOf) see only committed
    * data, exactly like the reference's versioned queries, which pin a
    * major version and bypass the buffer.
    */
  def rawValuesMerged(uuid: String, start: Long, end: Long): DataFrame =
    rawValues(uuid, start, end, None)
      .unionByName(bufferedPoints
        .filter($"uuid" === uuid && $"time" >= start && $"time" < end)
        .select($"time", $"value"))

  /** Promote the stream's buffered rows to ONE committed versioned batch
    * and clear them; with an empty buffer this is the version probe it
    * always was. At-least-once across crashes: if the process dies
    * between the committed append and the buffer clear, the next flush
    * re-commits the same rows at a new version (the same replay window
    * the reference's journal recovery has, internal/jprovider).
    */
  def flush(uuid: String): Long = {
    val buf = bufferedPoints.filter($"uuid" === uuid).select($"time", $"value")
    if (buf.isEmpty) version(uuid)
    else {
      val v = insert(uuid, buf)
      rm(hpath(s"$bufferDir/uuid=$uuid"))
      v
    }
  }

  /** Visible points at `asOf` (None = latest). The tombstone join stays a
    * broadcast: deletes are rare events, points are the 100 TB side.
    */
  def pointsAt(asOf: Option[Long] = None): DataFrame = {
    val pts = asOf.fold(rawPoints)(v => rawPoints.filter($"ver" <= v))
    val tbs = asOf.fold(tombstones)(v => tombstones.filter($"ver" <= v))
    pts.join(broadcast(tbs),
        pts("uuid") === tbs("uuid") &&
          pts("time") >= tbs("t_start") && pts("time") < tbs("t_end") &&
          pts("ver") < tbs("ver"),
        "left_anti")
  }

  /** Consistent point-in-time export: the visible (uuid, time, value)
    * rows at `asOf`, written as plain parquet clustered by the store's
    * own (ub, tb) layout — the backup / downstream-handoff path. The
    * export is a snapshot BY VALUE (tombstones applied, versions
    * resolved), so the consumer needs no knowledge of the MVCC log; time
    * travel of the export itself is pinned by `asOf`. One all-or-nothing
    * partitioned job, same small-file stance as insertBatch.
    */
  def snapshot(outDir: String, asOf: Option[Long] = None): Unit =
    withLayout(pointsAt(asOf).select($"uuid", $"time", $"value", lit(0L).as("ver")))
      .select($"uuid", $"time", $"value", $"ub", $"tb")
      .write.mode(SaveMode.Overwrite).partitionBy("ub", "tb").parquet(outDir)

  /** Visible points at `asOf` for a read of one stream: pointsAt, less
    * the tombstone anti-join (and its broadcast job) when no record of the
    * stream can hide a point at `asOf` (Record.mayHide) — then no
    * tombstone can hide one of its points.
    */
  private def visibleFor(uuid: String, asOf: Option[Long]): DataFrame =
    if (records(uuid).exists(_.mayHide(asOf))) pointsAt(asOf)
    else asOf.fold(rawPoints)(v => rawPoints.filter($"ver" <= v))

  /** One stream's visible points at `asOf`, with ub partition pruning —
    * the canonical per-stream read the query facade builds on.
    */
  def streamAt(uuid: String, asOf: Option[Long] = None): DataFrame =
    visibleFor(uuid, asOf).filter($"ub" === ubOf(uuid) && $"uuid" === uuid)

  /** RawValues over the store at a version — start inclusive, end
    * exclusive. Derives both partition predicates (ub from the literal
    * uuid, [tb_lo, tb_hi] from the time range) so the scan opens only the
    * stream's bucket within the touched time buckets.
    */
  def rawValues(uuid: String, start: Long, end: Long, asOf: Option[Long] = None): DataFrame = {
    if (end <= start) return pointsAt(asOf).filter(lit(false)).select($"time", $"value")
    visibleFor(uuid, asOf)
      .filter($"ub" === ubOf(uuid) &&
        $"tb" >= (start >> TimeBucketShift) && $"tb" <= ((end - 1) >> TimeBucketShift))
      .filter($"uuid" === uuid && $"time" >= start && $"time" < end)
      .select($"time", $"value")
  }

  /** Bulk stream copy — the reference's admin copy tool (btrdb/copy.go:
    * 32-113): the source's visible points over [start, end) at `asOf` are
    * inserted into `dstUuid` of `dst` (same store or another; the dest
    * uuid may equal the source's, copy.go's `dstuuid = "same"`),
    * optionally deleting the destination range first (copy.go:95-100).
    * One pruned scan feeding one versioned insert — the distributed
    * counterpart of copy.go's point channel, no driver loop — and MVCC
    * falls out: the copy commits as a single new version at the
    * destination, and `asOf` pins the source snapshot. Returns the
    * destination stream's new version.
    */
  def copyRange(srcUuid: String, dst: Store, dstUuid: String,
                start: Long, end: Long,
                deleteFirst: Boolean = false,
                asOf: Option[Long] = None): Long = {
    // Pin the source snapshot BEFORE any destination delete: the source
    // read is a lazy plan that only evaluates inside dst.insert, so in
    // the same-store/same-uuid mode (copy.go's dstuuid = "same") an
    // unpinned read after deleteFirst would see the fresh tombstone and
    // silently copy nothing. Resolving "latest" to the source's current
    // version now makes the read immune to anything the copy itself
    // commits (and is a no-op otherwise: ver <= current covers all).
    val pinned = asOf.orElse(Some(version(srcUuid)))
    if (deleteFirst) dst.deleteRange(dstUuid, start, end)
    dst.insert(dstUuid, rawValues(srcUuid, start, end, pinned))
  }

  /** The [lo, hi) time hulls of the stream's writes claimed above
    * `fromVer`, read from the claim log: every range a reader of version
    * `fromVer` (a committed version, see `version`) has not seen. A claim
    * whose hull is unknown (pending or torn) yields the whole time range.
    */
  def hullsSince(uuid: String, fromVer: Long): Seq[(Long, Long)] =
    records(uuid).filter(r => r.ver > fromVer && r.lo < r.hi).map(r => (r.lo, r.hi))

  /** Changed time ranges between two versions (FindChangedSince): inserted
    * points and deleted ranges with fromVer < ver <= toVer, aligned to the
    * 2^res grid and gap-merged per stream.
    */
  def changes(uuid: String, fromVer: Long, toVer: Long, res: Int): DataFrame =
    TimeSeriesOps.changedRanges(streamPoints(uuid), "time",
      Some(tombstones.filter($"uuid" === uuid)), Seq("uuid"), fromVer, toVer, res).drop("uuid")

  /** Incremental export between two versions — the O(changed data)
    * complement of snapshot(): writes the per-stream time ranges touched
    * by inserts/deletes with vFrom < ver <= vTo (aligned to the 2^res
    * grid, gap-merged — the Changes() semantics, all streams at once) as
    * a manifest at `outDir/ranges`, and the rows VISIBLE at vTo inside
    * those ranges at `outDir/points`. A consumer holding a vFrom
    * snapshot applies it by deleting its copy of every manifest range
    * and inserting the exported rows — a pure delete arrives as a
    * manifest range with no rows. The manifest is metadata-scale
    * (changed ranges), so the row-selection join broadcasts; nothing
    * scans more than the changed versions plus the visible rows they
    * touch.
    */
  def exportChanges(outDir: String, vFrom: Long, vTo: Long, res: Int): Unit = {
    val ranges = TimeSeriesOps.changedRanges(rawPoints, "time", Some(tombstones), Seq("uuid"),
        vFrom, vTo, res)
      .localCheckpoint() // consumed twice (manifest write + semi join)
    ranges.write.mode(SaveMode.Overwrite).parquet(s"$outDir/ranges")
    val pts = pointsAt(Some(vTo))
    val rg = broadcast(ranges
      .select($"uuid".as("r_uuid"), $"c_start", $"c_end"))
    withLayout(pts
        .join(rg, pts("uuid") === rg("r_uuid") &&
          pts("time") >= rg("c_start") && pts("time") < rg("c_end"), "left_semi")
        .select($"uuid", $"time", $"value", lit(0L).as("ver")))
      .select($"uuid", $"time", $"value", $"ub", $"tb")
      .write.mode(SaveMode.Overwrite).partitionBy("ub", "tb").parquet(s"$outDir/points")
  }

  private def rm(p: org.apache.hadoop.fs.Path): Unit =
    if (hfs.exists(p)) { hfs.delete(p, true); () }

  /** Restore a crashed swap before doing anything else: if the live dir is
    * missing, the previous compact died between its two renames — the data
    * survives in `*_old` (pre-compact, preferred: tombstones unpruned ⇒
    * consistent) or `*_compacted`. Without this, the leftover cleanup below
    * would delete the only surviving copy.
    */
  private def recoverCrashedSwap(): Unit = {
    def restore(dst: org.apache.hadoop.fs.Path,
                candidates: Seq[org.apache.hadoop.fs.Path]): Unit =
      if (!hfs.exists(dst)) candidates.find(hfs.exists).foreach { c =>
        if (!hfs.rename(c, dst)) sys.error(s"compact: could not restore $c to $dst")
      }
    restore(hpath(pointsDir),
      Seq(hpath(s"$base/points_old"), hpath(s"$base/points_compacted")))
    // tombstones may legitimately be absent (all pruned); restoring a stale
    // *_old set is still correct — those tombstones hide nothing after a
    // completed points swap, they are merely unpruned
    restore(hpath(tombsDir), Seq(hpath(s"$base/tombstones_old")))
  }

  /** Physically drop rows invisible at the latest version and rewrite —
    * the GC/defragmentation pass (run per uuid partition, so at scale each
    * stream compacts independently).
    *
    * Crash safety: the new dataset is written to the side, the old dir is
    * renamed aside (not deleted), the new one renamed in, and only then is
    * the old data removed — a failure at any step leaves either the old or
    * the new complete dataset on disk, never neither. Every rename result
    * is checked; a failed swap restores the old dir and aborts loudly.
    *
    * Tombstone pruning: a point that survives compaction is, by the
    * visibility predicate, covered by NO tombstone (at any asOf) — so once
    * the dead rows are physically gone, a tombstone hides nothing and would
    * only re-join against every future read forever. The one thing a
    * tombstone still carries is the stream's version floor: if a stream's
    * latest operation was a delete, its tombstone holds the max ver, and
    * dropping it would make the next insert REUSE a version number. So
    * pruning keeps exactly the tombstones with ver above the stream's max
    * surviving point ver (hide nothing, preserve version monotonicity) and
    * drops the rest.
    *
    * Last, each stream's claim records fold into one committed insert
    * record at its highest version, with the union of their hulls — so a
    * log listing stays bounded by the writes since the last compaction.
    * Versions are unchanged (a pending claim that died folds in: its data,
    * if its job committed, is among the compacted points), and a rollup
    * built at any earlier version still sees every range changed since (a
    * superset of it). The fold is an insert even over deletes and floors:
    * once the dead rows are gone no tombstone hides a surviving point at
    * any version, so reads skip the tombstone join until the next delete.
    *
    * compact() runs as one write of the store: this JVM's writers wait
    * for it, and writers in other processes must not run during it.
    */
  def compact(): Unit = serially {
    recoverCrashedSwap()
    val live = pointsAt(None).cache()
    live.count() // materialize fully before touching the live dir
    val keepTombs = tombstones
      .join(live.groupBy("uuid").agg(max($"ver").as("pv")), Seq("uuid"), "left")
      .filter($"pv".isNull || $"ver" > $"pv")
      .select($"uuid", $"t_start", $"t_end", $"ver")
      .cache()
    val nKeep = keepTombs.count()

    def swapIn(tmp: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path,
               old: org.apache.hadoop.fs.Path): Unit = {
      if (hfs.exists(dst) && !hfs.rename(dst, old))
        sys.error(s"compact: could not move $dst aside; store unchanged")
      if (hfs.exists(tmp) && !hfs.rename(tmp, dst)) {
        hfs.rename(old, dst) // restore
        sys.error(s"compact: could not swap in $tmp; original data restored")
      }
      rm(old)
    }

    val pTmp = hpath(s"$base/points_compacted")
    val pOld = hpath(s"$base/points_old")
    val tTmp = hpath(s"$base/tombstones_compacted")
    val tOld = hpath(s"$base/tombstones_old")
    Seq(pTmp, pOld, tTmp, tOld).foreach(rm) // leftovers of a crashed compact
    live.write.mode(SaveMode.Overwrite).partitionBy("ub", "tb").parquet(pTmp.toString)
    if (nKeep > 0)
      keepTombs.write.mode(SaveMode.Overwrite).parquet(tTmp.toString)
    live.unpersist(); keepTombs.unpersist()
    swapIn(pTmp, hpath(pointsDir), pOld)
    swapIn(tTmp, hpath(tombsDir), tOld) // tTmp absent ⇒ old dropped
    val l = log
    l.keys.foreach { u =>
      val rs = records(u)
      if (rs.size > 1 || rs.exists(r => r.kind != "insert" || !r.committed)) {
        val hulls = rs.filter(r => r.lo < r.hi)
        l.rewrite(u, rs.last.ver, record("insert",
          if (hulls.isEmpty) 0L else hulls.map(_.lo).min,
          if (hulls.isEmpty) 0L else hulls.map(_.hi).max))
        rs.init.foreach(r => l.release(u, r.ver))
      }
    }
  }
}

object Store {
  /** Directory fan-out bound: ub = xxhash64(uuid) mod UuidBuckets. */
  val UuidBuckets = 64
  /** tb = time >> TimeBucketShift: ≈51-day buckets at µs resolution. */
  val TimeBucketShift = 42
  /** Default bound on the per-batch driver-side uuid→version map — see
    * the maxBatchStreams doc on the class.
    */
  val DefaultMaxBatchStreams: Int = 1 << 20

  /** The stored point columns; `ub`/`tb` are the partition columns. */
  val PointsSchema: StructType = StructType.fromDDL(
    "uuid STRING, time BIGINT, value DOUBLE, ver BIGINT, ub INT, tb INT")
  /** The stored range-tombstone columns. */
  val TombstonesSchema: StructType = StructType.fromDDL(
    "uuid STRING, t_start BIGINT, t_end BIGINT, ver BIGINT")
  /** The unflushed-write buffer columns; `uuid` is the partition column. */
  val BufferSchema: StructType = StructType.fromDDL(
    "time BIGINT, value DOUBLE, uuid STRING")

  /** A planned batch write of one stream: its version and time hull [lo, hi). */
  final case class Write(uuid: String, ver: Long, lo: Long, hi: Long)

  /** The exclusive end of a hull whose last time is `t`. */
  private[ts] def hullEnd(t: Long): Long = if (t == Long.MaxValue) t else t + 1

  /** A claim-log record body: `<kind> <lo> <hi>`, kind insert, delete or
    * floor, followed by ` pending` until the write's data job commits.
    */
  private[ts] def record(kind: String, lo: Long, hi: Long, committed: Boolean = true): String =
    s"$kind $lo $hi" + (if (committed) "" else " pending")

  /** A parsed claim-log record. lo >= hi is an empty hull. */
  private[ts] final case class Record(ver: Long, kind: String, lo: Long, hi: Long,
                                      committed: Boolean) {
    /** Whether a tombstone may hide a point of the stream in a read at
      * `asOf`: a floor stands for every write up to its version, so at
      * every `asOf`; a delete, or a record of unknown kind, at or below it.
      */
    def mayHide(asOf: Option[Long]): Boolean =
      kind == "floor" || (kind != "insert" && asOf.forall(ver <= _))
  }

  private[ts] object Record {
    /** A body that is not a whole record (torn, or a bare claim) is
      * pending, with the whole time range as its hull and, unless it
      * starts with a known kind, an unknown kind.
      */
    def parse(ver: Long, body: String): Record = {
      val f = body.trim.split(' ')
      val kind = if (Set("insert", "delete", "floor")(f(0))) f(0) else "?"
      val committed = f.length == 3
      (f.lift(1).flatMap(_.toLongOption), f.lift(2).flatMap(_.toLongOption)) match {
        case (Some(lo), Some(hi)) if kind != "?" && (committed || f.length == 4 && f(3) == "pending") =>
          Record(ver, kind, lo, hi, committed)
        case _ => Record(ver, kind, Long.MinValue, Long.MaxValue, committed = false)
      }
    }
  }

  def apply(spark: SparkSession, base: String): Store = new Store(spark, base)

  def apply(spark: SparkSession, base: String, maxBatchStreams: Int): Store =
    new Store(spark, base, maxBatchStreams)
}
