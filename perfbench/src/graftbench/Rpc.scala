package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.GraftDB
import graft.ts.Rollup

/** tsdb_rpc: a BTrDB client's request mix against a seeded fleet, one
  * client in a closed loop. Set-up loads the fleet with one
  * Store.insertBatch, builds a Rollup at pointwidths 20/26/32 and creates
  * every stream's descriptor in the MetaStore.
  *
  * Each step is one pass: the fixed op multiset of `Pass` in a
  * seed-shuffled order. Every op of a kind does the same amount of work;
  * the seed picks streams, positions and the order. The first
  * IngestStreams streams grow only through streaming ingest (a landed
  * file, then Ingest.intoStore to completion with rollup maintenance, then
  * a read of the newest points), the others only through GraftDB.insert;
  * deletes hit any stream. Every op's output is checked against the fleet
  * model. The traced run ends with maintenance (Store.compact,
  * Rollup.compactDeltas and a Rollup rebuild) before the end-of-run checks.
  */
final class Rpc(ctx: Ctx) extends Workload(ctx) {
  import Rpc._
  import Fleet.{T0, PeriodUs}

  val fleet = new Fleet(Streams, BasePoints, salt = ctx.args.seed)
  private var db: GraftDB = _
  private var rollup: Rollup = _
  private var dir: String = _
  /** Per stream, the version the rollup was last built at. */
  private val builtAt = Array.fill(Streams)(1L)
  private var filesLanded = 0
  private val rng = ctx.rng
  private def span[T](n: String)(f: => T): T = ctx.tracer.span(n)(f)
  private def storeDir = s"$dir/store"
  private def source = s"$dir/source"
  private def pending = s"$dir/pending"
  private def ingestStreams = 0 until IngestStreams
  private def insertStreams = IngestStreams until Streams

  def setup(d: String): Unit = {
    dir = d
    db = GraftDB(spark, storeDir)
    span("ts.Store.insertBatch")(db.store.insertBatch(fleet.baseFrame(spark)))
    rollup = Rollup(spark, s"$d/rollup", Pointwidths)
    span("ts.Rollup.build")(rollup.build(visible, Seq("uuid")))
    (0 until Streams).foreach { s =>
      span("ts.MetaStore.create")(db.create(fleet.uuid(s), s"fleet/rack${s % 2}",
        Map("sensor" -> s.toString)))
    }
    val found = span("ts.MetaStore.lookup")(db.lookupStreams("fleet/").count())
    ctx.check(found == Streams, s"lookupStreams found $found of $Streams descriptors")
    new java.io.File(source).mkdirs()
  }

  private def visible: DataFrame = db.store.pointsAt(None).withColumnRenamed("time", "t_us")

  def warmup(): Unit = {
    ctx.recording = false
    // one warm-up call leaves the next rollup-served read ~0.5 s slower
    // than the later ones, so that read is warmed three times
    (Pass.distinct ++ Seq("rollup_stat", "rollup_stat")).foreach(op)
    ctx.recording = true
  }

  def step(): Unit = rng.shuffle(Pass).foreach(op)

  /** The op's action: collect the result rows, counted on the enclosing
    * layer span. Every read op runs it inside its layer span, so the
    * layer's time holds both building the plan and executing it.
    */
  private def collect(df: DataFrame): Array[Row] = {
    val rows = span("spark.collect")(df.collect())
    ctx.tracer.rows(rows.length)
    rows
  }

  private def stat(rows: Array[Row]): Map[Long, (Long, Double, Double)] =
    rows.map(r => r.getAs[Long]("w_start") ->
      (r.getAs[Long]("v_count"), r.getAs[Double]("v_min"), r.getAs[Double]("v_max"))).toMap

  /** A 2^pw-aligned range of `windows` windows that ends before `within`. */
  private def alignedRange(pw: Int, windows: Int, within: Long): (Long, Long) = {
    val w = 1L << pw
    val slots = math.max(1L, (within - T0) / w - windows + 1)
    val lo = T0 + rng.nextLong(slots) * w
    (lo, lo + windows * w)
  }

  /** A random range of length len inside stream s's span. */
  private def range(s: Int, len: Long): (Long, Long) = {
    val lo = T0 + rng.nextLong(math.max(1L, fleet.model(s).endTime - T0 - len))
    (lo, lo + len)
  }

  private def op(kind: String): Unit = {
    val s = kind match {
      case "ingest" => 0
      case "insert" => insertStreams(rng.nextInt(insertStreams.size))
      case _ => rng.nextInt(Streams)
    }
    val h = db.stream(fleet.uuid(s))
    val m = fleet.model(s)
    kind match {
      case "raw" =>
        val (lo, hi) = range(s, RawLen)
        rawValues("rpc.raw", s, lo, hi)
      case "nearest" =>
        val t = T0 + rng.nextLong(m.endTime - T0)
        val back = rng.nextBoolean()
        ctx.timed("rpc.nearest")(span("GraftDB.nearest")(collect(h.nearest(t, back)))) { rows =>
          val cand = if (back) fleet.visibleIn(s, Long.MinValue, t).toSeq.lastOption
                     else fleet.visibleIn(s, t, Long.MaxValue).nextOption()
          val want = cand.map(i => (fleet.time(i), fleet.value(s, i)))
          val got = rows.headOption.map(r => (r.getAs[Long]("t_us"), r.getAs[Double]("value")))
          ctx.check(got == want, s"nearest $s t=$t back=$back: $got, want $want")
        }
      case "stat" | "rollup_stat" =>
        val pw = 24
        val (lo, hi) = alignedRange(pw, 4, m.endTime)
        ctx.timed(s"rpc.$kind") {
          if (kind == "stat") span("GraftDB.alignedWindows")(collect(h.alignedWindows(lo, hi, pw)))
          else span("ts.Rollup.alignedWindows")(collect(h.alignedWindows(rollup, lo, hi, pw, builtAt(s))))
        } { rows =>
          val want = fleet.windows(s, lo, hi, pw)
          ctx.check(stat(rows) == want,
            s"alignedWindows($kind) $s [$lo,$hi) pw=$pw: ${rows.length} windows, want ${want.size}")
        }
      case "fleet_stat" =>
        val pw = 26
        val (lo, hi) = alignedRange(pw, 2, T0 + BasePoints * PeriodUs)
        ctx.timed("rpc.fleet_stat") {
          // tombstones newer than the oldest build: a superset of the stale ranges
          span("ts.Rollup.alignedWindows") {
            val inv = Rollup.tombstoneRanges(db.store.tombstones.filter(col("ver") > builtAt.min))
            collect(rollup.alignedWindows(visible, Seq("uuid"), lo, hi, pw, invalid = Some(inv)))
          }
        } { rows =>
          val got = rows.groupBy(_.getAs[String]("uuid")).map { case (u, rs) => u -> stat(rs) }
          val want = (0 until Streams).map(i => fleet.uuid(i) -> fleet.windows(i, lo, hi, pw))
            .filter(_._2.nonEmpty).toMap
          ctx.check(got == want, s"fleet alignedWindows [$lo,$hi): ${rows.length} rows")
        }
      case "windows" =>
        val width = 30000000L
        val (lo, hi) = range(s, 4 * width)
        ctx.timed("rpc.windows")(span("GraftDB.windows")(collect(h.windows(lo, hi, width)))) { rows =>
          val want = fleet.visibleIn(s, lo, hi).size.toLong
          val got = rows.map(_.getAs[Long]("v_count")).sum
          ctx.check(got == want, s"windows $s [$lo,$hi): $got points, want $want")
        }
      case "changes" =>
        ctx.timed("rpc.changes")(span("GraftDB.changes")(collect(h.changes(1L, m.version, 26)))) { rows =>
          ctx.check(rows.nonEmpty == (m.version > 1),
            s"changes $s since v1 at v${m.version}: ${rows.length} ranges")
        }
      case "insert" =>
        val from = m.next
        val pts = fleet.pointsFrame(spark, Seq((s, from, from + InsertPoints))).select("time", "value")
        ctx.timed("rpc.insert")(span("GraftDB.insert")(h.insert(pts))) { v =>
          ctx.check(v == m.version + 1, s"insert $s: version $v after ${m.version}")
          m.version = v
          m.next = from + InsertPoints
          m.inserted += ((from, from + InsertPoints, v))
        }
      case "delete" =>
        val (lo, hi) = range(s, 5000000L)
        ctx.timed("rpc.delete")(span("GraftDB.deleteRange")(h.deleteRange(lo, hi))) { v =>
          ctx.check(v == m.version + 1, s"deleteRange $s: version $v after ${m.version}")
          m.version = v
          m.tombs += fleet.Tomb(lo, hi, v)
        }
      case "ingest" => ingest()
    }
  }

  private def rawValues(kind: String, s: Int, lo: Long, hi: Long): Unit =
    ctx.timed(kind)(span("GraftDB.rawValues")(collect(db.stream(fleet.uuid(s)).rawValues(lo, hi)))) { rows =>
      val want = fleet.visibleIn(s, lo, hi).map(i => fleet.value(s, i)).toSeq
      val got = rows.map(_.getDouble(1))
      ctx.check(got.length == want.size && (want.isEmpty ||
        got.min == want.min && got.max == want.max),
        s"rawValues $s [$lo,$hi): ${got.length} rows, want ${want.size}")
    }

  /** Land the next file (FilePoints new points of every ingest stream),
    * ingest it to completion, read the newest points.
    */
  private def ingest(): Unit = {
    val f = filesLanded
    val from = fleet.model(0).next
    fleet.pointsFrame(spark, ingestStreams.map(s => (s, from, from + FilePoints)))
      .coalesce(1).write.parquet(s"$pending/$f")
    val part = Option(new java.io.File(s"$pending/$f").listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".parquet"))
    require(part.size == 1, s"staged file $f has ${part.size} parts")
    java.nio.file.Files.move(part.head.toPath, new java.io.File(f"$source/f-$f%05d.parquet").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    filesLanded += 1
    ctx.timed("rpc.ingest") {
      span("streaming.Ingest.round") {
        val q = graft.streaming.Ingest.intoStore(spark, source, db.store, s"$dir/checkpoint",
          rollup = Some(rollup))
        q.awaitTermination()
        q
      }
    } { q =>
      ingestProgress ++= q.recentProgress
      // exactly once: the file's points are in the store once
      val lo = fleet.time(fleet.model(0).next)
      val rows = db.store.rawPoints.filter(col("uuid").isin(ingestStreams.map(fleet.uuid): _*) &&
        col("time") >= lo && col("time") < lo + FilePoints * PeriodUs).count()
      ctx.check(rows == IngestStreams.toLong * FilePoints,
        s"ingest of file $f committed $rows points, want ${IngestStreams * FilePoints}")
      // exactly one version bump per stream per committed file
      val vers = db.store.versionsFor(ingestStreams.map(fleet.uuid))
      ingestStreams.foreach { s =>
        val m = fleet.model(s)
        val v = vers.getOrElse(fleet.uuid(s), 0L)
        ctx.check(v == m.version + 1, s"ingest: stream $s at version $v after ${m.version}")
        m.inserted += ((m.next, m.next + FilePoints, v))
        m.version = v
        m.next += FilePoints
      }
    }
    val s = rng.nextInt(IngestStreams)
    val end = fleet.model(s).endTime
    rawValues("rpc.read_after_write", s, end - FilePoints * PeriodUs, end)
  }

  /** Background maintenance: compaction, delta compaction and a rebuild
    * that re-absorbs deleted ranges into the rollup (compaction prunes the
    * tombstones that invalidated them).
    */
  private def maintain(): Unit = {
    span("ts.Store.compact")(db.store.compact())
    span("ts.Rollup.compactDeltas")(rollup.compactDeltas(Seq("uuid")))
    span("ts.Rollup.build")(rollup.build(visible, Seq("uuid")))
    (0 until Streams).foreach(s => builtAt(s) = fleet.model(s).version)
  }

  private val ingestProgress = scala.collection.mutable.ArrayBuffer.empty[
    org.apache.spark.sql.streaming.StreamingQueryProgress]

  override def finish(): Unit = {
    // the traced run also measures maintenance, and checks the store after it
    if (ctx.args.trace) {
      ctx.tracer.active = true
      maintain()
      val v = span("GraftDB.version")(db.stream(fleet.uuid(0)).version)
      ctx.check(v == fleet.model(0).version, s"version 0: $v, want ${fleet.model(0).version}")
      ctx.tracer.active = false
    }
    // every stream's version and visible points against the model
    val vers = db.store.versionsFor((0 until Streams).map(fleet.uuid))
    val perStream = db.store.pointsAt(None).groupBy("uuid").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (0 until Streams).foreach { s =>
      val m = fleet.model(s)
      ctx.check(vers.get(fleet.uuid(s)).contains(m.version),
        s"version $s: ${vers.get(fleet.uuid(s))}, want ${m.version}")
      val want = fleet.visibleIn(s, Long.MinValue, Long.MaxValue).size.toLong
      ctx.check(perStream.getOrElse(fleet.uuid(s), 0L) == want,
        s"stream $s holds ${perStream.get(fleet.uuid(s))} visible points, want $want")
    }
    // a fixed sample of windows: rollup-served equals raw-served, fleet-wide
    val inv = Rollup.tombstoneRanges(db.store.tombstones.filter(col("ver") > builtAt.min))
    val hi = T0 + BasePoints * PeriodUs
    val pw = 22
    def rows(df: DataFrame) = df.orderBy("uuid", "w_start").collect().toSeq
    ctx.check(rows(rollup.alignedWindows(visible, Seq("uuid"), T0, hi, pw, invalid = Some(inv))) ==
      rows(graft.ts.TimeSeriesOps.alignedWindows(visible, Seq("uuid"), T0, hi, pw)),
      s"rollup-served windows differ from raw-served at pw=$pw")
  }

  def report(untraced: Seq[OpRecord]): Seq[(String, Double)] = {
    def p50(k: String) = Stats.median(untraced.filter(r => r.ok && r.kind == s"rpc.$k").map(_.ms))
    Seq("raw", "stat", "rollup_stat", "fleet_stat", "changes", "insert", "ingest",
      "read_after_write").map(k => s"${k}_p50_ms" -> p50(k)) ++ Seq(
      "ingest_pts_per_s" -> IngestStreams * FilePoints / (p50("ingest") / 1000),
      "store_bytes_per_point" -> storeBytes / fleet.visiblePoints.toDouble)
  }

  /** Bytes on disk: points, tombstones, descriptors, ingest logs, rollup levels. */
  private def storeBytes: Long =
    Fleet.bytesUnder(storeDir) + Fleet.bytesUnder(s"$dir/rollup") + Fleet.bytesUnder(s"$dir/checkpoint")

  override def layers: Seq[(String, Double)] = {
    import scala.jdk.CollectionConverters._
    def p50(k: String) = Stats.median(ingestProgress.toSeq
      .flatMap(p => Option(p.durationMs.get(k))).map(_.doubleValue))
    val rollupDirs = Option(new java.io.File(s"$dir/rollup").listFiles).toSeq.flatten
      .filter(_.isDirectory)
    Seq(
      "ts.Store.files_live" -> (Fleet.dataFiles(s"$storeDir/points").size +
        Fleet.dataFiles(s"$storeDir/tombstones").size).toDouble,
      "ts.Store.bytes_live" -> (Fleet.bytesUnder(s"$storeDir/points") +
        Fleet.bytesUnder(s"$storeDir/tombstones")).toDouble,
      "ts.Rollup.delta_dirs" -> rollupDirs.flatMap(d => Option(d.listFiles).toSeq.flatten)
        .count(_.getName.startsWith("delta=")).toDouble,
      "ts.Rollup.bytes_live" -> Fleet.bytesUnder(s"$dir/rollup").toDouble,
      "streaming.addBatch_ms" -> p50("addBatch"),
      "streaming.queryPlanning_ms" -> p50("queryPlanning"),
      "streaming.latestOffset_ms" -> p50("latestOffset"),
      "streaming.walCommit_ms" -> p50("walCommit"))
  }
}

object Rpc {
  val Streams = 4
  val IngestStreams = 2
  val BasePoints = 30000
  val Pointwidths = Seq(20, 26, 32)
  val InsertPoints = 1000
  /** rawValues span: 3000 points. */
  val RawLen = 30000000L
  /** Points per ingest stream in one landed file. */
  val FilePoints = 1000
  /** One pass's op multiset: a BTrDB client's mix in twentieths (25% raw,
    * 10% nearest, 15% raw-served and 15% rollup-served alignedWindows, 5%
    * fleet-wide rollup alignedWindows, 10% windows, 5% changes, 10% insert,
    * 5% deleteRange), plus one streaming-ingest round.
    */
  val Pass: Seq[String] = Seq("raw" -> 5, "nearest" -> 2, "stat" -> 3, "rollup_stat" -> 3,
    "fleet_stat" -> 1, "windows" -> 2, "changes" -> 1, "insert" -> 2, "delete" -> 1, "ingest" -> 1)
    .flatMap { case (k, n) => Seq.fill(n)(k) }
}
