package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The seeded point fleet the tsdb workloads load, and a client-side
  * model of every stream's visible points that the output checks compare
  * against.
  *
  * Point i of stream s lies at time T0 + i * PeriodUs and has value
  * pmod(i * 7919 + s * 104729 + salt, 10007) / 100, so any range's count,
  * min and max follow from the indices alone. Writes are modelled per
  * stream: inserted index ranges with their version, and tombstones that
  * hide points of lower versions.
  */
final class Fleet(val streams: Int, val basePoints: Int, val salt: Long) {
  import Fleet._

  def uuid(s: Int): String = f"00000000-0000-4000-8000-$s%012d"
  def value(s: Int, i: Long): Double = Math.floorMod(i * 7919L + s * 104729L + salt, 10007L) / 100.0
  def time(i: Long): Long = T0 + i * PeriodUs

  /** Spark frame of the base points of all streams: (uuid, time, value). */
  def baseFrame(spark: SparkSession): DataFrame =
    pointsFrame(spark, (0 until streams).map(s => (s, 0L, basePoints.toLong)))

  /** (uuid, time, value) rows for index range [from, until) of each stream. */
  def pointsFrame(spark: SparkSession, ranges: Seq[(Int, Long, Long)]): DataFrame =
    ranges.map { case (s, from, until) =>
      spark.range(from, until).select(
        lit(uuid(s)).as("uuid"),
        (lit(T0) + col("id") * PeriodUs).as("time"),
        (pmod(col("id") * 7919L + lit(s * 104729L + salt), lit(10007L)) / 100.0).as("value"))
    }.reduce(_ unionByName _)

  // ---- model ----
  final case class Tomb(lo: Long, hi: Long, ver: Long)
  final class Model {
    var version = 1L
    var next: Long = basePoints.toLong
    /** (from, until, version) of inserted index ranges; base is version 1. */
    val inserted = mutable.ArrayBuffer((0L, basePoints.toLong, 1L))
    val tombs = mutable.ArrayBuffer.empty[Tomb]
    def verOf(i: Long): Long =
      if (i < basePoints) 1L
      else inserted.find(r => i >= r._1 && i < r._2).map(_._3).getOrElse(0L)
    def visible(i: Long): Boolean = {
      val t = time(i)
      val v = verOf(i)
      i < next && !tombs.exists(d => d.ver > v && t >= d.lo && t < d.hi)
    }
    def endTime: Long = time(next)
  }
  val model: Array[Model] = Array.fill(streams)(new Model)

  /** Indices of stream s with time in [lo, hi), visible now. */
  def visibleIn(s: Int, lo: Long, hi: Long): Iterator[Long] = {
    val m = model(s)
    def ceilIdx(t: Long) = if (t <= T0) 0L else Math.floorDiv(t - T0 + PeriodUs - 1, PeriodUs)
    val last = if (hi == Long.MaxValue) m.next else math.min(m.next, ceilIdx(hi))
    Iterator.range(ceilIdx(lo), last).filter(m.visible)
  }

  /** Expected (count, min, max) per aligned 2^pw window of [lo, hi). */
  def windows(s: Int, lo: Long, hi: Long, pw: Int): Map[Long, (Long, Double, Double)] = {
    val acc = mutable.Map.empty[Long, (Long, Double, Double)]
    visibleIn(s, lo, hi).foreach { i =>
      val w = (time(i) >> pw) << pw
      val v = value(s, i)
      val (n, mn, mx) = acc.getOrElse(w, (0L, Double.MaxValue, -Double.MaxValue))
      acc(w) = (n + 1, math.min(mn, v), math.max(mx, v))
    }
    acc.toMap
  }

  def visiblePoints: Long = (0 until streams).map(s => visibleIn(s, Long.MinValue, Long.MaxValue).size.toLong).sum
}

object Fleet {
  /** 2^32-aligned start, so every rollup level's buckets align with it. */
  val T0: Long = (1704067200000000L >> 32) << 32
  /** 100 Hz. */
  val PeriodUs = 10000L

  /** Bytes under a local directory. */
  def bytesUnder(dir: String): Long = files(dir).map(_.length).sum
  def files(dir: String): Seq[java.io.File] = {
    val d = new java.io.File(dir)
    if (!d.exists) Nil
    else {
      val out = mutable.ArrayBuffer.empty[java.io.File]
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
        else if (!f.getName.startsWith(".")) out += f
      walk(d)
      out.toSeq
    }
  }
  /** Parquet data files under a directory (no checksums or markers). */
  def dataFiles(dir: String): Seq[java.io.File] = files(dir).filter(_.getName.endsWith(".parquet"))
}
