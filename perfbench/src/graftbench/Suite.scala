package graftbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** suite_sf01: a family-stratified subset of the SparkEntry.queries
  * registry over a generated sf0.1 dataset, one client in a closed loop.
  * Each step is one pass over the subset in a seed-shuffled order with
  * count() as the action; every count is compared with the golden file.
  * The traced run also compares a full-column xxhash64 sum per query.
  */
final class Suite(ctx: Ctx) extends Workload(ctx) {
  import Suite._

  private var dir: String = _
  private val queries = graft.SparkEntry.queries
  private lazy val golden: Map[String, (Long, Option[String])] = Golden.read(ctx.args.golden)

  /** The dataset, written once per run and outside setup_s: it is the
    * benchmark's own generator, not graft.
    */
  override def prepare(d: String): Unit = {
    dir = d
    SuiteData.write(spark, d, 0.1, DataSeed)
    ctx.log(s"data written to $d")
  }

  /** Graft's set-up for the suite: build every subset query through the
    * registry and plan it (file listing, schema reads, analysis,
    * optimization and physical planning), without executing it.
    */
  def setup(d: String): Unit = Subset.foreach { n =>
    ctx.tracer.span("SparkEntry.plan")(queries(n)(spark, dir).queryExecution.executedPlan)
  }

  /** One untimed pass, so every measured pass runs equally warm. */
  def warmup(): Unit = Subset.foreach { n => count(n); ctx.log(s"warm-up $n") }

  /** Row counts, and the hashes that read the same twice. */
  override def writeGolden(): Unit = {
    val g = Subset.map { n => ctx.log(s"golden $n"); n -> (count(n), hash(n)) }.toMap
    val again = Subset.map(n => n -> hash(n)).toMap
    Golden.write(ctx.args.golden, g.map { case (n, (c, h)) => n -> (c, Some(h).filter(_ == again(n))) })
  }

  private def count(name: String): Long = queries(name)(spark, dir).count()

  /** Order-insensitive digest of every output column. */
  private def hash(name: String): String = {
    val df = queries(name)(spark, dir)
    df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).cast("decimal(38,0)").as("h"))
      .agg(sum("h")).collect().head.get(0).toString
  }

  /** (query, ms, traced) of every recorded run of a query. */
  private val samples = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
  private def medianOf(q: String, traced: Boolean): Double =
    Stats.median(samples.filter(x => x._1 == q && x._3 == traced).map(_._2).toSeq)

  override def minSteps: Int = 2

  def step(): Unit =
    ctx.rng.shuffle(Subset).foreach { name =>
      ctx.timed(s"suite.${family(name)}") {
        val df: DataFrame = ctx.tracer.span("SparkEntry.build")(queries(name)(spark, dir))
        val n = ctx.tracer.span("spark.count")(df.count())
        ctx.tracer.rows(n)
        n
      } { n =>
        ctx.check(golden.get(name).exists(_._1 == n),
          s"$name returned $n rows, golden ${golden.get(name).map(_._1)}")
        val last = ctx.ops.last
        samples += ((name, last.ms, last.traced))
      }
    }

  override def finish(): Unit =
    if (ctx.args.trace) Subset.foreach { q =>
      golden.get(q).flatMap(_._2).foreach { want =>
        val got = hash(q)
        ctx.check(got == want, s"$q full-column hash $got, golden $want")
      }
    }

  /** suite_s: per query the median of its untraced runs, summed. */
  def report(untraced: Seq[OpRecord]): Seq[(String, Double)] =
    Seq("suite_s" -> Subset.map(medianOf(_, traced = false)).filterNot(_.isNaN).sum / 1000.0)

  override def layers: Seq[(String, Double)] = {
    val byFamily = Subset.groupBy(family)
    Families.map { f =>
      s"$f.query_s" -> byFamily.getOrElse(f, Nil).map(medianOf(_, traced = true))
        .filterNot(_.isNaN).sum / 1000.0
    }
  }
}

object Suite {
  /** Seed of the generated dataset; the golden counts belong to it. */
  val DataSeed = 42L
  val Families = Seq("ts", "sim", "text", "mm", "tpch", "meta")
  /** The subset: per family, queries near the family's median cost in the
    * tracked 229-query record, plus ts_dtw from the execution-bound tail
    * and ts_aligned_windows, the core BTrDB operation. The full registry
    * does not fit the run-length bound.
    */
  val Subset: Seq[String] = Seq(
    "ts_aligned_windows", "ts_dtw",
    "emb_ann_bitq",
    "corpus_contamination", "dedup_minhash",
    "mm_phash",
    "q18_join",
    "sample_balanced")

  def family(q: String): String = q.takeWhile(_ != '_') match {
    case "ts" => "ts"
    case "emb" => "sim"
    case "text" | "dedup" | "corpus" => "text"
    case "mm" => "mm"
    case p if p.matches("q[0-9]+") => "tpch"
    case _ => "meta"
  }
}

/** The golden file: per query, its row count and (when deterministic)
  * its full-column hash, one query per line.
  */
object Golden {
  private def file(dir: String) = new java.io.File(dir, "suite_sf01.tsv")

  def read(dir: String): Map[String, (Long, Option[String])] =
    scala.io.Source.fromFile(file(dir), "UTF-8").getLines().filterNot(_.startsWith("#")).map { l =>
      val Array(q, n, h) = l.split("\t")
      q -> (n.toLong, Some(h).filter(_ != "-"))
    }.toMap

  def write(dir: String, g: Map[String, (Long, Option[String])]): Unit =
    java.nio.file.Files.writeString(file(dir).toPath,
      "# query\trows\tfull-column xxhash64 sum (- when not deterministic)\n" +
        g.toSeq.sortBy(_._1).map { case (q, (n, h)) => s"$q\t$n\t${h.getOrElse("-")}" }
          .mkString("", "\n", "\n"))
}
