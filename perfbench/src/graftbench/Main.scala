package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command line of one run (see perfbench/run.py, which supplies the
  * scratch, golden and result paths).
  */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      cpus: Int, scratch: String, golden: String, result: String,
                      spans: String, writeGolden: Boolean)

object Args {
  def parse(a: Array[String]): Args = {
    val kv = a.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("cpus").toInt, kv("scratch"), kv("golden"), kv("result"), kv("spans"),
      a.contains("--write-golden"))
  }
}

/** One measured request of a workload's closed loop. */
final case class OpRecord(kind: String, ms: Double, ok: Boolean, traced: Boolean)

/** What a workload shares with the main loop: the session, the tracer,
  * the seeded generator, the op log and the output-check log.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val args: Args) {
  val rng = new scala.util.Random(args.seed)
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val checkFailures = mutable.ArrayBuffer.empty[String]
  /** Off during warm-up: ops run and are checked but not recorded. */
  var recording = true

  private val born = System.nanoTime()
  /** Progress line on stderr, with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[progress] ${(System.nanoTime() - born) / 1e9}%8.2f s $msg")

  def check(cond: Boolean, what: => String): Unit =
    if (!cond) {
      if (checkFailures.size < 20) System.err.println(s"[check] FAILED: $what")
      checkFailures += what
    }

  /** Time one op; `verify` runs on its output after the clock stops. An
    * exception is a failed op, counted and never timed as fast.
    */
  def timed[R](kind: String)(body: => R)(verify: R => Unit): Option[R] = {
    val t0 = System.nanoTime()
    val r = try Some(tracer.op(kind)(body)) catch {
      case e: Exception =>
        System.err.println(s"[op] $kind FAILED: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300))
        None
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (recording) {
      ops += OpRecord(kind, ms, r.isDefined, tracer.active)
      System.err.println(f"[op] $kind%-24s $ms%10.1f ms${if (tracer.active) " traced" else ""}")
    }
    r.foreach(verify)
    r
  }
}

/** A workload: untimed input generation, set-up into a fresh directory,
  * an untimed warm-up, then ops until the measured window closes, then
  * end-of-run checks.
  */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  /** Write inputs every set-up reads, once per run (untimed). */
  def prepare(dir: String): Unit = ()
  /** Graft's set-up work; timed, and run Main.Setups times. */
  def setup(dir: String): Unit
  def warmup(): Unit
  /** Run the next op(s) of the seeded sequence through ctx.timed. */
  def step(): Unit
  /** Steps a measured window runs at least, so that it always holds the
    * same op multiset while a step is longer than the window.
    */
  def minSteps: Int = 1
  /** Record the golden outputs the checks compare with (after set-up). */
  def writeGolden(): Unit = sys.error("this workload checks against a model, not a golden file")
  /** End-of-run output checks (untimed). */
  def finish(): Unit = ()
  /** Workload-level numbers from untraced ops, named as in Layers.WorkloadMetrics. */
  def report(untraced: Seq[OpRecord]): Seq[(String, Double)]
  /** Layer numbers only this workload can produce (filesystem, streaming). */
  def layers: Seq[(String, Double)] = Nil
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); NaN when empty. */
  def q(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.ceil(h).toInt
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  def median(xs: Seq[Double]): Double = q(xs, 0.5)
}

object Main {
  /** Set-ups per run; setup_s is their median. */
  val Setups = 3

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"${a.scratch}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.scratch}/warehouse")
    val s = graft.GraftConf.sessionDefaults(b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val spark = session(a)
    val tracer = new Tracer(a.trace, spark)
    val ctx = new Ctx(spark, tracer, a)
    val w: Workload = a.workload match {
      case "suite_sf01" => new Suite(ctx)
      case "tsdb_rpc" => new Rpc(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    ctx.log("session up")
    val code = try { run(a, ctx, w); 0 } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    } finally {
      try tracer.close() catch { case _: Throwable => () }
      spark.stop()
    }
    sys.exit(code)
  }

  private def run(a: Args, ctx: Ctx, w: Workload): Unit = {
    val heap = new HeapPeak
    w.prepare(s"${a.scratch}/data")
    ctx.tracer.active = a.trace
    val setupS = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      ctx.tracer.span("setup")(w.setup(s"${a.scratch}/setup$i"))
      (System.nanoTime() - t0) / 1e9
    }
    ctx.tracer.active = false
    ctx.log("set-ups done")
    if (a.writeGolden) return w.writeGolden()
    val tw = System.nanoTime()
    w.warmup()
    val warmS = (System.nanoTime() - tw) / 1e9
    // The traced run alternates untraced and traced steps, so both see the
    // same JVM warm-up: the workload numbers come from the untraced steps,
    // the layer numbers from the traced ones, and the ratio of their
    // latencies is the tracing overhead. Steps are whole passes; a run
    // makes at least minSteps of them, and a traced run an even number.
    val t0 = System.nanoTime()
    val end = t0 + (a.seconds * 1e9).toLong
    var untracedS = 0.0
    var n = 0
    do {
      val s0 = System.nanoTime()
      ctx.tracer.active = a.trace && n % 2 == 1
      w.step()
      if (!ctx.tracer.active) untracedS += (System.nanoTime() - s0) / 1e9
      n += 1
    } while (n < w.minSteps || System.nanoTime() < end || (a.trace && n % 2 == 1))
    val measuredS = (System.nanoTime() - t0) / 1e9
    ctx.log("measured window done")
    ctx.tracer.active = false
    ctx.recording = false
    w.finish()
    ctx.log("end-of-run checks done")
    val untraced = ctx.ops.filterNot(_.traced).toSeq
    val good = untraced.filter(_.ok).map(_.ms)
    val attempted = ctx.ops.size
    val failed = ctx.ops.count(!_.ok)
    val own = (w.report(untraced) :+ ("fail_frac" -> failed.toDouble / math.max(1, attempted))).toMap
    val workloadNums = Layers.WorkloadMetrics.map { case (n, u) => (n, own.getOrElse(n, 0.0), u) }
    val e2e = Seq(
      ("setup_s", Stats.median(setupS), "s"),
      ("latency_p50_ms", Stats.median(good), "ms"),
      ("latency_p95_ms", Stats.q(good, 0.95), "ms"),
      ("ops_per_s", untraced.size / untracedS, "1/s"))
    println(f"[run] workload=${a.workload} seed=${a.seed} setups=${setupS.map(x => f"$x%.3f").mkString(",")} s " +
      f"warmup=$warmS%.2f s measured=$measuredS%.2f s ops=$attempted failed=$failed")
    (e2e ++ workloadNums.filter(m => own.contains(m._1))).foreach { case (n, v, u) =>
      println(f"metric $n%-28s $v%14.4f $u")
    }
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) e2e
      else {
        val layers = Layers.compute(ctx, w, heap)
        ctx.tracer.write(a.spans)
        layers.foreach { case (n, v, u) => println(f"layer  $n%-40s $v%14.4f $u") }
        // a number a workload cannot produce (no samples) reads 0
        (layers ++ workloadNums).map { case (n, v, u) => (n, if (v.isNaN) 0.0 else v, u) }
      }
    val correct = ctx.checkFailures.isEmpty
    if (!correct)
      System.err.println(s"[check] ${ctx.checkFailures.size} output checks FAILED")
    val json = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.result), json + "\n")
    ctx.log("result written")
  }

}

/** Peak heap use across the run, from the JVM's memory-pool peaks. */
final class HeapPeak {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._
  private def pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  pools.foreach(_.resetPeakUsage())
  def mb: Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
