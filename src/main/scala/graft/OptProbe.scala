package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Optimization-round measurement probe (guide §1): for each named query,
  * split wall time into DataFrame build + Catalyst planning vs execution,
  * and count the Spark jobs / stages / tasks the action schedules. The
  * job/stage/task counts expose the per-query scheduling floor that
  * dominates tiny-SF benches; the plan-time column exposes driver-side
  * Catalyst cost that `steady = min over samples` still pays every sample.
  * Usage: runMain graft.OptProbe <sfDir> <reps> [query ...] (no names = all).
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 2
    val queries = SparkEntry.named(args.drop(2).toSeq).toSeq.sortBy(_._1)
    val spark = GraftConf.local()
    val jobs = new AtomicInteger(0); val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0); val taskMs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      }
    })
    Bench.warmup(spark, sfDir, queries.map(_._2))
    println(f"[optprobe] ${"query"}%-28s ${"build"}%7s ${"plan"}%7s ${"exec"}%7s ${"total"}%7s ${"jobs"}%5s ${"stage"}%5s ${"tasks"}%6s ${"taskS"}%7s")
    val rows = queries.map { case (n, fn) =>
      val samples = (1 to reps).map { _ =>
        Thread.sleep(120) // let the listener bus drain the previous query's events
        jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0L)
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        // force analysis + optimization + physical planning without executing
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.count()
        val t3 = System.nanoTime()
        Thread.sleep(120)
        (( t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, (t3 - t0) / 1e9,
          jobs.get, stages.get, tasks.get, taskMs.get / 1e3)
      }
      val best = samples.minBy(_._4)
      println(f"[optprobe] $n%-28s ${best._1}%7.3f ${best._2}%7.3f ${best._3}%7.3f ${best._4}%7.3f ${best._5}%5d ${best._6}%5d ${best._7}%6d ${best._8}%7.1f")
      (n, best)
    }
    val tot = rows.map(_._2._4).sum
    val totPlan = rows.map(r => r._2._1 + r._2._2).sum
    val totExec = rows.map(_._2._3).sum
    println(f"[optprobe] TOTAL build+plan=$totPlan%.1f exec=$totExec%.1f all=$tot%.1f over ${rows.size} queries")
    spark.stop()
  }
}
