package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of benchmark code around a call into a layer. */
final class Span(val id: Int, val parent: Int, val name: String, val op: Long,
                 val startNs: Long, val startMs: Long) {
  var endNs = 0L
  var endMs = 0L
  val counts: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, `span` is a plain call. Enabled, it
  * records name, start, end, parent and op id of every span, tags each
  * Spark job with the innermost open span, and after every op waits for
  * the listener bus so Spark's counts land on the span that caused them.
  */
final class Tracer(val on: Boolean, spark: SparkSession) {
  /** Spans are recorded only while active (a traced run's second half). */
  var active = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var opId = 0L
  private val sc = spark.sparkContext
  private val listener = new SparkCounts(this)
  private val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  private val compiler = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
  /** Time spent waiting for the listener bus after each op, excluded from
    * the ops' wall time when the self times are checked against it.
    */
  var drainMs = 0.0

  if (on) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(listener.qeListener)
  }

  @volatile private[graftbench] var openOp: Option[Span] = None
  private val index = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  def byId(id: Int): Option[Span] = Option(index.get(id))

  /** A top-level op: one client request of the workload's closed loop. */
  def op[T](name: String)(f: => T): T =
    if (!active) f
    else {
      opId += 1
      val r = open(name, opId)(f)
      val d0 = System.nanoTime()
      org.apache.spark.graftbench.BusShim.drain(sc)
      drainMs += (System.nanoTime() - d0) / 1e6
      r
    }

  /** A span inside the open op, or outside any op (op id 0). */
  def span[T](name: String)(f: => T): T =
    if (!active) f else open(name, stack.headOption.map(_.op).getOrElse(0L))(f)

  private def open[T](name: String, op: Long)(f: => T): T = {
    val parent = stack.headOption
    val s = new Span(spans.size, parent.map(_.id).getOrElse(-1), name, op,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    index.put(s.id, s)
    stack = s :: stack
    if (parent.isEmpty) openOp = Some(s)
    sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    val c0 = codegen.getCount
    val ns0 = compiler.compileTime
    try f
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      // codegen counters are process-wide: counted once, on the outermost
      // span; compileTime is Spark's exact cumulative compile time in ns
      if (parent.isEmpty) {
        s.counts("codegen_compiles") += codegen.getCount - c0
        s.counts("codegen_ms") += (compiler.compileTime - ns0) / 1e6
      }
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** (start, end) epoch ms of the Spark jobs a span ran. */
  def listenerJobs(spanId: Int): Seq[(Long, Long)] = listener.synchronized {
    listener.jobIntervals.get(spanId).map(_.toSeq).getOrElse(Nil)
  }

  /** Attribute a count to an open span (used by the workload for result
    * rows and by the listeners for Spark counts).
    */
  def add(spanId: Int, key: String, v: Double): Unit =
    byId(spanId).foreach(s => s.synchronized { s.counts(key) += v })

  /** Count result rows on the innermost open span. */
  def rows(n: Long): Unit = if (active) stack.headOption.foreach(s => add(s.id, "result_rows", n))

  def close(): Unit = if (on) {
    org.apache.spark.graftbench.BusShim.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(listener.qeListener)
  }

  /** Self time of every span: its duration minus the time its direct
    * children cover.
    */
  def selfMs: Map[Int, Double] = {
    val child = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.map(s => s.id -> (s.ms - child.getOrElse(s.id, 0.0))).toMap
  }

  def topOps: Seq[Span] = spans.filter(_.parent < 0).toSeq

  /** Every span as one JSON line: name, start and end (epoch ms, and ns
    * for durations), parent, op id and its Spark counts.
    */
  def write(path: String): Unit = {
    def str(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = spans.map { s =>
      val counts = s.counts.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: $v" }.mkString(", ")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": ${str(s.name)}, """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "dur_ms": ${s.ms}, "counts": {$counts}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
}

/** Spark-side counts per span: a SparkListener for jobs, stages, tasks and
  * task metrics, and a QueryExecutionListener for Catalyst phase times and
  * file-scan metrics. A job is attributed through the span id it carries
  * as a local property; a query execution through the span of its jobs, or
  * the open op when it ran none.
  */
final class SparkCounts(t: Tracer) extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val execSpan = mutable.Map.empty[Long, Int]
  /** Job run intervals (epoch ms) per span, for the time no job ran. */
  val jobIntervals = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
  private val jobStartMs = mutable.Map.empty[Int, Long]

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanKey))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      jobSpan(e.jobId) = s
      e.stageIds.foreach(stageSpan(_) = s)
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(x => execSpan(x.toLong) = s)
      jobStartMs(e.jobId) = e.time
      t.add(s, "jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (s <- jobSpan.get(e.jobId); st <- jobStartMs.remove(e.jobId))
      jobIntervals.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += (st -> e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(t.add(_, "stages", 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      t.add(s, "tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        t.add(s, "task_s", m.executorRunTime / 1e3)
        t.add(s, "gc_s", m.jvmGCTime / 1e3)
        t.add(s, "shuffle_read_bytes",
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        t.add(s, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        t.add(s, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      SparkCounts.this.synchronized {
        execSpan.get(qe.id).orElse(t.openOp.map(_.id)).foreach { s =>
          qe.tracker.phases.foreach { case (phase, p) =>
            t.add(s, s"${phase}_ms", p.durationMs.toDouble)
          }
          collectWithSubqueries(qe.executedPlan) { case f: FileSourceScanExec => f }
            .foreach { scan =>
              def m(k: String) = scan.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
              t.add(s, "scan_files", m("numFiles"))
              t.add(s, "scan_bytes", m("filesSize"))
              t.add(s, "scan_listing_ms", m("metadataTime"))
              t.add(s, "rows_scanned", m("numOutputRows"))
            }
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
}
