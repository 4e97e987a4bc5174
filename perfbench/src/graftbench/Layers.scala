package graftbench

/** The traced run's per-layer numbers, and its self-time report. */
object Layers {
  /** Spark counts summed per op: (listener key, metric name, unit). */
  private val SparkCounts = Seq(
    ("analysis_ms", "spark.analysis_ms", "ms/op"),
    ("optimization_ms", "spark.optimization_ms", "ms/op"),
    ("planning_ms", "spark.planning_ms", "ms/op"),
    ("codegen_compiles", "spark.codegen_compiles", "count/op"),
    ("codegen_ms", "spark.codegen_ms", "ms/op"),
    ("jobs", "spark.jobs", "count/op"),
    ("stages", "spark.stages", "count/op"),
    ("tasks", "spark.tasks", "count/op"),
    ("task_s", "spark.task_s", "s/op"),
    ("gc_s", "spark.gc_s", "s/op"),
    ("shuffle_read_bytes", "spark.shuffle_read_bytes", "B/op"),
    ("shuffle_write_bytes", "spark.shuffle_write_bytes", "B/op"),
    ("spill_bytes", "spark.spill_bytes", "B/op"),
    ("scan_files", "spark.scan_files", "count/op"),
    ("scan_bytes", "spark.scan_bytes", "B/op"),
    ("scan_listing_ms", "spark.scan_listing_ms", "ms/op"))

  /** Layer calls reported as the median duration of one call. */
  val Calls = Seq("GraftDB.version", "GraftDB.nearest", "GraftDB.windows", "GraftDB.deleteRange",
    "ts.MetaStore.create", "ts.MetaStore.lookup", "ts.Rollup.build", "ts.Rollup.compactDeltas",
    "ts.Store.insertBatch", "ts.Store.compact", "streaming.Ingest.round")

  /** Workload-level numbers (Workload.report), in every traced result;
    * a workload they do not apply to reports 0.
    */
  val WorkloadMetrics = Seq(
    ("suite_s", "s"), ("raw_p50_ms", "ms"), ("stat_p50_ms", "ms"), ("rollup_stat_p50_ms", "ms"),
    ("fleet_stat_p50_ms", "ms"), ("changes_p50_ms", "ms"), ("insert_p50_ms", "ms"),
    ("ingest_p50_ms", "ms"), ("ingest_pts_per_s", "1/s"), ("read_after_write_p50_ms", "ms"),
    ("store_bytes_per_point", "B"), ("fail_frac", "fraction"))

  /** Layer numbers a workload without that layer reports as 0. */
  val WorkloadLayers = Seq(
    ("ts.query_s", "s"), ("sim.query_s", "s"), ("text.query_s", "s"), ("mm.query_s", "s"),
    ("tpch.query_s", "s"), ("meta.query_s", "s"),
    ("ts.Store.files_live", "count"), ("ts.Store.bytes_live", "B"),
    ("ts.Rollup.delta_dirs", "count"), ("ts.Rollup.bytes_live", "B"),
    ("streaming.addBatch_ms", "ms"),
    ("streaming.queryPlanning_ms", "ms"), ("streaming.latestOffset_ms", "ms"),
    ("streaming.walCommit_ms", "ms"))

  def compute(ctx: Ctx, w: Workload, heap: HeapPeak): Seq[(String, Double, String)] = {
    val t = ctx.tracer
    val ops = t.topOps.filter(_.op > 0)
    val opIds = ops.map(_.op).toSet
    val inOps = t.spans.filter(s => opIds(s.op)).toSeq
    val n = math.max(1, ops.size).toDouble
    def total(k: String) = inOps.map(_.counts(k)).sum
    val spark = SparkCounts.map { case (k, name, unit) => (name, total(k) / n, unit) }

    // time no Spark job of the op ran: op wall time minus its jobs' run intervals
    val byOp = inOps.groupBy(_.op)
    val noJobMs = ops.map { o =>
      val iv = byOp(o.op).flatMap(s => t.listenerJobs(s.id))
        .map { case (a, b) => (math.max(a, o.startMs), math.min(b, o.endMs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      val covered = iv.foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
        if (b <= reach) (acc, reach) else (acc + b - math.max(a, reach), b)
      }._1
      math.max(0.0, o.ms - covered)
    }
    val scanned = total("rows_scanned") / math.max(1.0, total("result_rows"))

    val calls = Calls.map { c =>
      val d = t.spans.filter(_.name == c).map(_.ms).toSeq
      (s"${c}_ms", if (d.isEmpty) 0.0 else Stats.median(d), "ms")
    }
    val own = w.layers.toMap
    val workload = WorkloadLayers.map { case (k, u) => (k, own.getOrElse(k, 0.0), u) }
    val kernels = Kernels.run(ctx.spark).map { case (k, v) => (k, v, "ns/row") }

    // tracing overhead: per op kind, traced median over untraced median
    val ratios = ctx.ops.filter(_.ok).groupBy(_.kind).values.flatMap { rs =>
      val (tr, un) = rs.partition(_.traced)
      if (tr.isEmpty || un.isEmpty) None
      else Some(Stats.median(tr.map(_.ms).toSeq) / Stats.median(un.map(_.ms).toSeq))
    }.toSeq
    val overhead = if (ratios.isEmpty) Double.NaN else Stats.median(ratios) - 1

    selfTimeReport(ctx, ops)
    spark ++ Seq(
      ("spark.driver_only_ms", noJobMs.sum / n, "ms/op"),
      ("spark.rows_scanned_per_result", scanned, "ratio")) ++
      calls ++ workload ++ kernels ++ Seq(
      ("jvm.heap_used_peak_mb", heap.mb, "MB"),
      ("trace.overhead_frac", overhead, "fraction"))
  }

  /** Largest share of traced op time that may lie outside every layer span. */
  val MaxUncoveredFrac = 0.1

  /** Per span name, self time summed over the traced ops, and two checks:
    * the self times add up to the ops' wall time as ctx.timed measured it
    * (less the listener-bus drain after each op), and the op time no layer
    * span covers (the top-level spans' own self time) stays a small share.
    */
  private def selfTimeReport(ctx: Ctx, ops: Seq[Span]): Unit = {
    val t = ctx.tracer
    val self = t.selfMs
    val opIds = ops.map(_.op).toSet
    val spans = t.spans.filter(s => opIds(s.op)).toSeq
    val wall = ctx.ops.filter(_.traced).map(_.ms).sum - t.drainMs
    t.spans.filter(s => s.op == 0 && s.parent >= 0).foreach { s =>
      println(f"[trace] setup span ${s.name}%-32s ${s.ms}%10.1f ms")
    }
    println(f"[trace] ${ops.size} traced ops, ${spans.size} spans, op wall time ${wall / 1000}%.3f s " +
      f"(bus drain ${t.drainMs / 1000}%.3f s excluded)")
    spans.groupBy(_.name).toSeq.map { case (nm, ss) => nm -> ss.map(s => self(s.id)).sum }
      .sortBy(-_._2).foreach { case (nm, ms) =>
        println(f"[trace] self ${nm}%-32s ${ms / 1000}%10.3f s ${100 * ms / math.max(wall, 1e-9)}%6.1f%%")
      }
    val accounted = spans.map(s => self(s.id)).sum
    ctx.check(math.abs(accounted - wall) <= 0.01 * wall + 1.0 * ops.size,
      f"span self times $accounted%.3f ms do not account for op wall time $wall%.3f ms")
    val uncovered = ops.map(o => self(o.id)).sum
    println(f"[trace] op time outside layer spans ${uncovered / 1000}%.3f s " +
      f"${100 * uncovered / math.max(wall, 1e-9)}%.1f%%")
    ctx.check(uncovered <= MaxUncoveredFrac * wall,
      f"layer spans leave $uncovered%.3f ms of $wall%.3f ms op time uncovered")
  }
}
