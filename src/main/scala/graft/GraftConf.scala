package graft
import org.apache.spark.sql.SparkSession

/** The session contract of graft's runnable mains (Bench, Verify, ScaleUp,
  * PlanDump, OptProbe, text.ShardProbe): `local()` is the one place a main
  * builds its SparkSession, so an env contract fixed for one main cannot
  * silently desync in another.
  *
  * Environment (the whole `SPARK_GRAFT_*` surface of src/main):
  *  - SPARK_GRAFT_CPUS — local[n] worker threads; default: available cores
  *  - SPARK_GRAFT_SHUFFLE — spark.sql.shuffle.partitions; default: cpus
  *  - SPARK_GRAFT_INITIAL_PARTITIONS — AQE coalesce headroom (below)
  *  - SPARK_GRAFT_SF_DIR, _ONLY, _REPS, _GC_EACH, _BENCH_OUT — read by Bench
  *  - SPARK_GRAFT_PLAN_DIR — read by PlanDump
  */
object GraftConf {
  /** Integer env var. An empty string (the `VAR= cmd` shell idiom) reads
    * as unset, and a non-numeric value fails naming the variable instead
    * of with a bare NumberFormatException at session startup. */
  private[graft] def envInt(name: String): Option[Int] =
    sys.env.get(name).map(_.trim).filter(_.nonEmpty).map { v =>
      try v.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$name must be an integer, got '$v'")
      }
    }

  def cpus: Int = envInt("SPARK_GRAFT_CPUS").getOrElse(Runtime.getRuntime.availableProcessors)

  /** Shuffle partitions default to the thread count (right for the gate
    * SFs); scale campaigns override them UP — at 1000× a sorted group that
    * fits 24-way at 100× spills at fixed parallelism, and more partitions
    * is exactly what a real cluster adds. */
  def shufflePartitions: Int = envInt("SPARK_GRAFT_SHUFFLE").getOrElse(cpus)

  /** The local session every graft main runs under. */
  def local(): SparkSession = {
    val spark = sessionDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // Spark only deletes a finished query's shuffle files when the
      // driver GC collects the plan that referenced them — default
      // periodicGC is 30min, so a campaign of back-to-back heavy queries
      // accumulates every predecessor's dead spill on disk (measured:
      // 75 GB of defunct blockmgr files mid-sweep at the 1000× decade, an
      // ENOSPC that no single query caused). Two minutes bounds the
      // dead-file window; Bench's SPARK_GRAFT_GC_EACH makes it per query.
      .config("spark.cleaner.periodicGC.interval", "2min"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Every remaining partition-less window in the library goes through
    // graft.Bounded.window over a frame that is ≤k rows by construction
    // (top-k survivors, strata, slices), audited in PlanShapeSpec /
    // TimeSeriesOpsSpec; Catalyst's EliminateWindowPartitions folds the
    // constant key back out, so WindowExec still logs its single-partition
    // warning for each of them — dozens of times per sweep, burying real
    // warnings. Demote exactly that one logger.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Session defaults every graft session shares, applied on top of the
    * caller's own master/shuffle settings.
    *
    * codegen.cache.maxEntries (STATIC conf, so it must be set at session
    * creation): Spark's generated-class cache holds 100 entries by
    * default — a 229-query suite compiles several codegen units per query,
    * so consecutive queries evict each other and EVERY bench sample pays
    * full Janino recompilation of every fragment (measured: see
    * OPTIMIZATION_r16.md §1). 4096 entries holds the whole library's
    * fragments; the cost is bounded driver metaspace for class metadata.
    * Any long-lived session (a cluster driver serving repeated queries)
    * wants its working set of generated classes resident.
    */
  def sessionDefaults(b: SparkSession.Builder): SparkSession.Builder =
    withInitialPartitions(b).config("spark.sql.codegen.cache.maxEntries", "4096")

  /** Apply `SPARK_GRAFT_INITIAL_PARTITIONS` as AQE coalesce headroom —
    * the mass-scaled-shuffle knob scale campaigns export (2048+ at the
    * 100×/1000× decades, where a fixed small partition count spills; AQE
    * right-sizes every exchange from runtime map-output stats but can only
    * coalesce DOWN from the initial count). CAMPAIGN-ONLY, never a session
    * default: the r14 per-family A/B measured even 256 as a 1.5–2.4×
    * per-query tax on the two-phase sliced-scan family at sf0.1
    * (ts_lttb_bucketed 1.61→3.93 s; many tiny exchanges, nothing to
    * spill). Unset or "0" leaves the conf alone — Spark's
    * `initialPartitionNum` is checkValue(_ > 0), so passing a literal 0
    * through would throw at session creation instead of reverting to the
    * shuffle-partitions default.
    */
  def withInitialPartitions(b: SparkSession.Builder): SparkSession.Builder = {
    val n = envInt("SPARK_GRAFT_INITIAL_PARTITIONS").getOrElse(0)
    if (n > 0)
      b.config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", n.toString)
    else b
  }
}
