package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional subset (comma-separated names) — scaling studies run the
    // heavy tail at 10×/100× without paying the full-suite sweep; the
    // driver never sets it, so round benches stay full-suite. An unknown
    // name fails here, before the session starts.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).filter(_.nonEmpty)
    val queries = SparkEntry.named(only.getOrElse(Nil))
    val stamp = stampStart()
    val spark = GraftConf.local()
    warmup(spark, sfDir, queries.values)
    // A swallowed exception records near-ZERO time and masquerades as a
    // fast query (caught in round 11: three 100×-run OOM casualties read
    // 0.02 s and looked like wins) — so failures are LOUD on stderr,
    // flagged in the per-query record, and the sample itself is NaN:
    // excluded from the steady min, from both suite totals, and from the
    // rep-selection median, so a fast failure can never contaminate any
    // aggregate number.
    val failed = scala.collection.mutable.Set[String]()
    def time(name: String,
             fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      val r = try {
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(200))
        Double.NaN
      }
      // Campaign-only (SPARK_GRAFT_GC_EACH=1): release the finished
      // query's shuffle files NOW instead of whenever the driver heap
      // next fills — see the periodicGC.interval comment in
      // GraftConf.local. OPT-IN because the call is not free even though
      // it sits outside the timed window: a measured full-suite sf0.1
      // sweep with it unconditional read a uniform ~+1 s on every query
      // (the explicit GC starts a concurrent cycle that steals CPU from
      // the NEXT query's timed window) — 158.7 → 244.3 s total. Scale
      // campaigns set it: at 100×/1000× a single heavy query's dead
      // shuffle is tens of GB and the GC second is noise; at sf0.1 the
      // per-query shuffle is MBs and the 2-min periodic cleaner suffices.
      if (sys.env.get("SPARK_GRAFT_GC_EACH").contains("1")) System.gc()
      r
    }
    val first = queries.map { case (name, fn) => name -> time(name, fn) }
    // Steady-state re-measure: a single sample taken while the machine is
    // loaded (another build, GC, the driver's own oracle run) can read
    // 10-30× the query's real cost and make the suite total un-reviewable.
    // Any query whose first sample exceeds 3× the suite median gets two
    // more reps; `steady` (the min over all samples) is the number to
    // trend round-over-round, `first` records what the cold sweep saw.
    val sorted = first.values.filterNot(_.isNaN).toSeq.sorted
    val median = if (sorted.isEmpty) 0.0 else sorted(sorted.size / 2)
    // SPARK_GRAFT_REPS=n forces n extra samples for EVERY query: in a
    // heavy-tail campaign subset the 3×-median rule self-normalizes
    // (median ≈ the heavies themselves) and under-samples exactly the
    // queries the campaign exists to measure — r14 saw a 5.2×
    // first/steady spread on a single-sampled 1000× query
    val envReps = GraftConf.envInt("SPARK_GRAFT_REPS").getOrElse(0)
    val reps = first.collect {
      case (name, t) if !t.isNaN &&
          (envReps > 0 || (median > 0 && t > 3 * median)) =>
        name -> Seq.fill(if (envReps > 0) envReps else 2)(time(name, queries(name)))
    }
    // steady = min over the NON-FAILED samples; a query with no good
    // sample stays NaN and is dropped from both totals below.
    val results = first.map { case (name, t) =>
      val good = (t +: reps.getOrElse(name, Nil)).filterNot(_.isNaN)
      name -> (t, if (good.isEmpty) Double.NaN else good.min)
    }
    val totalFirst = results.values.map(_._1).filterNot(_.isNaN).sum
    val totalSteady = results.values.map(_._2).filterNot(_.isNaN).sum
    def fmt(d: Double) = if (d.isNaN) "null" else f"$d%.3f"
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} queries FAILED " +
        s"(their samples were excluded): ${failed.toSeq.sorted.mkString(", ")}")
    // Per-query record, TRACKED (committed each round): one query per
    // line so round-over-round diffs are reviewable from git alone.
    val perQuery = results.toSeq.sortBy(_._1).map { case (name, (f, s)) =>
      val rep = reps.get(name).map(r => r.map(fmt).mkString(",\"reps\":[", ",", "]")).getOrElse("")
      val flag = if (failed(name)) ",\"failed\":true" else ""
      s"""  "$name": {"first": ${fmt(f)}, "steady": ${fmt(s)}$rep$flag}"""
    }.mkString("{\n\"sf\": \"" + sfDir + "\", \"provenance\": \"" + stamp + f"->${load1()}%.2f" +
      s"""\", "shuffle_partitions": ${GraftConf.shufflePartitions}, "n": ${results.size}, """ +
      s""""total_first": ${fmt(totalFirst)}, "total_steady": ${fmt(totalSteady)},\n""" +
      "\"queries\": {\n", ",\n", "\n}}\n")
    // subset runs must not clobber the tracked full-suite record;
    // SPARK_GRAFT_BENCH_OUT overrides for campaigns at other scales (e.g.
    // the 1000x record must not clobber the tracked 100x subset record)
    val perQueryPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "BENCH_queries_subset.json" else "BENCH_queries.json")
    Files.writeString(Paths.get(perQueryPath), perQuery)
    // STEADY is the headline metric: `first` mixes in one-shot planning/
    // IO and whatever load the machine was under during the cold sweep
    // (r10: 505.8 s first vs 217.3 s steady over the same queries) —
    // steady (min over samples) is the number that trends round-over-
    // round; first stays as a diagnostic field.
    val qs = results.map { case (k, (_, st)) =>
      s"\"" + k + "\":" + (if (st.isNaN) "null" else st.toString)
    }.mkString("{", ",", "}")
    val failedJson = failed.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json = s"""{"metric":"total_steady","value":$totalSteady,"unit":"sec","first":$totalFirst,"n_failed":${failed.size},"failed":$failedJson,"queries":$qs,"sf":"$sfDir"}"""
    // The full per-query map only goes to the file: with 100+ queries the
    // single giant JSON line has exceeded every console tail capture to
    // date (rounds 1-6 all parsed null). Stdout gets ONE short
    // machine-parseable line, printed LAST — failure count included so a
    // contaminated total can never read clean from the summary alone.
    Files.writeString(Paths.get("bench_out.json"), json + "\n")
    println(s"""{"metric":"total_steady","value":$totalSteady,"unit":"sec","n":${results.size},"n_failed":${failed.size},"first":$totalFirst,"sf":"$sfDir"}""")
    spark.stop()
  }

  /** Untimed warmup at the smallest SF (the sf0.001 dir beside `sfDir`,
    * when there is one): JIT + codegen + parquet reader init land here
    * instead of inside the first timed query. Per-query try so one failure
    * can't silently strip warmup from the rest.
    */
  private[graft] def warmup(spark: SparkSession, sfDir: String,
      queries: Iterable[(SparkSession, String) => DataFrame]): Unit = {
    val dir = Paths.get(sfDir).resolveSibling("sf0.001").toFile
    if (dir.isDirectory)
      queries.foreach { q =>
        try q(spark, dir.getPath).count() catch { case _: Throwable => () }
      }
  }

  private def load1(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Start of the machine-state stamp for the per-query record, so
    * round-over-round diffs know what they compare (the r12 lesson: a
    * loaded-machine refresh polluted the trend line). Read before the
    * session exists; the caller appends the end-of-run load:
    * `git=<head>[+dirty] nproc=<n> heap=<max>m utc=<start> load1=<start>`.
    * Dirty means uncommitted edits to tracked files (untracked build and
    * run outputs do not change what was measured).
    */
  private def stampStart(): String = {
    // stdout of a command; None when git is missing or the dir is no repo
    def run(cmd: String*): Option[String] = scala.util.Try(
      scala.sys.process.Process(cmd).!!(scala.sys.process.ProcessLogger(_ => ()))
    ).toOption.map(_.trim)
    val git = run("git", "rev-parse", "--short=12", "HEAD").fold("unknown") { h =>
      h + (if (run("git", "status", "--porcelain", "--untracked-files=no")
        .exists(_.nonEmpty)) "+dirty" else "")
    }
    val rt = Runtime.getRuntime
    val utc = java.time.Instant.now().truncatedTo(java.time.temporal.ChronoUnit.SECONDS)
    f"git=$git nproc=${rt.availableProcessors} heap=${rt.maxMemory >> 20}m utc=$utc load1=${load1()}%.2f"
  }
}
