package graft
import org.apache.spark.sql.execution.ExplainMode

/** Dev-loop plan auditor: print the FINAL adaptive physical plan of named
  * SparkEntry queries (the `.explain` loop the build rule prescribes).
  * Usage: runMain graft.PlanDump <sfDir> [query ...] (no names = all).
  * SPARK_GRAFT_PLAN_DIR=<dir>: additionally write each query's
  * `.explain("formatted")` output (the pre-execution plan with PushedFilters/
  * ReadSchema/codegen spans — the optimization-round deliverable shape) to
  * <dir>/<query>.txt, masked (see `mask`) so that `diff -r` of two dump
  * dirs is a plan-identity check.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val queries = SparkEntry.named(args.drop(1).toSeq).toSeq.sortBy(_._1)
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val spark = GraftConf.local()
    spark.sparkContext.setLogLevel("ERROR")
    planDir.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    queries.foreach { case (n, fn) =>
      val df = fn(spark, sfDir)
      planDir match {
        case Some(d) =>
          val formatted =
            mask(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(d, s"$n.txt"), formatted)
          println(s"===== $n -> $d/$n.txt")
        case None =>
          df.collect()
          println(s"===== $n")
          println(df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0))
      }
    }
    spark.stop()
  }

  /** What a formatted plan prints that varies between two JVMs building the
    * same plan: expression ids (`#123`) and exchange ids (`plan_id=45`),
    * which count up across the queries a JVM builds; the suffix a lambda
    * variable gets from the same kind of JVM-wide counter (`lambda x_6#…`,
    * masked only in lambda names, so a column such as `recall_5` keeps its
    * digits); lambda class names and identity hashes
    * (`$Lambda$6389/0x7f31…@38e3…`, `[J@371c…`); this process's pid,
    * which names the temp stores some queries build; and the source line
    * of the call that made a scanned RDD (`localCheckpoint at
    * Dedup.scala:188`), which moves with any edit above that call while
    * the plan stays the same.
    */
  private def mask(plan: String): String =
    plan.replaceAll("#\\d+", "#N")
      .replaceAll("(lambda \\w+)_\\d+#N", "$1_N#N")
      .replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda")
      .replaceAll("@[0-9a-f]+", "@N")
      .replaceAll(s"_${ProcessHandle.current().pid()}\\b", "_PID")
      .replaceAll("( at \\w+\\.scala):\\d+", "$1:N")
}
