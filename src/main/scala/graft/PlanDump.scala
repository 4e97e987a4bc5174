package graft
import org.apache.spark.sql.execution.ExplainMode

/** Dev-loop plan auditor: print the FINAL adaptive physical plan of named
  * SparkEntry queries (the `.explain` loop the build rule prescribes).
  * Usage: runMain graft.PlanDump <sfDir> [query ...] (no names = all).
  * SPARK_GRAFT_PLAN_DIR=<dir>: additionally write each query's
  * `.explain("formatted")` output (the pre-execution plan with PushedFilters/
  * ReadSchema/codegen spans — the optimization-round deliverable shape) to
  * <dir>/<query>.txt.
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
          val formatted = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
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
}
