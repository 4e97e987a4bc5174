package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [queryName...]")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    // extra args select a subset — local iteration only (the driver
    // always passes exactly two, dumping the full suite); an unknown
    // name throws before anything is written
    val queries = SparkEntry.named(args.drop(2).toSeq)
    // same session contract as Bench (GraftConf.local), so the
    // correctness dump exercises the exact partitioning regime the bench
    // measures — including the default regime, which sets NO
    // initialPartitionNum
    val spark = GraftConf.local()
    new java.io.File(outDir).mkdirs()
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    var failures = 0
    queries.foreach { case (name, fn) =>
      // drop any previous run's output FIRST: a query that throws must
      // leave nothing for the comparator to (wrongly) pass against
      rm(new java.io.File(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        e.printStackTrace()
      }
    }
    if (failures > 0)
      System.err.println(s"[verify] $failures queries failed")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => queries.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
