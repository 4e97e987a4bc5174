package graft

import org.apache.spark.sql.functions._

class ScaleUpSpec extends SparkSuite {
  private val copies = 3
  private lazy val full = { val d = tmpDir("scaleup-all"); ScaleUp.run(spark, sfDir, d, copies); d }
  private lazy val docsOnly = {
    val d = tmpDir("scaleup-docs"); ScaleUp.run(spark, sfDir, d, copies, Seq("documents")); d
  }
  private def tbl(dir: String, n: String) = spark.read.parquet(s"$dir/$n.parquet")
  private def rows(dir: String, n: String) = tbl(dir, n).count()

  private val keyed = Seq("events" -> "user_id", "documents" -> "doc_id",
    "embeddings" -> "vec_id", "lineitem" -> "l_orderkey")
  private val all = Seq("events", "documents", "embeddings", "lineitem", "orders",
    "customer", "part", "supplier", "nation", "region")

  test("replicated tables hold copies× the rows and copies× the distinct keys") {
    keyed.foreach { case (t, k) =>
      assert(rows(full, t) == copies * rows(sfDir, t), t)
      val keys = tbl(full, t).select(k).distinct().count()
      assert(keys == copies * tbl(sfDir, t).select(k).distinct().count(),
        s"$t.$k: a copy aliases another copy's keys")
    }
  }

  test("nation and region stay 1×") {
    Seq("nation", "region").foreach(t => assert(rows(full, t) == rows(sfDir, t), t))
  }

  test("a tables restriction copies every other table 1×") {
    assert(rows(docsOnly, "documents") == copies * rows(sfDir, "documents"))
    all.filterNot(_ == "documents").foreach(t =>
      assert(rows(docsOnly, t) == rows(sfDir, t), t))
  }

  test("embedding copies preserve each row's L2 norm") {
    val sq = expr("aggregate(embedding, 0D, (a, x) -> a + double(x) * double(x))")
    val src = tbl(sfDir, "embeddings").select(col("vec_id"), sq.as("n0"))
    val out = tbl(full, "embeddings")
      .select((col("vec_id") % 10000000L).as("vec_id"), sq.as("n1"))
    val joined = out.join(src, "vec_id")
    assert(joined.count() == copies * src.count())
    val worst = joined
      .agg(max(abs(col("n1") - col("n0")) / greatest(col("n0"), lit(1e-300)))).head().getDouble(0)
    assert(worst < 1e-9, s"relative squared-norm drift $worst")
  }
}
