package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** ns/row of graft's hand-written kernels through their SQL functions,
  * each over a fixed seeded cached frame, minus an identity-projection
  * baseline over the same frame and the same aggregate shape. The cheap
  * vector kernel runs over the frame repeated `VecRepeat` times, so that
  * its compute dominates the per-query overhead.
  */
object Kernels {
  val Rows = 200000L
  val VecRepeat = 20
  val Reps = 3

  def run(spark: SparkSession): Seq[(String, Double)] = {
    val words = array(Seq("spark", "hash", "scan", "value", "stream", "merge", "data", "key",
      "join", "sort", "group", "window").map(lit): _*)
    val frame = spark.range(Rows).select(
      concat_ws(" ", transform(sequence(lit(1), lit(40)), j =>
        element_at(words, (pmod(xxhash64(col("id"), j), lit(12L)) + 1).cast("int")))).as("norm"),
      transform(sequence(lit(0), lit(63)), j =>
        (pmod(xxhash64(col("id"), j, lit(1)), lit(2001L)) / 1000.0 - 1.0).cast("float")).as("a"),
      transform(sequence(lit(0), lit(63)), j =>
        (pmod(xxhash64(col("id"), j, lit(2)), lit(2001L)) / 1000.0 - 1.0).cast("float")).as("b"))
      .repartition(spark.sparkContext.defaultParallelism).cache()
    frame.count()
    frame.createOrReplaceTempView("graftbench_kernel_rows")
    /** Median ns per row of `agg` over the frame repeated `times` times. */
    def nsPerRow(agg: String, times: Int = 1): Double = (1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      spark.sql(s"SELECT $agg FROM graftbench_kernel_rows CROSS JOIN range($times)").collect()
      (System.nanoTime() - t0).toDouble / (Rows * times)
    }.sorted.apply(Reps / 2)
    val textBase = nsPerRow("sum(length(norm))")
    val out = Seq(
      "plans.fvec_dot_ns_per_row" -> (nsPerRow("sum(fvec_dot(a, b))", VecRepeat) -
        nsPerRow("sum(size(a) + size(b))", VecRepeat)),
      "plans.minhash_sig_ns_per_row" -> (nsPerRow("sum(size(minhash_sig(norm, 3, 64)))") - textBase),
      "plans.simhash_sig_ns_per_row" -> (nsPerRow("max(simhash_sig(norm))") - textBase),
      "plans.hashed_shingles_ns_per_row" -> (nsPerRow("sum(size(hashed_shingles(norm, 3)))") - textBase))
    frame.unpersist(blocking = true)
    out
  }
}
