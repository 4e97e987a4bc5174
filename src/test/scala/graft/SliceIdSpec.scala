package graft

import org.apache.spark.sql.functions._

/** Pins graft.plans.SliceId (the r17 binary-search slice id) against the
  * nested-when fold form it replaced in TimeSeriesOps.timeSliced —
  * value-identical including exact-cut hits, out-of-range values, and
  * the null→0 contract.
  */
class SliceIdSpec extends SparkSuite {
  import spark.implicits._

  test("SliceId equals the nested-when fold (count of cuts <= v)") {
    val cuts = Array(-50L, 0L, 3L, 1000L, 999999L)
    val rng = new scala.util.Random(42)
    val vals: Seq[java.lang.Long] =
      (cuts.map(java.lang.Long.valueOf) ++
        cuts.map(c => java.lang.Long.valueOf(c - 1)) ++
        cuts.map(c => java.lang.Long.valueOf(c + 1)) ++
        Seq[java.lang.Long](Long.MinValue, Long.MaxValue, null) ++
        Seq.fill(500)(java.lang.Long.valueOf(rng.nextLong() % 2000000))).toSeq
    val df = vals.toDF("t_us")
    val fold = cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(col("t_us") >= c, 1).otherwise(0) }
    val diff = df
      .withColumn("a", fold)
      .withColumn("b", coalesce(graft.plans.SliceId.sliceId(col("t_us"), cuts), lit(0)))
      .filter(col("a") =!= col("b"))
      .count()
    assert(diff == 0L)
  }

  test("slice ids stay identical on the events points frame") {
    // the real consumer shape: cuts from approxQuantile over t_us, both
    // forms applied to the whole frame
    val pts = Tables.points(spark, sfDir)
    val cuts = pts.stat.approxQuantile("t_us", Array(0.25, 0.5, 0.75), 0.01)
      .map(math.ceil(_).toLong).distinct.sorted
    val fold = cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(col("t_us") >= c, 1).otherwise(0) }
    val diff = pts
      .withColumn("a", fold)
      .withColumn("b", coalesce(graft.plans.SliceId.sliceId(col("t_us"), cuts), lit(0)))
      .filter(col("a") =!= col("b"))
      .count()
    assert(diff == 0L)
  }

  test("slice_id compares and prints its cuts by value") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.LongType
    val t = AttributeReference("t_us", LongType)()
    val a = graft.plans.SliceIdExpr(t, Array(-5L, 0L, 7L))
    val b = graft.plans.SliceIdExpr(t, Array(-5L, 0L, 7L))
    assert(a.semanticEquals(b) && a.hashCode == b.hashCode && a.semanticHash() == b.semanticHash())
    assert(!a.semanticEquals(graft.plans.SliceIdExpr(t, Array(-5L, 0L, 8L))))
    // the plan names the cut count and its end points, not an array identity
    val plan = spark.range(3).select(col("id").as("t_us"))
      .select(graft.plans.SliceId.sliceId(col("t_us"), Array(-5L, 0L, 7L)).as("s"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("3 cuts -5..7") && !plan.contains("[J@"), plan)
  }
}
