package graft

/** The custom expressions registered as SQL functions behave identically
  * to their Column-API forms (GraftExtensions.injectFunction).
  */
class SqlFunctionsSpec extends SparkSuite {

  test("fvec_dot computes the double dot product in SQL") {
    val r = spark.sql(
      "SELECT fvec_dot(array(CAST(1.5 AS FLOAT), CAST(2 AS FLOAT)), " +
        "array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))) AS d").head().getDouble(0)
    assert(r == 1.5 * 3 + 2 * 4)
  }

  test("dtw_distance in SQL equals the Column-API value; null or empty gives null") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val profiles = Seq(
      (Seq(1L, 5L, 2L, 8L), Seq(0L, 6L, 6L, 1L, 9L)),
      (Seq(3L), Seq(-4L, 2L)),
      (Seq(7L, 7L, 7L), Seq(7L)))
    val df = profiles.toDF("qa", "ca")
    df.createOrReplaceTempView("dtw_profiles")
    val viaSql = spark.sql("SELECT dtw_distance(qa, ca) FROM dtw_profiles")
      .collect().map(_.getLong(0)).toSeq
    val viaCol = df.select(graft.plans.DtwDistance.dtw(col("qa"), col("ca")))
      .collect().map(_.getLong(0)).toSeq
    assert(viaSql == viaCol)
    assert(viaSql == Seq(5L, 8L, 0L)) // |1−0|+|5−6|+|5−6|+|2−1|+|8−9|; 7+1; 0
    val nulls = spark.sql(
      """SELECT dtw_distance(CAST(NULL AS array<bigint>), array(1L)) IS NULL,
        |       dtw_distance(array(1L), CAST(array() AS array<bigint>)) IS NULL,
        |       dtw_distance(CAST(array() AS array<bigint>), array(1L)) IS NULL
        |""".stripMargin).head()
    assert((0 until 3).forall(nulls.getBoolean), nulls)
  }

  test("minhash_sig / hashed_shingles / sorted_intersect_count compose in SQL") {
    val row = spark.sql(
      """SELECT size(minhash_sig('a b c d e', 3, 16)) AS k,
        |       sorted_intersect_count(hashed_shingles('a b c d', 3),
        |                              hashed_shingles('b c d e', 3)) AS inter,
        |       size(hashed_shingles('a b c d', 3)) AS n
        |""".stripMargin).head()
    assert(row.getInt(0) == 16)
    assert(row.getLong(1) == 1L) // shared shingle: "b c d"
    assert(row.getInt(2) == 2)
    // short document: fewer than n words -> null signature
    assert(spark.sql("SELECT minhash_sig('a b', 3, 8) IS NULL AS x").head().getBoolean(0))
  }

  test("a TVF over a missing view fails as an analysis error naming the arg") {
    // the view argument resolves against the ACTIVE session's catalog at
    // function-resolution time; a miss must surface as an
    // AnalysisException pointing at the TVF argument, not a builder crash
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_raw_values('no_such_view_xyz', 'uuid', 0, 10)")
        .collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    val ae = chain(e).collectFirst {
      case a: org.apache.spark.sql.AnalysisException => a }
    assert(ae.isDefined, s"expected an AnalysisException in ${chain(e).map(_.getClass)}")
    assert(ae.get.getMessage.contains("no_such_view_xyz"), ae.get.getMessage)
  }

  test("simhash_sig in SQL equals the Column-API value") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val viaSql = spark.sql("SELECT simhash_sig('the quick brown fox') AS s")
      .head().getLong(0)
    val viaCol = Seq("the quick brown fox").toDF("norm")
      .select(graft.plans.TextHashes.simhashSig(col("norm")))
      .head().getLong(0)
    assert(viaSql == viaCol)
  }
}
