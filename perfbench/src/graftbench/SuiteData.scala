package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Writes a dataset with the schema and row counts of the repository's sf
  * test tables (TPC-H-like star schema plus events, documents and embeddings)
  * at scale factor `sf`, each table one parquet file in the directory
  * `<dir>/<name>.parquet`. Every value is a hash of (row id, column salt,
  * data seed), so the tables do not depend on partitioning and the same
  * seed writes the same bytes of data.
  */
object SuiteData {
  private val Vocab = Seq("batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "a", "hash", "slow", "group", "agg", "filter", "query", "big",
    "key", "window", "row", "table", "stream", "merge", "data", "vector", "join", "the",
    "customer")

  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    def n(base: Long) = math.max(1L, (base * sf / 0.1).toLong)
    def u(salt: Int): Column = pmod(xxhash64(col("id"), lit(salt), lit(seed)), lit(1000000007L))
    def pick(salt: Int, m: Long): Column = pmod(xxhash64(col("id"), lit(salt), lit(seed)), lit(m))
    def oneOf(salt: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (pick(salt, xs.size) + 1).cast("int"))
    def money(salt: Int, lo: Double, hi: Double): Column =
      round(lit(lo) + u(salt) / 1000000007.0 * (hi - lo), 2)
    def day(salt: Int, from: String, days: Long): Column =
      to_timestamp(date_add(lit(from).cast("date"), pick(salt, days).cast("int")))
    val tables = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame)]
    def out(name: String, df: DataFrame): Unit = tables += name -> df

    val nCust = n(15000); val nSupp = n(1000); val nPart = n(20000); val nOrd = n(150000)
    import spark.implicits._
    out("region", Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name"))
    out("nation", (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"))
    out("customer", spark.range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pick(1, 25).cast("int").as("c_nationkey"), money(2, -999.99, 9999.99).as("c_acctbal"),
      oneOf(3, Seq("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"))
        .as("c_mktsegment")))
    out("supplier", spark.range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pick(4, 25).cast("int").as("s_nationkey"), money(5, -999.99, 9999.99).as("s_acctbal")))
    out("part", spark.range(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ", oneOf(6, Seq("large", "hot", "blue", "small", "red", "green", "cold")),
        oneOf(7, Seq("ring", "bolt", "nut", "gear", "pipe", "valve"))).as("p_name"),
      concat(lit("Brand#"), (pick(8, 25) + 1).cast("string")).as("p_brand"),
      oneOf(9, Seq("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")).as("p_type"),
      (pick(10, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(col("id"), lit(1000L)) / 10.0).as("p_retailprice")))
    out("orders", spark.range(nOrd).select(col("id").as("o_orderkey"),
      pick(11, nCust).as("o_custkey"), oneOf(12, Seq("O", "F", "P")).as("o_orderstatus"),
      money(13, 1000.0, 500000.0).as("o_totalprice"),
      day(14, "1995-01-01", 2404).as("o_orderdate"),
      oneOf(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    out("lineitem", spark.range(n(600000)).select(pick(16, nOrd).as("l_orderkey"),
      pick(17, nPart).as("l_partkey"), pick(18, nSupp).as("l_suppkey"),
      (pick(19, 7) + 1).cast("int").as("l_linenumber"),
      (pick(20, 50) + 1).cast("double").as("l_quantity"),
      money(21, 900.0, 100000.0).as("l_extendedprice"),
      (pick(22, 11) / 100.0).as("l_discount"), (pick(23, 9) / 100.0).as("l_tax"),
      oneOf(24, Seq("A", "N", "R")).as("l_returnflag"), oneOf(25, Seq("O", "F")).as("l_linestatus"),
      day(26, "1995-01-02", 2497).as("l_shipdate")))
    // events: 30 days of January 2024 in event_id order
    val nEv = n(100000)
    val stepUs = 30L * 86400000000L / nEv
    out("events", spark.range(nEv).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * stepUs + pick(27, stepUs)).as("ts"),
      pick(28, 1500).as("user_id"),
      oneOf(29, Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
      round(-log((u(30) + 1) / 1000000008.0) * 80.0, 2).as("value"),
      format_string("{\"k\": %d}", pick(31, 100)).as("props")))
    // documents: words of a small vocabulary; one in 25 is a near copy of
    // an earlier document with one word changed, one in 600 an exact copy
    val nDoc = n(5000)
    val words = array(Vocab.map(lit): _*)
    def text(idc: Column): Column = concat_ws(" ", transform(
      sequence(lit(1), (pmod(xxhash64(idc, lit(32), lit(seed)), lit(93L)) + 8).cast("int")),
      j => element_at(words, (pmod(xxhash64(idc, j, lit(33), lit(seed)), lit(Vocab.size.toLong))
        + 1).cast("int"))))
    val src = pmod(xxhash64(col("id"), lit(34), lit(seed)), greatest(col("id"), lit(1L)))
    val docText =
      when(pick(35, 600) === 0 && col("id") > 0, text(src))
        .when(pick(36, 25) === 0 && col("id") > 0,
          regexp_replace(text(src), lit("^[a-z]+"), oneOf(37, Vocab)))
        .otherwise(text(col("id")))
    out("documents", spark.range(nDoc).select(col("id").as("doc_id"), docText.as("text"),
      when(pick(38, 100) < 41, "en").otherwise(oneOf(39, Seq("zh", "de", "fr", "es"))).as("lang"),
      concat(lit("src"), pmod(col("id"), lit(20L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    // embeddings: 64-d float vectors around one of ten label centroids
    val label = pick(40, 10)
    out("embeddings", spark.range(n(2000)).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        ((pmod(xxhash64(label, j, lit(41), lit(seed)), lit(2001L)) - 1000) / 5000.0 +
          (pmod(xxhash64(col("id"), j, lit(42), lit(seed)), lit(2001L)) - 1000) / 20000.0)
          .cast("float")).as("embedding"),
      label.cast("int").as("label")))

    // each table is one single-file (single-task) write: run them side by side
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      spark.sparkContext.defaultParallelism)
    try tables.map { case (name, df) =>
      pool.submit(new Runnable {
        def run(): Unit = df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
      })
    }.foreach(_.get())
    finally pool.shutdown()
  }
}
