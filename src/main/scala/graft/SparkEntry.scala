package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.QuerySpec

/** The driver's view of the query registry: `QuerySpec.all`, one file per
  * query family under graft/queries, as the two maps Bench, Verify and
  * the probes read.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * aligned statistical windows over every stream at once — the core
    * BTrDB operation (AlignedWindows), fanned out across streams.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("ts_aligned_windows")(spark, "/root/testdata/sf0.001")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    QuerySpec.all.map(q => q.name -> q.build).toMap

  val oracleSql: Map[String, String] =
    QuerySpec.all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The queries called `names`, or every query when `names` is empty.
    * An unknown name throws, listing every unknown one.
    */
  def named(names: Seq[String]): Map[String, (SparkSession, String) => DataFrame] = {
    val unknown = names.filterNot(queries.contains).distinct
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    if (names.isEmpty) queries else queries.filter { case (n, _) => names.contains(n) }
  }
}
