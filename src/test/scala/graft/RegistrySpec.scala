package graft

import graft.queries.QuerySpec

/** The query registry: one QuerySpec per driver query, and the name lookup
  * the mains share.
  */
class RegistrySpec extends SparkSuite {

  test("the 229 query names are distinct and only the known pair has no oracle") {
    val names = QuerySpec.all.map(_.name)
    assert(names.size == 229 && names.distinct.size == 229)
    // a query added without an oracle lands here and fails
    val rowsOnly = QuerySpec.all.filter(_.oracle.isEmpty).map(_.name).toSet
    assert(rowsOnly == Set("emb_ann_ivf", "text_entropy"))
    assert(SparkEntry.oracleSql.size == 227 && SparkEntry.queries.size == 229)
    // and the flagship must be one of the declared queries' plans
    assert(SparkEntry.entry(spark).columns.nonEmpty)
  }

  test("named selects every query when empty and rejects unknown names") {
    assert(SparkEntry.named(Nil).keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.named(Seq("ts_dtw", "q3_join")).keySet == Set("ts_dtw", "q3_join"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.named(Seq("ts_dtw", "ts_dwt", "q99_join")))
    assert(e.getMessage.contains("ts_dwt") && e.getMessage.contains("q99_join"))
    assert(!e.getMessage.contains("ts_dtw"))
  }
}
