package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its Spark build over an SF dir and, beside it, the
  * DuckDB SQL the oracle gate compares its output with. `oracle = None`
  * marks a rows-only query; the reason is written next to it.
  */
private[graft] final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Driver contract — see SURVEY.md §2 for the operator inventory each
  * spec implements, and the reference citations in the implementing
  * objects (graft.ts.*, graft.text.*, graft.sim.*).
  *
  * Every build has a deterministic total order (orderBy over enough
  * columns) mirrored by an ORDER BY in its oracle; every emitted float
  * goes through the graft.Quant contract (exact integer micro-unit sums +
  * scale-0 rounding, mirrored by Q6/US6/MEAN6) so both gate engines agree
  * bit-for-bit — plain round(x, 6) systematically diverges on
  * half-microunit boundaries; min/max stay unrounded (order-insensitive,
  * bit-exact).
  * Time axis is epoch microseconds everywhere: Spark `unix_micros` and
  * DuckDB `epoch_us` truncate the parquet ns timestamps identically.
  */
private[graft] object QuerySpec {
  lazy val all: Seq[QuerySpec] = {
    val specs = TsQueries.specs ++ EmbQueries.specs ++ TextQueries.specs ++
      MmQueries.specs ++ TpchQueries.specs
    val dups = specs.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(dups.isEmpty, s"query names defined more than once: ${dups.toSeq.sorted.mkString(", ")}")
    specs
  }
}
