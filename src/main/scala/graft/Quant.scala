package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-deterministic quantization for every float the engine
  * emits — the rounding contract shared with the DuckDB oracle.
  *
  * Why not plain `round(x, 6)`: Spark rounds a double by converting its
  * shortest decimal string to BigDecimal and applying HALF_UP, while
  * DuckDB multiplies by 10^s in floating point and calls C `round`. For
  * arbitrary doubles the two agree, but when the TRUE value sits exactly
  * on a half-microunit boundary — which is systematic for ratios of
  * integers and for means of already-quantized values, not a freak event —
  * the engines land on opposite sides and differ by exactly 1e-6.
  *
  * At scale 0 the discrepancy vanishes: both engines round the very same
  * double half-away-from-zero with no pre-scaling error. So the contract
  * is: scale to integer micro-units, round at scale 0, scale back. The
  * trailing `+ 0.0` collapses IEEE -0.0 to +0.0 (DuckDB's float path
  * emits signed zeros; Spark's BigDecimal path never does).
  *
  * Means go further: quantize each input to exact integer micro-units
  * (`us6`), sum as longs — exact and associative, so the result is
  * independent of partial-aggregation order AND exactly re-aggregable
  * across rollup levels — then round once at scale 0. The statpoint that
  * carries these sums (its `v_*` columns, the µ-unit sum and the mean6
  * rounding) is defined once, in graft.ts.TimeSeriesOps' node algebra
  * (statAgg, statPartial); the raw reads, graft.ts.Rollup and
  * graft.streaming.Ingest all fold through it.
  *
  * Overflow bound: a LONG micro-unit sum overflows past 9.2e18 (under
  * Spark 4's ANSI mode the aggregate throws ARITHMETIC_OVERFLOW),
  * i.e. max|value| × points-per-group must stay under 9.2e12 — ample
  * for WINDOWED groups (a 2^32-µs window of ns-rate data holds ~4e3
  * points even at 1 kHz × |value|≤1e6), but NOT for unbounded groups:
  * whole-stream aggregates (TimeSeriesOps.statsGlobal) cast the
  * micro-units to DECIMAL(38,0) before summing — exact to 10^38, and
  * the decimal→double cast rounds to nearest exactly like DuckDB's
  * HUGEINT→DOUBLE, so the contract is preserved. Any new operator
  * summing an unbounded group must do the same.
  */
object Quant {

  /** Deterministic 6-dp quantization of a double both engines agree on.
    * DuckDB mirror: `round((x) * 1000000.0, 0) / 1000000.0 + 0`.
    */
  def q6(c: Column): Column = round(c * 1e6, 0) / 1e6 + lit(0d)

  /** Exact integer micro-units of a double (bit-identical across engines).
    * DuckDB mirror: `CAST(round((x) * 1000000.0, 0) AS BIGINT)`.
    */
  def us6(c: Column): Column = round(c * 1e6, 0).cast("long")

  /** The value domain: us6 of a finite |value| <= MaxAbs fits a long,
    * while NaN, ±Inf or a larger magnitude throws CAST_OVERFLOW in every
    * statpoint read of its stream. checkDomain(c) is `c`, or for a value
    * outside the domain (NaN too: Spark orders it above every double) an
    * error naming the domain; the store applies it to every write.
    */
  val MaxAbs = 9.2e12
  def checkDomain(c: Column): Column =
    when(!(abs(c) <= MaxAbs), raise_error(concat(lit(
      s"value outside the domain of graft.Quant.us6 (finite, |value| <= $MaxAbs): "),
      c.cast("string")))).otherwise(c)

  /** Deterministic 6-dp mean from an exact micro-unit sum and a count.
    * DuckDB mirror: `round(CAST(sum_us AS DOUBLE) / n, 0) / 1000000.0 + 0`.
    */
  def mean6(sumUs: Column, n: Column): Column =
    round(sumUs.cast("double") / n, 0) / 1e6 + lit(0d)

  /** Exact micro-unit SUM aggregate for an UNBOUNDED group (whole-stream
    * or SF-scaled aggregates): DECIMAL(38,0) accumulation — a long sum
    * throws ARITHMETIC_OVERFLOW past 9.2e18 under ANSI mode, while the
    * DuckDB oracle's sum(BIGINT) promotes to HUGEINT. Feed the result to
    * mean6 (the decimal→double cast rounds nearest on both engines).
    * Windowed groups can keep the cheaper long sum — see the bound above.
    */
  def sumUs6Unbounded(c: Column): Column =
    sum(us6(c).cast("decimal(38,0)"))
}
