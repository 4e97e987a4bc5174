package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, TimestampNTZType, TimestampType}

/** Optimizer rule: derive parquet-pushable bounds from comparisons on
  * derived epoch-time expressions.
  *
  * The canonical time axis `t_us` is DERIVED from the raw `ts` column —
  * `ts DIV 1000` when the parquet stores epoch-ns longs, or
  * `unix_micros(ts)` when it stores timestamps. A predicate like
  * `t_us >= T` therefore sits on an expression, the parquet scan pushes
  * nothing on the time axis, and every time-range query reads every row
  * group — at 100 TB the time filter is precisely the one that must
  * prune. Two inversions restore the raw-column bound:
  *
  * `unix_micros` is EXACTLY invertible (TimestampType stores epoch µs;
  * a UTC-cast TIMESTAMP_NTZ is bit-identity on the stored µs), so each
  * comparison maps 1:1 onto the raw timestamp column.
  *
  * Truncating `DIV` by a positive constant implies a one-step-wider
  * bound on the raw column:
  *
  *   c div d >= v  ⟹  c >= v*d − (d−1)
  *   c div d >  v  ⟹  c >= v*d + 1
  *   c div d <= v  ⟹  c <= v*d + (d−1)
  *   c div d <  v  ⟹  c <= v*d − 1
  *   c div d ==  v ⟹  both of the = bounds above
  *
  * (bounds are valid for ALL long c, including negatives, because they are
  * deliberately one truncation-step wider than the exact positive-c
  * inverse). The implied conjunct is ADDED, never substituted — the
  * original predicate still filters exactly; the new one exists so the
  * datasource can translate it into row-group pruning + a scan PushedFilter
  * on the raw column. Conjuncts already present are not re-added, so the
  * rule is a fixpoint no-op after one application.
  */
object DivComparisonBounds extends Rule[LogicalPlan] with PredicateHelper {

  private def longLit(e: Expression): Option[Long] = e match {
    case Literal(v: Long, LongType)     => Some(v)
    case Literal(v: Int, IntegerType)   => Some(v.toLong)
    case Literal(v: Short, ShortType)   => Some(v.toLong)
    case Literal(v: Byte, ByteType)     => Some(v.toLong)
    case Cast(inner, LongType, _, _)    => longLit(inner)
    case _ => None
  }

  private def mul(a: Long, b: Long): Option[Long] =
    try Some(Math.multiplyExact(a, b)) catch { case _: ArithmeticException => None }
  private def add(a: Long, b: Long): Option[Long] =
    try Some(Math.addExact(a, b)) catch { case _: ArithmeticException => None }

  private def lower(c: Expression, d: Long, lo: Long): Expression =
    GreaterThanOrEqual(c, Literal(lo, LongType))
  private def upper(c: Expression, d: Long, hi: Long): Expression =
    LessThanOrEqual(c, Literal(hi, LongType))

  /** The (child, divisor) of a `div` by a positive integral literal. */
  private object DivByConst {
    def unapply(e: Expression): Option[(Expression, Long)] = e match {
      case IntegralDivide(c, dl, _) => longLit(dl).filter(_ > 0).map((c, _))
      case _ => None
    }
  }

  private def isUtc(tz: Option[String]): Boolean = tz.exists { s =>
    try java.time.ZoneId.of(s).normalized() == java.time.ZoneOffset.UTC
    catch { case _: java.time.DateTimeException => false }
  }

  /** The raw column behind an exactly-invertible epoch-µs projection,
    * plus the literal constructor mapping a µs bound back onto it:
    * `unix_micros(ts: TIMESTAMP)` (µs-stored, timezone-independent) or
    * `unix_micros(CAST(ts: TIMESTAMP_NTZ AS TIMESTAMP))` under a UTC
    * session zone (bit-identity on the stored µs — any other zone shifts
    * the mapping, so the inversion is declined there). Cast-rooted
    * children are confined to that first case: without the guard below,
    * a non-UTC NTZ cast would fall through to the plain-TIMESTAMP case
    * (the Cast itself has TimestampType) and add an exact but
    * Cast-rooted — hence never pushable — redundant conjunct.
    */
  private object MicrosOf {
    def unapply(e: Expression): Option[(Expression, Long => Literal)] = e match {
      case UnixMicros(Cast(inner, TimestampType, tz, _))
          if inner.dataType == TimestampNTZType && isUtc(tz) =>
        Some((inner, v => Literal(v, TimestampNTZType)))
      case UnixMicros(c) if c.dataType == TimestampType && !c.isInstanceOf[Cast] =>
        Some((c, v => Literal(v, TimestampType)))
      case _ => None
    }
  }

  private def implied(conjunct: Expression): Seq[Expression] = conjunct match {
    // exact unix_micros inversions — checked before the div cases so a
    // wrapped comparison resolves once, by the tighter rule
    case GreaterThanOrEqual(MicrosOf(c, tsLit), vl) =>
      longLit(vl).map(v => GreaterThanOrEqual(c, tsLit(v))).toSeq
    case GreaterThan(MicrosOf(c, tsLit), vl) =>
      longLit(vl).map(v => GreaterThan(c, tsLit(v))).toSeq
    case LessThanOrEqual(MicrosOf(c, tsLit), vl) =>
      longLit(vl).map(v => LessThanOrEqual(c, tsLit(v))).toSeq
    case LessThan(MicrosOf(c, tsLit), vl) =>
      longLit(vl).map(v => LessThan(c, tsLit(v))).toSeq
    case EqualTo(MicrosOf(c, tsLit), vl) =>
      longLit(vl).map(v => EqualTo(c, tsLit(v))).toSeq
    // literal-on-left variants (v OP unix_micros(c)) — mirror the comparison
    case GreaterThanOrEqual(vl, MicrosOf(c, tsLit)) =>
      longLit(vl).map(v => LessThanOrEqual(c, tsLit(v))).toSeq
    case GreaterThan(vl, MicrosOf(c, tsLit)) =>
      longLit(vl).map(v => LessThan(c, tsLit(v))).toSeq
    case LessThanOrEqual(vl, MicrosOf(c, tsLit)) =>
      longLit(vl).map(v => GreaterThanOrEqual(c, tsLit(v))).toSeq
    case LessThan(vl, MicrosOf(c, tsLit)) =>
      longLit(vl).map(v => GreaterThan(c, tsLit(v))).toSeq
    case EqualTo(vl, MicrosOf(c, tsLit)) =>
      longLit(vl).map(v => EqualTo(c, tsLit(v))).toSeq
    case GreaterThanOrEqual(DivByConst(c, d), vl) =>
      longLit(vl).toSeq.flatMap(v => mul(v, d).flatMap(p => add(p, -(d - 1))).map(lower(c, d, _)))
    case GreaterThan(DivByConst(c, d), vl) =>
      longLit(vl).toSeq.flatMap(v => mul(v, d).flatMap(p => add(p, 1)).map(lower(c, d, _)))
    case LessThanOrEqual(DivByConst(c, d), vl) =>
      longLit(vl).toSeq.flatMap(v => mul(v, d).flatMap(p => add(p, d - 1)).map(upper(c, d, _)))
    case LessThan(DivByConst(c, d), vl) =>
      longLit(vl).toSeq.flatMap(v => mul(v, d).flatMap(p => add(p, -1)).map(upper(c, d, _)))
    case EqualTo(DivByConst(c, d), vl) =>
      longLit(vl).toSeq.flatMap { v =>
        mul(v, d).toSeq.flatMap(p =>
          add(p, -(d - 1)).map(lower(c, d, _)).toSeq ++
            add(p, d - 1).map(upper(c, d, _)).toSeq)
      }
    // literal-on-left variants (v OP (c div d)) — mirror the comparison
    case GreaterThanOrEqual(vl, DivByConst(c, d)) => implied(LessThanOrEqual(IntegralDivide(c, Literal(d, LongType)), vl))
    case GreaterThan(vl, DivByConst(c, d))        => implied(LessThan(IntegralDivide(c, Literal(d, LongType)), vl))
    case LessThanOrEqual(vl, DivByConst(c, d))    => implied(GreaterThanOrEqual(IntegralDivide(c, Literal(d, LongType)), vl))
    case LessThan(vl, DivByConst(c, d))           => implied(GreaterThan(IntegralDivide(c, Literal(d, LongType)), vl))
    case EqualTo(vl, DivByConst(c, d))            => implied(EqualTo(IntegralDivide(c, Literal(d, LongType)), vl))
    case _ => Seq.empty
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val extra = conjuncts.flatMap(implied)
        .filterNot(e => conjuncts.exists(_.semanticEquals(e)))
        .distinct
      if (extra.isEmpty) f
      else Filter((conjuncts ++ extra).reduce(And), child)
  }
}
