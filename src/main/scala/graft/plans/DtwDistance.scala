package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, MathUtils}
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.sql.types._

/** Codegen'd Dynamic Time Warping distance between two `array<bigint>`
  * profiles — the exact-integer inner kernel of `Downsample.dtwSimilar`.
  *
  * The classic O(n·m) DP with the symmetric step pattern: cell cost
  * |qᵢ − cⱼ|, row 1 the running cost sum, row boundary dp[i][1] =
  * cost + dp[i−1][1], interior dp[i][j] = cost + min(dp[i−1][j],
  * dp[i−1][j−1], dp[i][j−1]); the distance is the last cell of the last
  * row. Two primitive `long[]` rows plus null masks, O(m) memory.
  *
  * It replaced a nested `aggregate(...)` HOF fold that computed the same
  * value interpreted per cell and copied its `acc || array(...)`
  * accumulator at every cell (O(n·m²) per candidate). Values are the
  * fold's on every input it accepts, nulls and errors included:
  *  - the cost and every addition are exact: overflow raises
  *    `ARITHMETIC_OVERFLOW` (as the ANSI fold did) in every mode, since a
  *    wrapped distance would rank garbage;
  *  - a null cost makes its cell null; the min skips nulls like `least`
  *    and is null only when all three neighbours are;
  *  - row 1 is null from its first null cost onward, and its costs past
  *    that point are never computed (the fold's `+` short-circuits on a
  *    null left operand), so they cannot raise;
  *  - a null or empty array gives null (the fold raised on an empty one).
  */
case class DtwDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint> inputs, got ${l.sql} and ${r.sql}")
    }

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def prettyName: String = "dtw_distance"

  override def nullSafeEval(q: Any, c: Any): Any =
    DtwDistance.distance(q.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, c) => {
      val d = ctx.freshName("dtw")
      s"""
         |java.lang.Long $d = graft.plans.DtwDistance.distance($q, $c);
         |if ($d == null) { ${ev.isNull} = true; } else { ${ev.value} = $d; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DtwDistance {
  /** Column-API entry point: `dtw(col("qa"), col("ca"))`. */
  def dtw(qa: Column, ca: Column): Column =
    GraftSqlShim.column(DtwDistance(GraftSqlShim.expression(qa), GraftSqlShim.expression(ca)))

  /** The DP over query rows `q` and candidate columns `c`; null when the
    * last cell is null or either array is empty. */
  def distance(q: ArrayData, c: ArrayData): java.lang.Long = {
    val n = q.numElements()
    val m = c.numElements()
    if (n == 0 || m == 0) return null
    val cv = new Array[Long](m)
    val cNull = new Array[Boolean](m)
    var j = 0
    while (j < m) {
      cNull(j) = c.isNullAt(j)
      if (!cNull(j)) cv(j) = c.getLong(j)
      j += 1
    }
    var prev = new Array[Long](m)
    var prevNull = new Array[Boolean](m)
    var cur = new Array[Long](m)
    var curNull = new Array[Boolean](m)
    // row 1: the running cost sum, null from its first null cost onward
    val q0Null = q.isNullAt(0)
    val q0 = if (q0Null) 0L else q.getLong(0)
    j = 0
    while (j < m) {
      if (q0Null || cNull(j) || (j > 0 && prevNull(j - 1))) prevNull(j) = true
      else {
        val cost = absCost(q0, cv(j))
        prev(j) = if (j == 0) cost else MathUtils.addExact(prev(j - 1), cost)
      }
      j += 1
    }
    var i = 1
    while (i < n) {
      val qiNull = q.isNullAt(i)
      val qi = if (qiNull) 0L else q.getLong(i)
      j = 0
      while (j < m) {
        curNull(j) = true
        if (!qiNull && !cNull(j)) {
          val cost = absCost(qi, cv(j))
          // least(prev[j], prev[j−1], cur[j−1]), nulls skipped
          var has = !prevNull(j)
          var best = prev(j)
          if (j > 0) {
            if (!prevNull(j - 1) && (!has || prev(j - 1) < best)) { best = prev(j - 1); has = true }
            if (!curNull(j - 1) && (!has || cur(j - 1) < best)) { best = cur(j - 1); has = true }
          }
          if (has) {
            cur(j) = MathUtils.addExact(cost, best)
            curNull(j) = false
          }
        }
        j += 1
      }
      val t = prev; prev = cur; cur = t
      val tn = prevNull; prevNull = curNull; curNull = tn
      i += 1
    }
    if (prevNull(m - 1)) null else java.lang.Long.valueOf(prev(m - 1))
  }

  private def absCost(a: Long, b: Long): Long = {
    val d = MathUtils.subtractExact(a, b)
    if (d < 0) MathUtils.negateExact(d) else d
  }
}
