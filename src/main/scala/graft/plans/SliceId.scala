package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.sql.types._

/** Slice id of a long value against a sorted distinct cut array: the
  * number of cuts ≤ value — exactly the value of the old
  * `cuts.foldLeft(lit(0))((acc, c) => acc + when(v >= c, 1).otherwise(0))`
  * chain, as ONE binary search instead of a |cuts|-deep nested expression
  * tree. The fold form was O(|cuts|) PER ROW (at the campaign config —
  * AQE initialPartitionNum 2048 — that is 2047 branches per point, ~100 G
  * comparisons over a 50 M-point scan) and, worse, a |cuts|-deep
  * left-nested Column whose conversion overflowed the driver stack at
  * 2048 partitions, so the sliced-scan ts family could not run at all
  * under the decade settings. Values are identical: cuts are sorted and
  * distinct, so `count(c : c ≤ v)` is the Arrays.binarySearch insertion
  * point (exact hit → idx + 1).
  */
object SliceId {
  def sliceId(v: Column, cuts: Array[Long]): Column =
    GraftSqlShim.column(SliceIdExpr(GraftSqlShim.expression(v), cuts))

  /** count of cuts ≤ v over a sorted distinct long array. */
  def countLe(cuts: Array[Long], v: Long): Int = {
    val i = java.util.Arrays.binarySearch(cuts, v)
    if (i >= 0) i + 1 else -i - 1
  }
}

case class SliceIdExpr(child: Expression, cuts: Array[Long])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a bigint input, got ${child.dataType.sql}")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "slice_id"

  override def nullSafeEval(input: Any): Any =
    SliceId.countLe(cuts, input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sliceCuts", cuts, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.plans.SliceId.countLe($ref, $c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // the cuts compare and hash by content (a case-class Array field would
  // compare by reference) and print as their count and end points — a
  // campaign plan holds 2047 of them
  override def equals(other: Any): Boolean = other match {
    case o: SliceIdExpr => child == o.child && java.util.Arrays.equals(cuts, o.cuts)
    case _ => false
  }
  override def hashCode(): Int = 31 * child.hashCode() + java.util.Arrays.hashCode(cuts)
  override protected def stringArgs: Iterator[Any] = Iterator(child,
    if (cuts.isEmpty) "0 cuts" else s"${cuts.length} cuts ${cuts.head}..${cuts.last}")
}
