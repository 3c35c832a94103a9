package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType}

/** Membership test against a SORTED ARRAY<BIGINT> via binary search —
  * O(log n) per probe where `array_contains` scans O(n).
  *
  * Used for the boilerplate heavy-hitter set: the rebuild probes the set
  * once per line per document, so a corpus that yields thousands of shared
  * lines turns the linear scan into lines × |boiler| work. The caller must
  * sort the array ascending (`sort_array`) — this expression assumes it and
  * does not verify. Null elements never match: ascending `sort_array` puts
  * them first, so when the array type admits nulls the search starts after
  * the leading null run (the boiler set is built from non-null hashes and
  * typed non-null, so production probes skip that scan). */
case class SortedArrayContains(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), LongType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<BIGINT> sorted, BIGINT), " +
          s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

  override def dataType: DataType = BooleanType

  override def prettyName: String = "sorted_array_contains"

  @transient private lazy val mayHaveNulls: Boolean =
    left.dataType.asInstanceOf[ArrayType].containsNull

  override protected def nullSafeEval(arr: Any, v: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    val x = v.asInstanceOf[Long]
    var lo = 0
    if (mayHaveNulls) while (lo < a.numElements() && a.isNullAt(lo)) lo += 1
    var hi = a.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val m = a.getLong(mid)
      if (m == x) return true
      else if (m < x) lo = mid + 1
      else hi = mid - 1
    }
    false
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, v) => {
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid")
      val m = ctx.freshName("m")
      val skipNulls =
        if (mayHaveNulls) s"while ($lo < $a.numElements() && $a.isNullAt($lo)) { $lo++; }"
        else ""
      s"""
         |int $lo = 0;
         |$skipNulls
         |int $hi = $a.numElements() - 1;
         |${ev.value} = false;
         |while ($lo <= $hi) {
         |  final int $mid = ($lo + $hi) >>> 1;
         |  final long $m = $a.getLong($mid);
         |  if ($m == $v) { ${ev.value} = true; break; }
         |  else if ($m < $v) { $lo = $mid + 1; }
         |  else { $hi = $mid - 1; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedArrayContains =
    copy(left = newLeft, right = newRight)
}
