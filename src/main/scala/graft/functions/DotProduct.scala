package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** `graft_dot(a, b)`: dense dot product of two double arrays as a
  * native Catalyst expression with whole-stage codegen — the preferred
  * shape for a hot scalar kernel (brief: native `Expression` with
  * `doGenCode` beats a Scala UDF beats everything else). The
  * higher-order-function spelling `aggregate(zip_with(a, b, *), 0, +)`
  * evaluates interpreted lambdas per ELEMENT (two allocations + four
  * function calls per component); this compiles to one fused
  * primitive-double loop per ROW. Used by the ANN verify stages
  * (p08/p09/p14/p15) and norm computation, where millions of candidate
  * pairs × 64 components make the per-element overhead dominant.
  *
  * Null semantics match the `zip_with` spelling it replaces: a null
  * input array OR a null element within the clamped range yields NULL
  * (a product with null is null; summing it nulls the aggregate).
  * Lengths are clamped to the shorter input.
  */
final case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // ExpectsInputTypes is unavailable outside the sql package in
  // Spark 4 (AbstractDataType is private[sql]); check directly.
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(e => e.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elementsNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  })

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val acc = ctx.freshName("acc")
    val a = leftGen.value
    val b = rightGen.value
    // the null-element check compiles away when both array types
    // declare containsNull = false
    val elemNullCheck =
      if (elementsNullable)
        s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
      else ""
    ev.copy(code = code"""
      ${leftGen.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = 0.0;
      if (!${leftGen.isNull}) {
        ${rightGen.code}
        if (!${rightGen.isNull}) {
          ${ev.isNull} = false;
          int $n = java.lang.Math.min($a.numElements(), $b.numElements());
          double $acc = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            $elemNullCheck
            $acc += $a.getDouble($i) * $b.getDouble($i);
          }
          if (!${ev.isNull}) {
            ${ev.value} = $acc;
          }
        }
      }
    """, isNull = if (nullable) ev.isNull else FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}
