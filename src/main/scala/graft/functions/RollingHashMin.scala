package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_rollhash_min(s)`: minimum Rabin–Karp polynomial hash over
  * all 8-byte windows of `s` — a winnowing-style document sketch
  * (one value per document, robust to local edits) computed with the
  * true O(n) ROLLING update `h' = (h - b₀·B⁷)·B + b₈` instead of
  * rehashing every window. Parameters are chosen so the arithmetic
  * never overflows and needs no modulus: base B = 31, window w = 8,
  * byte values < 256 keep every window hash ≤ 255·Σ31ʲ < 2⁴⁶ and the
  * rolling intermediate below 2⁵¹ — exactly representable in BIGINT
  * AND float64, so a SQL oracle can recompute the same values
  * positionally (O(n·w) there) with plain integer arithmetic.
  *
  * Strings shorter than the window hash their full length (same
  * positional formula), so the result is total. Operates on UTF-8
  * BYTES (the corpus contract is ASCII; byte-level is what a
  * fingerprint over raw training data does anyway).
  *
  * Native codegen kernel per the custom-operator preference order:
  * the higher-order-function spelling pays an interpreted lambda per
  * window; this is one fused loop per row.
  */
final case class RollingHashMin(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_rollhash_min expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    RollingHashMin.minHash(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.RollingHashMin.minHash($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): RollingHashMin =
    copy(child = newChild)

  override def prettyName: String = "graft_rollhash_min"
}

object RollingHashMin {
  final val Base = 31L
  final val Window = 8
  /** B^(w-1): the coefficient of the outgoing byte. */
  final val TopPow: Long = {
    var p = 1L
    var i = 0
    while (i < Window - 1) { p *= Base; i += 1 }
    p
  }

  /** The kernel: O(n) rolling min over all `Window`-byte windows;
    * inputs shorter than the window hash once over their full
    * length. Called from both interpreted eval and generated code. */
  def minHash(b: Array[Byte]): Long = {
    val n = b.length
    if (n <= Window) {
      var h = 0L
      var i = 0
      while (i < n) { h = h * Base + (b(i) & 0xff); i += 1 }
      return h
    }
    var h = 0L
    var i = 0
    while (i < Window) { h = h * Base + (b(i) & 0xff); i += 1 }
    var min = h
    while (i < n) {
      h = (h - (b(i - Window) & 0xff) * TopPow) * Base + (b(i) & 0xff)
      if (h < min) min = h
      i += 1
    }
    min
  }
}
