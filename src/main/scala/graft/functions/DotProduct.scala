package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** `graft_dot(a, b)`: dense dot product of two double arrays, a static
  * kernel registered through StaticInvoke (a direct call inside
  * whole-stage codegen). The higher-order-function spelling
  * `aggregate(zip_with(a, b, *), 0, +)` evaluates interpreted lambdas
  * per ELEMENT (two allocations + four function calls per component);
  * this is one primitive-double loop per ROW. Used by the ANN verify
  * stages (p08/p09/p14/p15) and norm computation, where millions of
  * candidate pairs × 64 components make the per-element overhead
  * dominant.
  *
  * Null semantics match the `zip_with` spelling it replaces: a null
  * input array OR a null element within the clamped range yields NULL
  * (a product with null is null; summing it nulls the aggregate).
  * Lengths are clamped to the shorter input.
  */
object DotProduct {

  /** The kernel. Null arrays never reach it (StaticInvoke propagates
    * them); a null element returns null, which StaticInvoke turns
    * into SQL NULL under `returnNullable`. */
  def dot(x: ArrayData, y: ArrayData): java.lang.Double = {
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
}
