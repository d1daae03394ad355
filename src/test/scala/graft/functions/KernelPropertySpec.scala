package graft.functions

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the static compute kernels behind the graft
  * functions: invariants that must hold for ANY input, not just the
  * pinned examples. Raw ScalaCheck, same harness as PropertySpec. */
class KernelPropertySpec extends AnyFunSuite {

  private def check(name: String)(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default, p)
    assert(res.passed, s"$name: $res")
  }

  // ---- RollingHashMin ---------------------------------------------------

  private def naiveMin(b: Array[Byte]): Long = {
    def hash(from: Int, len: Int): Long =
      (0 until len).foldLeft(0L)((h, j) => h * 31L + (b(from + j) & 0xff))
    if (b.length <= 8) hash(0, b.length)
    else (0 to b.length - 8).map(i => hash(i, 8)).min
  }

  private val bytesGen: Gen[Array[Byte]] =
    Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray)

  test("rolling update equals naive recompute for arbitrary bytes") {
    check("roll-naive")(Prop.forAll(bytesGen) { b =>
      RollingHashMin.minHash(b) == naiveMin(b)
    })
  }

  test("rolling hash never overflows into negatives") {
    check("roll-positive")(Prop.forAll(bytesGen) { b =>
      RollingHashMin.minHash(b) >= 0L
    })
  }

  test("appending bytes can only lower or keep the min over full windows") {
    // once both inputs exceed one window, the longer input's window
    // set is a superset, so its min cannot be larger
    check("roll-monotone")(Prop.forAll(bytesGen, bytesGen) { (a, ext) =>
      a.length < 8 || RollingHashMin.minHash(a ++ ext) <= RollingHashMin.minHash(a)
    })
  }

  // ---- DotProduct kernel (direct calls on UnsafeArrayData) -------------

  private val vecGen: Gen[Array[Double]] =
    Gen.listOfN(16, Gen.chooseNum(-100.0, 100.0)).map(_.toArray)

  private def kernelDot(a: Array[Double], b: Array[Double]): Double = {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    DotProduct.dot(UnsafeArrayData.fromPrimitiveArray(a),
      UnsafeArrayData.fromPrimitiveArray(b)).doubleValue
  }

  test("dot product is symmetric") {
    check("dot-sym")(Prop.forAll(vecGen, vecGen) { (a, b) =>
      kernelDot(a, b) == kernelDot(b, a)
    })
  }

  test("dot product matches a BigDecimal reference within 1 ulp scale") {
    check("dot-ref")(Prop.forAll(vecGen, vecGen) { (a, b) =>
      val ref = a.zip(b).map { case (x, y) =>
        BigDecimal(x) * BigDecimal(y)
      }.foldLeft(BigDecimal(0))(_ + _)
      math.abs(kernelDot(a, b) - ref.toDouble) <= 1e-9 * (1 + ref.abs.toDouble)
    })
  }

  test("self dot product is non-negative (norms are real)") {
    check("dot-self")(Prop.forAll(vecGen) { a =>
      kernelDot(a, a) >= 0.0
    })
  }
}
