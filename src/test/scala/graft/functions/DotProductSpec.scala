package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the `graft_dot` codegen kernel used by the ANN verify stages:
  * value parity with the higher-order-function spelling, null
  * propagation, and the shorter-input length clamp. */
class DotProductSpec extends SparkSpec {

  private def df = {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq(
      (1L, Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (2L, Seq(-1.5, 0.0, 2.5), Seq(2.0, 7.0, -4.0)),
      (3L, Seq(0.25, -0.75), Seq(8.0, 4.0, 99.0)), // clamps to len 2
      (4L, Seq.empty[Double], Seq(1.0, 2.0))
    ).toDF("id", "a", "b")
  }

  test("values, incl. shorter-input clamp where zip_with would null-pad") {
    val rows = df
      .withColumn("dot", expr("graft_dot(a, b)"))
      .withColumn("hof",
        expr("aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS DOUBLE), (s, x) -> s + x)"))
      .select("id", "dot", "hof")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .sortBy(_._1)
    assert(rows.map(r => r._1 -> r._2).toMap ===
      Map(1L -> 32.0, 2L -> -13.0, 3L -> -1.0, 4L -> 0.0))
    // equal-length rows agree with the HOF spelling; mismatched
    // lengths clamp (graft_dot) vs null-pad to null (zip_with)
    rows.foreach {
      case (1L | 2L, dot, Some(hof)) => assert(dot === hof)
      case (3L | 4L, _, hof) => assert(hof.isEmpty)
      case other => fail(s"unexpected row $other")
    }
  }

  test("interpreted eval matches codegen") {
    val e = DotProduct(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1.0, 2.0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(3.0, -4.0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false)))
    assert(e.eval(null) === -5.0)
  }

  test("null input propagates to null") {
    GraftFunctions.register(spark)
    val out = spark.sql(
      "SELECT graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(CAST(1.0 AS DOUBLE)))")
      .collect()
    assert(out.head.isNullAt(0))
  }

  test("null ELEMENT in the clamped range yields null, like zip_with") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val rows = Seq(
      (1L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0)),
      (2L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)),
      // null beyond the clamp (shorter other side) doesn't participate
      (3L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](5.0)))
      .toDF("id", "a", "b")
      .selectExpr("id", "graft_dot(a, b) AS dot")
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(rows === Map(1L -> None, 2L -> Some(11.0), 3L -> Some(5.0)))
  }

  test("rejects non-double-array inputs at analysis") {
    GraftFunctions.register(spark)
    val err = intercept[Exception] {
      spark.sql("SELECT graft_dot(array('x'), array('y'))").collect()
    }
    assert(err.getMessage.toLowerCase.contains("graft_dot"))
  }
}
