package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the `graft_dot` kernel used by the ANN verify stages: value
  * parity with the higher-order-function spelling, null propagation,
  * and the shorter-input length clamp; and, for the static kernels,
  * interpreted evaluation against generated code. */
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
    GraftFunctions.register(spark)
    import org.apache.spark.sql.types._
    // an RDD-backed frame, so the projection runs in the executed plan
    // rather than being folded over a local relation by the optimizer
    val rnd = new scala.util.Random(7)
    def dbl(): java.lang.Double =
      if (rnd.nextInt(20) == 0) null else java.lang.Double.valueOf(rnd.nextGaussian())
    def vec(n: Int): Seq[java.lang.Double] =
      if (rnd.nextInt(10) == 0) null else Seq.fill(n)(dbl())
    val words = Seq("a", "bb", "café", "日本", "the", "x", "naïve")
    val rows = (0 until 400).map { i =>
      val toks = Seq.fill(rnd.nextInt(12))(words(rnd.nextInt(words.size)))
      org.apache.spark.sql.Row(i.toLong,
        if (i % 17 == 0) null else toks.mkString(" ") + rnd.nextInt(1000),
        vec(rnd.nextInt(6)), vec(rnd.nextInt(6)), toks)
    }
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("a", ArrayType(DoubleType)), StructField("b", ArrayType(DoubleType)),
      StructField("toks", ArrayType(StringType))))
    val in = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    // the storage-class key is built by the AffinityOrdering rule, not
    // called by name: build it over the frame's own `s` attribute
    def sortKey(df: DataFrame) = GraftSqlShim.column(graft.plans.AffinityOrdering
      .sortKeyFor(df.queryExecution.analyzed.output.find(_.name == "s").get))
    def kernels(df: DataFrame, cols: Column*) =
      df.select(cols :+ expr("graft_unique_key(s)") :+ sortKey(df): _*)
        .collect().sortBy(_.getLong(0)).toSeq
    // numeric-text edge cases, checked against the driver functions
    val tricky = Seq("007", " 12 ", "+5", ".5", "5.", "1e2", "100.0", "-0",
      "9223372036854775807", "9223372036854775808", "1e400", "x", "", null)
    val trickyIn = spark.createDataFrame(spark.sparkContext.parallelize(
      tricky.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }, 2),
      StructType(Seq(StructField("id", LongType), StructField("s", StringType))))
    def run() = (
      kernels(in, Seq("id", "graft_dot(a, b)", "graft_md5longs(s)", "graft_md5min8(s)",
        "graft_rollhash_min(s)", "graft_kmr_emit(toks, 1, 3)").map(expr): _*),
      kernels(trickyIn, col("id")))
    val codegen = run()
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => spark.conf.getOption(k))
    spark.conf.set(keys(0), "false")
    spark.conf.set(keys(1), "NO_CODEGEN")
    val interpreted = try run() finally keys.zip(saved).foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(codegen._1.size === 400)
    assert(codegen._1.exists(_.isNullAt(1)) && codegen._1.exists(r => !r.isNullAt(1)))
    assert(interpreted === codegen)
    // the unique-index key is the driver-side check's function; the
    // sort key ranks trimmed numeric text 0 with its value, and any
    // other text 1 with the text as is
    val unique = codegen._2.map(_.getString(1))
    assert(unique === tricky.map(v => if (v == null) null else Canonical.normNumText(v)))
    assert(unique === Seq("7", " 12 ", "5", "0.5", "5", "100", "100", "0",
      "9223372036854775807", "9.223372036854776E18", "Infinity", "x", "", null))
    val Inf = Double.PositiveInfinity
    assert(codegen._2.map(r => Option(r.getStruct(2))
      .map(k => (k.getInt(0), k.getDouble(1), k.getString(2))).orNull) === Seq(
      (0, 7.0, ""), (0, 12.0, ""), (0, 5.0, ""), (0, 0.5, ""), (0, 5.0, ""),
      (0, 100.0, ""), (0, 100.0, ""), (0, -0.0, ""), (0, 9.223372036854776e18, ""),
      (0, 9.223372036854776e18, ""), (0, Inf, ""), (1, 0.0, "x"), (1, 0.0, ""), null))
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
