package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the `graft_md5min8` fused kernel byte-identical to the HOF
  * spelling p07 declared (and the DuckDB oracle still computes):
  * `array_min(transform(sequence(1, greatest(length(s) - 7, 1)),
  * i -> md5(substring(s, i, 8))))` — including the short-input single
  * window, the empty string, and the multi-byte-codepoint path where
  * character windows are not byte windows. */
class Md5Min8Spec extends SparkSpec {

  private val cases = Seq(
    "the quick brown fox jumps over the lazy dog",
    "aaaaaaaaaaaaaaaaa", // identical windows
    "abcdefghij", "12345678", "short", "x", "",
    "café naïve résumé touché über", // 2-byte codepoints
    "日本語のテキストですよ") // 3-byte

  test("fused kernel is byte-identical to the HOF spelling") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = cases.toDF("s")
    val rows = df.select(
      expr("graft_md5min8(s)"),
      expr("""array_min(transform(sequence(1, greatest(length(s) - 7, 1)),
             |                    i -> md5(substring(s, i, 8))))""".stripMargin))
      .collect()
    rows.zip(cases).foreach { case (r, s) =>
      assert(r.getString(0) === r.getString(1), s"mismatch for '$s'")
    }
  }

  test("direct kernel calls agree with the expression path") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val got = cases.toDF("s").select(expr("graft_md5min8(s)"))
      .collect().map(_.getString(0))
    val want = cases.map(s => Md5Min8.minHash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString)
    assert(got.toSeq === want)
  }
}
