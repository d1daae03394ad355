package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins every field of the `graft_md5longs` fused kernel bit-identical
  * to the SQL spellings the pipeline operators declared (and the
  * DuckDB oracles still compute): h1/h2 = the conv'd 13-hex-char
  * halves, g0..g3 = the conv'd 8-hex-char words — including empty,
  * multi-byte, and digests whose slices have leading zero nibbles or
  * a high bit set (conv is unsigned; the 52-bit and 32-bit slices
  * always fit a signed long). */
class Md5LongsSpec extends SparkSpec {

  private val cases = Seq(
    "the quick brown fox", "bf:a b c d e f g h", "cms0:token",
    "kmv:alpha beta", "", "x", "café naïve über", "日本語のテキスト",
    "0", "mix:12345", "url:99999") ++ (0 until 64).map(i => s"probe:$i")

  test("all six fields match the conv(substr(md5)) spellings") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val sqlCols =
      Seq("CAST(conv(substr(md5(s), 1, 13), 16, 10) AS BIGINT)",
          "CAST(conv(substr(md5(s), 14, 13), 16, 10) AS BIGINT)") ++
        (0 until 4).map(g =>
          s"CAST(conv(substr(md5(s), ${g * 8 + 1}, 8), 16, 10) AS BIGINT)")
    val rows = cases.toDF("s").select(
      expr("graft_md5longs(s)").as("m") +: sqlCols.map(expr): _*).collect()
    val fields = Seq("h1", "h2", "g0", "g1", "g2", "g3")
    rows.zip(cases).foreach { case (r, s) =>
      val m = r.getStruct(0)
      fields.indices.foreach { i =>
        assert(m.getLong(i) === r.getLong(i + 1),
          s"${fields(i)} mismatch for '$s'")
      }
    }
  }

  test("null input yields null struct") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT graft_md5longs(CAST(NULL AS STRING))").collect()
    assert(r.head.isNullAt(0))
  }
}
