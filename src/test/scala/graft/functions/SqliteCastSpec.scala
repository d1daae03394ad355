package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** Pins the SQLite CAST expressions beyond the sqlite3-output CliSpec
  * rows: static-helper vectors, per-child-type dispatch, null
  * propagation, and interpreted-vs-codegen parity on a generated
  * corpus (codegen runs through the registered functions on a real
  * projection; eval through Expression.eval). */
class SqliteCastSpec extends SparkSpec {

  private def u(s: String) = UTF8String.fromString(s)

  test("textToInteger: integer prefix, saturation, zero fallback") {
    assert(SqliteCast.textToInteger(u("12abc")) === 12L)
    assert(SqliteCast.textToInteger(u("-12.9xyz")) === -12L)
    assert(SqliteCast.textToInteger(u("1e2")) === 1L)
    assert(SqliteCast.textToInteger(u("abc")) === 0L)
    assert(SqliteCast.textToInteger(u("")) === 0L)
    assert(SqliteCast.textToInteger(u("  42 ")) === 42L)
    assert(SqliteCast.textToInteger(u("+7q")) === 7L)
    assert(SqliteCast.textToInteger(u("9223372036854775807123")) === Long.MaxValue)
    assert(SqliteCast.textToInteger(u("-9223372036854775808999")) === Long.MinValue)
  }

  test("textToReal: numeric prefix, zero fallback") {
    assert(SqliteCast.textToReal(u("1.5e2q")) === 150.0)
    assert(SqliteCast.textToReal(u("12abc")) === 12.0)
    assert(SqliteCast.textToReal(u("abc")) === 0.0)
    assert(SqliteCast.textToReal(u(".5x")) === 0.5)
  }

  test("interpreted eval matches the codegen path on random inputs") {
    import spark.implicits._
    // md5-derived strings: some numeric-prefixed, some not, some huge
    val rows = spark.range(0, 2000).selectExpr(
      """CASE id % 5
        |  WHEN 0 THEN concat(CAST(id * 37 AS STRING), substr(md5(CAST(id AS STRING)), 1, 4))
        |  WHEN 1 THEN substr(md5(CAST(id AS STRING)), 1, 8)
        |  WHEN 2 THEN concat('-', CAST(id AS STRING), '.', CAST(id % 97 AS STRING), 'e2tail')
        |  WHEN 3 THEN concat('922337203685477580', CAST(id AS STRING))
        |  ELSE concat('  ', CAST(id AS STRING), ' ')
        |END AS s""".stripMargin)
    val viaCodegen = rows.selectExpr("s",
        "sqlite_cast_integer(s) AS i", "sqlite_cast_real(s) AS r",
        "sqlite_cast_numeric(s) AS n")
      .as[(String, Long, Double, String)].collect()
    viaCodegen.foreach { case (s, i, r, n) =>
      assert(i === SqliteCast.textToInteger(u(s)), s"int of '$s'")
      assert(r === SqliteCast.textToReal(u(s)), s"real of '$s'")
      assert(n === SqliteCast.textToNumeric(u(s)).toString, s"numeric of '$s'")
    }
  }

  test("null propagates; numeric children dispatch without string round-trip") {
    val out = spark.sql(
      """SELECT sqlite_cast_integer(CAST(NULL AS STRING)),
        |  sqlite_cast_integer(CAST(12.9 AS DOUBLE)),
        |  sqlite_cast_integer(CAST(-12.9 AS DOUBLE)),
        |  sqlite_cast_integer(CAST(9.3e18 AS DOUBLE)),
        |  sqlite_cast_text(CAST(1e20 AS DOUBLE)),
        |  sqlite_cast_real(CAST(7 AS BIGINT))""".stripMargin).head()
    assert(out.isNullAt(0))
    assert(out.getLong(1) === 12L)
    assert(out.getLong(2) === -12L)
    assert(out.getLong(3) === Long.MaxValue)
    assert(out.getString(4) === "1.0e+20")
    assert(out.getDouble(5) === 7.0)
  }
}
