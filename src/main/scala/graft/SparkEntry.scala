package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.queries.{QDef, Relational}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator claimed in SURVEY.md §2 has an entry in [[queries]];
  * SQL-expressible ones also carry a DuckDB oracle in [[oracleSql]]
  * (hash-compared by the driver at sf0.01).
  */
object SparkEntry {

  /** All verifiable operator definitions, grouped by area. */
  def defs: Vector[QDef] =
    Relational.all ++ graft.queries.Ingest.all ++ graft.queries.Pipeline.all ++
      graft.queries.Streaming.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H-Q3-ish: revenue of urgent orders by customer segment. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    Tables.lineitem(spark, d)
      .join(Tables.orders(spark, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, d)), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        countDistinct(col("o_orderkey")).as("orders"))
      .orderBy(col("revenue").desc)
  }

  /** One entry per implemented operator from SURVEY.md §2. Each entry
    * installs the graft functions and rules on its session first (a
    * no-op on a session from [[graft.cli.GraftSession.build]]), so a
    * session built elsewhere runs every operator the same way. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map { q =>
      q.name -> { (s: SparkSession, d: String) =>
        GraftFunctions.register(s)
        q.fn(s, d)
      }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    defs.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
