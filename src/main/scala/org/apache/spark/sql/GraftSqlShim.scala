package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Thin bridge to three `private[sql]` entry points the engine needs
  * (the standard pattern for Spark extensions that execute a
  * hand-built LogicalPlan):
  *
  *  - running a PARSED-and-rewritten plan (graft.cli.SqliteArith
  *    rewrites `+ - * / %` into SQLite dynamic arithmetic BEFORE
  *    analysis, so it must hand Spark a LogicalPlan, not SQL text);
  *  - wrapping a rewritten catalyst Expression as a user-facing
  *    Column (the Column constructor takes ColumnNodes only);
  *  - a relation over an RDD of `InternalRow`s that states its
  *    partitioning (graft.sources.RecordPipeline's ingest table).
  *
  * Nothing else from the private surface is exposed.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  /** A DataFrame over `rows`, each laid out as `schema`. It declares `SinglePartition` when `rows` has exactly one partition,
    * so an aggregate, sort, DISTINCT or window over it plans no
    * Exchange; any other count declares unknown partitioning and
    * plans exactly like an RDD-backed Dataset. The size estimate is
    * the session's `defaultSizeInBytes`, as for any RDD relation. */
  def rowsRelation(spark: SparkSession, schema: StructType, rows: RDD[InternalRow]): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val partitioning =
      if (rows.getNumPartitions == 1) SinglePartition else UnknownPartitioning(0)
    classic.Dataset.ofRows(session,
      LogicalRDD(DataTypeUtils.toAttributes(schema), rows, partitioning)(session))
  }
}
