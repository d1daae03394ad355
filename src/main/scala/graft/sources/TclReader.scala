package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.functions.TclList

/** Tcl-list scan (reference: lib/parsers/tcl.tcl; SURVEY.md §2.1 S7):
  * same record contract as the JSON scan but the wire format is Tcl
  * lists/dicts. `kv=0`: list of lists; `kv=1`: list of dicts with the
  * same first-object-order-then-alphabetical key union and a
  * synthesized key record. `lines=1`: one list/dict per line.
  */
final case class TclOptions(kv: Boolean = false, lines: Boolean = false)

object TclReader {

  private def elements(
      spark: SparkSession, paths: Seq[String], lines: Boolean): RDD[String] =
    if (lines)
      RecordPipeline.lines(spark.read.textFile(paths: _*)).filter(_.trim.nonEmpty)
    else
      RecordPipeline.lines(spark.read.option("wholetext", "true").textFile(paths: _*))
        .flatMap(text => TclList.split(text))

  /** kv=0 list records as `(a0, fields)`. The kv=1 dict path goes
    * through [[RecordPipeline.buildKv]], which folds the key union
    * into its stats pass (single parse of the input). */
  def parseRecords(elems: RDD[String]): RDD[(String, Seq[String])] =
    elems.map(e => (e, TclList.split(e): Seq[String]))

  private def buildFrom(
      spark: SparkSession,
      elems: RDD[String],
      tcl: TclOptions,
      table: TableOptions): DataFrame =
    if (tcl.kv)
      RecordPipeline.buildKv(spark,
        elems.map(e => TclList.split(e).grouped(2)
          .collect { case Vector(k, v) => (k, v) }.toVector: Seq[(String, String)]),
        table)
    else
      RecordPipeline.build(spark, parseRecords(elems), table)

  def read(
      spark: SparkSession,
      paths: Seq[String],
      tcl: TclOptions,
      table: TableOptions): DataFrame =
    buildFrom(spark, elements(spark, paths, tcl.lines), tcl, table)

  def parse(
      spark: SparkSession,
      elems: Dataset[String],
      tcl: TclOptions,
      table: TableOptions): DataFrame =
    buildFrom(spark, RecordPipeline.lines(elems), tcl, table)
}
