package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonToken
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.functions.TclList

/** JSON scan (reference: lib/parsers/json.tcl; SURVEY.md §2.1 S5-S6).
  *
  *  - `kv=0`: input is a JSON array of arrays (or one array per line
  *    with `lines=1`); each array is a record, elements stringified,
  *    field 0 = the Tcl-list-joined values.
  *  - `kv=1` (default): array of objects (or JSON-Lines). The FIRST
  *    synthesized record is the key list — keys of the first object in
  *    their order, then the remaining keys alphabetically — designed
  *    to combine with `header=1`. Missing keys → "".
  *
  * Scale: `lines=1` uses `spark.read.textFile` (splittable, blank
  * lines filtered, tests.tcl:719-768). Whole-file arrays are read per
  * file (`wholetext`) — inherently one task per file, exactly the
  * reference's full-buffer behavior. The kv=1 key union rides on
  * [[RecordPipeline.buildKv]]'s stats job (key sets are small), not
  * on a data collect.
  */
final case class JsonOptions(kv: Boolean = true, lines: Boolean = false)

object JsonReader {

  @transient private lazy val mapper = new ObjectMapper

  /** Stringify a JSON value the way Tcl's json2dict renders it:
    * scalars bare, arrays as Tcl lists, objects as flattened k-v
    * Tcl lists (nested JSON is undefined in the reference —
    * README.md:302 — this mirrors its de-facto output). */
  def nodeToTcl(n: JsonNode): String =
    if (n.isTextual) n.asText
    else if (n.isArray) TclList.join(n.elements.asScala.map(nodeToTcl).toSeq)
    else if (n.isObject)
      TclList.join(n.properties.asScala.flatMap(e => Seq(e.getKey, nodeToTcl(e.getValue))).toSeq)
    else if (n.isNull) "null"
    else n.asText

  private def arrayRecord(n: JsonNode): Seq[String] =
    n.elements.asScala.map(nodeToTcl).toVector

  /** Ordered (key, value) pairs of a top-level JSON object. Uses the
    * STREAMING parser for the top level: the tree API's ObjectNode does
    * not guarantee document order for its property map (observed
    * alphabetical with the bundled Jackson), and first-object key order
    * is semantic here — it drives the key-union column order
    * (reference: lib/parsers/json.tcl:76-93). */
  private def objectRecord(e: String): Seq[(String, String)] = {
    val parser = mapper.createParser(e)
    try {
      val out = Vector.newBuilder[(String, String)]
      if (parser.nextToken() == JsonToken.START_OBJECT) {
        while (parser.nextToken() == JsonToken.FIELD_NAME) {
          val k = parser.currentName()
          parser.nextToken()
          out += k -> nodeToTcl(mapper.readTree[JsonNode](parser))
        }
      }
      out.result()
    } finally parser.close()
  }

  /** Raw JSON element stream: one JSON text per record. */
  private def elements(
      spark: SparkSession, paths: Seq[String], lines: Boolean): RDD[String] =
    if (lines)
      nonBlank(RecordPipeline.lines(spark.read.textFile(paths: _*)))
    else
      RecordPipeline.lines(spark.read.option("wholetext", "true").textFile(paths: _*))
        .flatMap(text => mapper.readTree(text).elements.asScala.map(_.toString).toVector)

  private def nonBlank(elems: RDD[String]): RDD[String] = elems.filter(_.trim.nonEmpty)

  /** kv=0 array records as `(a0, fields)`. The kv=1 object path goes
    * through [[RecordPipeline.buildKv]], which folds the key union
    * into its stats pass (single parse of the input). */
  def parseRecords(elems: RDD[String]): RDD[(String, Seq[String])] =
    elems.map { e =>
      val fields = arrayRecord(mapper.readTree(e))
      (TclList.join(fields), fields)
    }

  private def buildFrom(
      spark: SparkSession,
      elems: RDD[String],
      json: JsonOptions,
      table: TableOptions): DataFrame =
    if (json.kv) RecordPipeline.buildKv(spark, elems.map(objectRecord), table)
    else RecordPipeline.build(spark, parseRecords(elems), table)

  def read(
      spark: SparkSession,
      paths: Seq[String],
      json: JsonOptions,
      table: TableOptions): DataFrame =
    buildFrom(spark, elements(spark, paths, json.lines), json, table)

  /** Parse an in-memory element stream (tests and derived pipelines);
    * in lines mode blank entries are skipped like blank lines. */
  def parse(
      spark: SparkSession,
      elems: Dataset[String],
      json: JsonOptions,
      table: TableOptions): DataFrame =
    buildFrom(spark, nonBlank(RecordPipeline.lines(elems)), json, table)
}
