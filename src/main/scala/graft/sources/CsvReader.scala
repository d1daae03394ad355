package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Line-at-a-time CSV scan (reference: lib/parsers/csv.tcl; SURVEY.md
  * §2.1 S4). Like the reference, records are LINES — a quoted field
  * cannot contain a newline — which keeps the source fully splittable
  * (`spark.read.textFile`) at any scale. The raw line is preserved as
  * field 0, which Spark's own CSV reader cannot do, hence the custom
  * per-line splitter.
  */
final case class CsvOptions(
    sep: Char = ',',
    quote: Char = '"',
    alt: Boolean = false) // csv2/csvalt: Excel-style dialect

object CsvReader {

  /** Split one CSV line. Standard mode: a field starting with the
    * quote char is quoted; doubled quote inside = literal quote.
    * Alt (Excel) mode: quotes open/close anywhere in the field and
    * doubled quotes collapse even outside quoting. */
  def splitLine(line: String, opts: CsvOptions): Vector[String] = {
    val out = ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var inQuotes = false
    var i = 0
    val n = line.length
    val q = opts.quote
    val sep = opts.sep
    var fieldStart = true
    while (i < n) {
      val c = line.charAt(i)
      if (inQuotes) {
        if (c == q) {
          if (i + 1 < n && line.charAt(i + 1) == q) { sb.append(q); i += 1 }
          else inQuotes = false
        } else sb.append(c)
        fieldStart = false
      } else if (c == sep) {
        out += sb.toString; sb.clear(); fieldStart = true
      } else if (c == q && (fieldStart || opts.alt)) {
        if (opts.alt && i + 1 < n && line.charAt(i + 1) == q) { sb.append(q); i += 1 }
        else inQuotes = true
        fieldStart = false
      } else {
        sb.append(c); fieldStart = false
      }
      i += 1
    }
    out += sb.toString
    out.toVector
  }

  def parseRecords(lines: RDD[String], opts: CsvOptions): RDD[(String, Seq[String])] =
    lines.map(line => (line, splitLine(line, opts): Seq[String]))

  def read(
      spark: SparkSession,
      paths: Seq[String],
      csv: CsvOptions,
      table: TableOptions): DataFrame =
    RecordPipeline.build(spark,
      parseRecords(RecordPipeline.lines(spark.read.textFile(paths: _*)), csv), table)

  def parse(
      spark: SparkSession,
      lines: Dataset[String],
      csv: CsvOptions,
      table: TableOptions): DataFrame =
    RecordPipeline.build(spark, parseRecords(RecordPipeline.lines(lines), csv), table)
}
