package graft.sources

import java.util.regex.Pattern

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The default "awk" scan: regex record separator, regex field
  * separator, optional trim and `fields=` remapping
  * (reference: lib/parsers/awk.tcl; SURVEY.md §2.1 S1-S3).
  *
  * Scale design:
  *  - `RS='\n'` (the default) → `spark.read.textFile`: splittable,
  *    streamed, never holds a file in memory — the 100 TB path.
  *  - arbitrary regex RS → whole-file read + [[SepSplit.splitRecords]]
  *    per file (a non-'\n' RS is not splittable in general; documented
  *    limitation mirroring SURVEY.md §7.5 — same semantics as the
  *    reference's buffered scan, awk.tcl:170-193).
  *  - Field splitting happens in executors, in `mapPartitions` over
  *    the scan's rows with FS compiled once per partition; the
  *    `-1` trick (`FS='x^'`, a never-matching regex) naturally skips
  *    split work because the regex never matches.
  */
final case class AwkOptions(
    fs: String = "[ \t]+",
    rs: String = "\n",
    fields: String = "auto",
    trim: String = "none")

object AwkReader {

  /** Path(s) → record stream. */
  def records(spark: SparkSession, paths: Seq[String], rs: String): RDD[String] = {
    if (rs == "\n") {
      RecordPipeline.lines(spark.read.textFile(paths: _*))
    } else {
      SepSplit.validateSeparator(rs, "RS")
      RecordPipeline.lines(spark.read.option("wholetext", "true").textFile(paths: _*))
        .mapPartitions { texts =>
          val rsP = Pattern.compile(rs)
          texts.flatMap(SepSplit.splitRecords(_, rsP))
        }
    }
  }

  /** Record stream → parsed `(rawRecord, fields)` pairs; FS is
    * compiled once per partition. */
  def parseRecords(records: RDD[String], awk: AwkOptions): RDD[(String, Seq[String])] = {
    SepSplit.validateSeparator(awk.fs, "FS")
    val fm = FieldMap.parse(awk.fields)
    val auto = fm == FieldMap.AutoOnly
    val fs = awk.fs
    val trimMode = awk.trim
    records.mapPartitions { recs =>
      val fsP = Pattern.compile(fs)
      recs.map { rec =>
        val r = SepSplit.trimRecord(rec, trimMode)
        val fields =
          if (auto) SepSplit.sepsplit(r, fsP, includeSeparators = false)
          else FieldMap.map(SepSplit.sepsplit(r, fsP, includeSeparators = true), fm)
        (r, fields: Seq[String])
      }
    }
  }

  def read(
      spark: SparkSession,
      paths: Seq[String],
      awk: AwkOptions,
      table: TableOptions): DataFrame =
    RecordPipeline.build(spark, parseRecords(records(spark, paths, awk.rs), awk), table)

  /** Parse an in-memory record stream (tests and derived pipelines). */
  def parse(
      spark: SparkSession,
      lines: Dataset[String],
      awk: AwkOptions,
      table: TableOptions): DataFrame =
    RecordPipeline.build(spark, parseRecords(RecordPipeline.lines(lines), awk), table)
}
