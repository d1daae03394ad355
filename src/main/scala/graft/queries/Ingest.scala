package graft.queries

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.cli.ScriptRunner
import graft.serializers._
import graft.sources._

/** Scan/serializer operators (SURVEY.md §2.1 S1-S10, K1-K5) exercised
  * as verifiable queries: input lines are synthesized DETERMINISTICALLY
  * from the parquet tables (sorted by key, so `anr` is reproducible),
  * pushed through the REAL reader code paths
  * (AwkReader/CsvReader/JsonReader/TclReader → RecordPipeline), and the
  * DuckDB oracle recomputes the expected `[anr, anf, a0, a1..aN]` rows
  * straight from the parquet with `row_number()` + string functions.
  * Serializer operators run the real driver-side sinks into a string
  * and compare the rendered lines byte-for-byte against SQL-built
  * strings — including the box-drawing table sink geometry.
  *
  * Synthesis stays distributed (a `Dataset[String]` projection of the
  * source table); only the two file-based QDefs (default-RS line path,
  * regex-RS wholetext path) and the driver-side sinks collect, and
  * those collect by design (the sinks are driver row pumps in the
  * reference too). Behaviors covered map to reference tests:
  * FS/RS (tests.tcl:110-148), fields= incl. clamps (329-503),
  * trim (946-968), header/columns (225-327), NF/MNF (1158-1396),
  * datatypes/affinity (1066-1106), CSV quoting (527-549), JSON kv
  * key-union (719-768), multi-statement scripts (195-200).
  */
object Ingest {

  // ---- synthesized inputs ----------------------------------------------

  /** Customer projected to simple, space-free string/int fields,
    * sorted by key so record order (and thus `anr`) is deterministic. */
  private def custSrc(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select(col("c_custkey").as("ck"), col("c_name").as("nm"),
        col("c_mktsegment").as("seg"), col("c_nationkey").as("nk"))
      .orderBy("ck")

  private def lines(df: DataFrame, c: org.apache.spark.sql.Column): Dataset[String] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(c.cast("string")).as[String]
  }

  /** The oracle prelude shared by the awk-shaped QDefs. */
  private val srcCte =
    """WITH src AS (
      |  SELECT c_custkey AS ck, c_name AS nm, c_mktsegment AS seg,
      |         c_nationkey AS nk,
      |         row_number() OVER (ORDER BY c_custkey) AS rn
      |  FROM customer
      |)""".stripMargin

  /** Write deterministic lines to a per-(query, sf) temp file and
    * return its path — used by the two QDefs that must exercise the
    * real file-read paths (`spark.read.textFile` / wholetext). */
  private def spoolFile(name: String, d: String, content: String): String = {
    val dir = Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft-ingest")
    Files.createDirectories(dir)
    val f = dir.resolve(s"$name-${d.replaceAll("[^A-Za-z0-9.]", "_")}.txt")
    Files.write(f, content.getBytes(StandardCharsets.UTF_8))
    f.toString
  }

  /** Run a driver-side sink over (k, v) pairs and return its lines. */
  private def sinkLines(rows: Seq[Seq[(String, String)]], mk: java.io.Writer => Serializer): Seq[String] = {
    val sw = new java.io.StringWriter
    val ser = mk(sw)
    rows.foreach(ser.serialize)
    ser.close()
    sw.toString.split("\n", -1).toSeq.filter(_.nonEmpty)
  }

  val all: Vector[QDef] = Vector(
    // ------------------------------------------------------------------
    // i01/S1: awk scan, default RS/FS, through the REAL file path
    // (spark.read.textFile — splittable at scale; this file is small).
    QDef(
      "i01_awk_scan",
      (s, d) => {
        import s.implicits._
        val content = custSrc(s, d)
          .select(concat_ws(" ", col("ck"), col("nm"), col("seg"), col("nk")))
          .as[String].collect().mkString("", "\n", "\n")
        val path = spoolFile("i01", d, content)
        AwkReader.read(s, Seq(path), AwkOptions(), TableOptions(nf = 4))
      },
      Some(s"""$srcCte
              |SELECT rn AS anr, 4 AS anf,
              |  CAST(ck AS VARCHAR) || ' ' || nm || ' ' || seg || ' ' || CAST(nk AS VARCHAR) AS a0,
              |  CAST(ck AS VARCHAR) AS a1, nm AS a2, seg AS a3, CAST(nk AS VARCHAR) AS a4
              |FROM src""".stripMargin)),

    // ------------------------------------------------------------------
    // i02/S1: regex FS — runs of [,_] merge into one separator.
    QDef(
      "i02_awk_fs_regex",
      (s, d) => AwkReader.parse(s,
        lines(custSrc(s, d), concat(col("ck"), lit(","), col("nm"), lit("_,_"), col("seg"))),
        AwkOptions(fs = "[,_]+"), TableOptions(nf = 3)),
      Some(s"""$srcCte
              |SELECT rn AS anr, 3 AS anf,
              |  CAST(ck AS VARCHAR) || ',' || nm || '_,_' || seg AS a0,
              |  CAST(ck AS VARCHAR) AS a1, nm AS a2, seg AS a3
              |FROM src""".stripMargin)),

    // ------------------------------------------------------------------
    // i03/S1: regex RS — ';'-separated records through the REAL
    // wholetext + SepSplit path (documented non-splittable limitation,
    // SURVEY.md §7.5). Trailing separator yields no empty record.
    QDef(
      "i03_awk_rs_regex",
      (s, d) => {
        import s.implicits._
        val content = custSrc(s, d)
          .select(concat_ws(" ", col("ck"), col("nm")))
          .as[String].collect().mkString(";")
        val path = spoolFile("i03", d, content)
        AwkReader.read(s, Seq(path), AwkOptions(rs = ";"), TableOptions(nf = 2))
      },
      Some(s"""$srcCte
              |SELECT rn AS anr, 2 AS anf,
              |  CAST(ck AS VARCHAR) || ' ' || nm AS a0,
              |  CAST(ck AS VARCHAR) AS a1, nm AS a2
              |FROM src""".stripMargin)),

    // ------------------------------------------------------------------
    // i04/S3: fields= remap/merge — reorder (2,1), separator-preserving
    // merge (3-end), and a fully-out-of-range range → one empty column
    // (reference tests.tcl:347-470).
    QDef(
      "i04_awk_fields_merge",
      (s, d) => AwkReader.parse(s,
        lines(custSrc(s, d), concat_ws(" ", col("ck"), col("nm"), col("seg"), col("nk"))),
        AwkOptions(fields = "2,1,3-end,9-99"), TableOptions(nf = 4)),
      Some(s"""$srcCte
              |SELECT rn AS anr, 4 AS anf,
              |  CAST(ck AS VARCHAR) || ' ' || nm || ' ' || seg || ' ' || CAST(nk AS VARCHAR) AS a0,
              |  nm AS a1, CAST(ck AS VARCHAR) AS a2,
              |  seg || ' ' || CAST(nk AS VARCHAR) AS a3, '' AS a4
              |FROM src""".stripMargin)),

    // ------------------------------------------------------------------
    // i05/S1: trim=both — surrounding whitespace removed before the
    // split, and the stored record (a0) is the trimmed one.
    QDef(
      "i05_awk_trim",
      (s, d) => AwkReader.parse(s,
        lines(custSrc(s, d), concat(lit("  "), col("ck"), lit(" "), col("nm"), lit("  "))),
        AwkOptions(trim = "both"), TableOptions(nf = 2)),
      Some(s"""$srcCte
              |SELECT rn AS anr, 2 AS anf,
              |  CAST(ck AS VARCHAR) || ' ' || nm AS a0,
              |  CAST(ck AS VARCHAR) AS a1, nm AS a2
              |FROM src""".stripMargin)),

    // ------------------------------------------------------------------
    // i06/S8: header=1 consumes the first record as column names;
    // columns= overrides positionally where non-empty. Body numbering
    // restarts at 1 after the header.
    QDef(
      "i06_header_columns",
      (s, d) => {
        import s.implicits._
        val header = s.createDataset(Seq("ck cname cseg"))
        val body = lines(custSrc(s, d), concat_ws(" ", col("ck"), col("nm"), col("seg")))
        AwkReader.parse(s, header.union(body), AwkOptions(),
          TableOptions(nf = 3, header = true, columns = Seq("", "CustName")))
      },
      Some(s"""$srcCte
              |SELECT rn AS anr, 3 AS anf,
              |  CAST(ck AS VARCHAR) || ' ' || nm || ' ' || seg AS a0,
              |  CAST(ck AS VARCHAR) AS ck, nm AS CustName, seg AS cseg
              |FROM src""".stripMargin)),

    // ------------------------------------------------------------------
    // i07/S9: MNF=expand — schema grows to the global max field count;
    // short records carry SQL NULL in the extra columns and `anf` keeps
    // the true per-record count (reference tests.tcl:1158-1287).
    QDef(
      "i07_mnf_expand",
      (s, d) => AwkReader.parse(s,
        lines(custSrc(s, d), concat(
          col("ck"), lit(" "), col("nm"),
          when(col("ck") % 3 === 0, concat(lit(" "), col("seg"), lit(" "), col("nk")))
            .when(col("ck") % 3 === 1, concat(lit(" "), col("seg")))
            .otherwise(lit("")))),
        AwkOptions(), TableOptions(nf = 2, mnf = "expand")),
      Some(s"""$srcCte
              |SELECT rn AS anr,
              |  CASE WHEN ck % 3 = 0 THEN 4 WHEN ck % 3 = 1 THEN 3 ELSE 2 END AS anf,
              |  CAST(ck AS VARCHAR) || ' ' || nm ||
              |    CASE WHEN ck % 3 = 0 THEN ' ' || seg || ' ' || CAST(nk AS VARCHAR)
              |         WHEN ck % 3 = 1 THEN ' ' || seg ELSE '' END AS a0,
              |  CAST(ck AS VARCHAR) AS a1, nm AS a2,
              |  CASE WHEN ck % 3 IN (0, 1) THEN seg END AS a3,
              |  CASE WHEN ck % 3 = 0 THEN CAST(nk AS VARCHAR) END AS a4
              |FROM src""".stripMargin)),

    // ------------------------------------------------------------------
    // i08/S9: MNF=crop — fields beyond NF are dropped and `anf` records
    // the cropped count (reference tests.tcl:1289-1358).
    QDef(
      "i08_mnf_crop",
      (s, d) => AwkReader.parse(s,
        lines(custSrc(s, d), concat(
          col("ck"), lit(" "), col("nm"),
          when(col("ck") % 3 === 0, concat(lit(" "), col("seg"), lit(" "), col("nk")))
            .when(col("ck") % 3 === 1, concat(lit(" "), col("seg")))
            .otherwise(lit("")))),
        AwkOptions(), TableOptions(nf = 3, mnf = "crop")),
      Some(s"""$srcCte
              |SELECT rn AS anr,
              |  CASE WHEN ck % 3 = 2 THEN 2 ELSE 3 END AS anf,
              |  CAST(ck AS VARCHAR) || ' ' || nm ||
              |    CASE WHEN ck % 3 = 0 THEN ' ' || seg || ' ' || CAST(nk AS VARCHAR)
              |         WHEN ck % 3 = 1 THEN ' ' || seg ELSE '' END AS a0,
              |  CAST(ck AS VARCHAR) AS a1, nm AS a2,
              |  CASE WHEN ck % 3 IN (0, 1) THEN seg END AS a3
              |FROM src""".stripMargin)),

    // ------------------------------------------------------------------
    // i09/S4: CSV scan — quoted field containing the separator; the
    // raw line is preserved as a0 (which spark.read.csv cannot do —
    // the reason for the custom per-line splitter).
    QDef(
      "i09_csv_quoted",
      (s, d) => CsvReader.parse(s,
        lines(custSrc(s, d),
          concat(col("ck"), lit(",\"v,"), col("nm"), lit("\","), col("seg"))),
        CsvOptions(), TableOptions(nf = 3)),
      Some(s"""$srcCte
              |SELECT rn AS anr, 3 AS anf,
              |  CAST(ck AS VARCHAR) || ',"v,' || nm || '",' || seg AS a0,
              |  CAST(ck AS VARCHAR) AS a1, 'v,' || nm AS a2, seg AS a3
              |FROM src""".stripMargin)),

    // ------------------------------------------------------------------
    // i17/S4: CSV alt (Excel) dialect — quotes open mid-field and a
    // quoted span swallows the separator (csv2/csvalt,
    // reference lib/parsers/csv.tcl:31-33; tests.tcl:527-549).
    QDef(
      "i17_csvalt",
      (s, d) => CsvReader.parse(s,
        lines(custSrc(s, d),
          concat(col("ck"), lit(";p\"q;q\"r;"), col("seg"))),
        CsvOptions(sep = ';', alt = true), TableOptions(nf = 3)),
      Some(s"""$srcCte
              |SELECT rn AS anr, 3 AS anf,
              |  CAST(ck AS VARCHAR) || ';p"q;q"r;' || seg AS a0,
              |  CAST(ck AS VARCHAR) AS a1, 'pq;qr' AS a2, seg AS a3
              |FROM src""".stripMargin)),

    // ------------------------------------------------------------------
    // i18/S5: JSON whole-file array of arrays through the REAL
    // wholetext elements path (one task per file, like the reference's
    // full-buffer parse; reference lib/parsers/json.tcl:51-73).
    QDef(
      "i18_json_array_file",
      (s, d) => {
        import s.implicits._
        val rows = custSrc(s, d)
          .select(concat(lit("["), col("ck"), lit(", \""), col("nm"), lit("\"]")))
          .as[String].collect()
        val path = spoolFile("i18", d, rows.mkString("[", ",\n", "]"))
        JsonReader.read(s, Seq(path), JsonOptions(kv = false, lines = false),
          TableOptions(nf = 2))
      },
      Some(s"""$srcCte
              |SELECT rn AS anr, 2 AS anf,
              |  CAST(ck AS VARCHAR) || ' ' || nm AS a0,
              |  CAST(ck AS VARCHAR) AS a1, nm AS a2
              |FROM src""".stripMargin)),

    // ------------------------------------------------------------------
    // i19/S7: Tcl dict scan kv=1 — same key-union + header contract as
    // the JSON kv=1 path but over Tcl dicts
    // (reference lib/parsers/tcl.tcl, tests.tcl:749-768 format-2.10).
    QDef(
      "i19_tcl_kv",
      (s, d) => TclReader.parse(s,
        lines(custSrc(s, d),
          concat(lit("k "), col("ck"), lit(" n "), col("nm"),
            when(col("ck") % 2 === 1, concat(lit(" m "), col("seg"))).otherwise(lit("")))),
        TclOptions(kv = true, lines = true),
        TableOptions(nf = 3, header = true)),
      Some(s"""$srcCte
              |SELECT rn AS anr, 3 AS anf,
              |  'k ' || CAST(ck AS VARCHAR) || ' n ' || nm ||
              |    CASE WHEN ck % 2 = 1 THEN ' m ' || seg ELSE '' END AS a0,
              |  CAST(ck AS VARCHAR) AS k, nm AS n,
              |  CASE WHEN ck % 2 = 1 THEN seg ELSE '' END AS m
              |FROM src""".stripMargin)),

    // ------------------------------------------------------------------
    // i10/S6: JSON kv=1 — key union ordered first-object-first then
    // alphabetical; missing keys → ""; combined with header=1 so the
    // key record becomes the column names (reference json.tcl:76-106).
    QDef(
      "i10_json_kv_union",
      (s, d) => JsonReader.parse(s,
        // JSON built by concat, not to_json(when(struct...)): CASE-branch
        // struct coercion does not keep a stable field order, and key
        // order is semantic here (it drives the key-union column order).
        lines(custSrc(s, d),
          concat(lit("{\"k\":"), col("ck"), lit(",\"n\":\""), col("nm"), lit("\"")
            , when(col("ck") % 2 === 1, concat(lit(",\"m\":\""), col("seg"), lit("\"")))
              .otherwise(lit("")), lit("}"))),
        JsonOptions(kv = true, lines = true),
        TableOptions(nf = 3, header = true)),
      Some(s"""$srcCte
              |SELECT rn AS anr, 3 AS anf,
              |  'k ' || CAST(ck AS VARCHAR) || ' n ' || nm ||
              |    CASE WHEN ck % 2 = 1 THEN ' m ' || seg ELSE '' END AS a0,
              |  CAST(ck AS VARCHAR) AS k, nm AS n,
              |  CASE WHEN ck % 2 = 1 THEN seg ELSE '' END AS m
              |FROM src""".stripMargin)),

    // ------------------------------------------------------------------
    // i11/S5: JSON kv=0 — arrays as records, elements stringified,
    // a0 = the Tcl-list-joined values (reference json.tcl:51-73).
    QDef(
      "i11_json_kv0",
      (s, d) => JsonReader.parse(s,
        lines(custSrc(s, d), concat(lit("["), col("ck"), lit(", \""), col("nm"), lit("\"]"))),
        JsonOptions(kv = false, lines = true), TableOptions(nf = 2)),
      Some(s"""$srcCte
              |SELECT rn AS anr, 2 AS anf,
              |  CAST(ck AS VARCHAR) || ' ' || nm AS a0,
              |  CAST(ck AS VARCHAR) AS a1, nm AS a2
              |FROM src""".stripMargin)),

    // ------------------------------------------------------------------
    // i12/S7: Tcl-list scan — a braced element containing a space
    // parses as ONE field (reference lib/parsers/tcl.tcl).
    QDef(
      "i12_tcl_list",
      (s, d) => TclReader.parse(s,
        lines(custSrc(s, d),
          concat(col("ck"), lit(" {"), col("nm"), lit(" "), col("seg"), lit("}"))),
        TclOptions(kv = false, lines = true), TableOptions(nf = 2)),
      Some(s"""$srcCte
              |SELECT rn AS anr, 2 AS anf,
              |  CAST(ck AS VARCHAR) || ' {' || nm || ' ' || seg || '}' AS a0,
              |  CAST(ck AS VARCHAR) AS a1, nm || ' ' || seg AS a2
              |FROM src""".stripMargin)),

    // ------------------------------------------------------------------
    // i13/S9: datatypes= + SQLite affinity — INTEGER strips leading
    // zeros from numeric text but leaves non-numeric text alone; REAL
    // renders float text; TEXT preserves raw text
    // (reference tests.tcl:1066-1106).
    QDef(
      "i13_datatypes_affinity",
      (s, d) => AwkReader.parse(s,
        lines(custSrc(s, d), concat_ws(" ",
          when(col("ck") % 10 === 7, col("nm")).otherwise(lpad(col("ck"), 6, "0")),
          concat(col("ck"), lit(".50")),
          concat(lit("0"), col("ck")))),
        AwkOptions(), TableOptions(nf = 3, datatypes = Seq("integer", "real", "text"))),
      Some(s"""$srcCte
              |SELECT rn AS anr, 3 AS anf,
              |  CASE WHEN ck % 10 = 7 THEN nm ELSE lpad(CAST(ck AS VARCHAR), 6, '0') END
              |    || ' ' || CAST(ck AS VARCHAR) || '.50 0' || CAST(ck AS VARCHAR) AS a0,
              |  CASE WHEN ck % 10 = 7 THEN nm ELSE CAST(ck AS VARCHAR) END AS a1,
              |  CAST(ck AS VARCHAR) || '.5' AS a2,
              |  '0' || CAST(ck AS VARCHAR) AS a3
              |FROM src""".stripMargin)),

    // ------------------------------------------------------------------
    // i14/K1-K3,K5: the awk/csv/json/tcl sinks rendered over the region
    // table (driver-side row pumps, like the reference): quote-iff-
    // needed CSV, single-array all-strings JSON, Tcl list rows.
    QDef(
      "i14_serializers",
      (s, d) => {
        import s.implicits._
        val rows = Tables.region(s, d).orderBy("r_regionkey")
          .select(col("r_regionkey").cast("string"),
            concat(lit("v,"), regexp_replace(col("r_name"), " ", "_")))
          .collect()
          .map(r => Seq("k" -> r.getString(0), "v" -> r.getString(1))).toSeq
        val fmts = Seq(
          "awk" -> sinkLines(rows, w => new AwkSerializer(w)),
          "csv" -> sinkLines(rows, w => new CsvSerializer(w)),
          "json" -> sinkLines(rows, w => new JsonSerializer(w)),
          "jsonp" -> sinkLines(rows, w => new JsonSerializer(w, pretty = true)),
          "tcl" -> sinkLines(rows, w => new TclSerializer(w)),
          "tclp" -> sinkLines(rows, w => new TclSerializer(w, pretty = true)))
        fmts.flatMap { case (f, ls) =>
          ls.zipWithIndex.map { case (l, i) => (f, (i + 1).toLong, l) }
        }.toDF("fmt", "ln", "line")
      },
      Some("""WITH src AS (
             |  SELECT CAST(r_regionkey AS VARCHAR) AS k,
             |         'v,' || replace(r_name, ' ', '_') AS v,
             |         row_number() OVER (ORDER BY r_regionkey) AS rn
             |  FROM region
             |)
             |SELECT 'awk' AS fmt, rn AS ln, k || ' ' || v AS line FROM src
             |UNION ALL
             |SELECT 'csv', rn, k || ',"' || v || '"' FROM src
             |UNION ALL
             |SELECT 'json', 1,
             |  '[' || string_agg('{"k":"' || k || '","v":"' || v || '"}', ',' ORDER BY rn) || ']'
             |FROM src
             |UNION ALL
             |SELECT 'tcl', 1, string_agg('{' || k || ' ' || v || '}', ' ' ORDER BY rn)
             |FROM src
             |UNION ALL
             |SELECT 'tclp', rn, '{' || k || ' ' || v || '}' FROM src
             |-- pretty JSON: '[{' / per-row key,value lines / '},{' between rows / '}]'
             |UNION ALL
             |SELECT 'jsonp', 1, '[{' FROM src WHERE rn = 1
             |UNION ALL
             |SELECT 'jsonp', 3 * rn - 1, '    "k" : "' || k || '",' FROM src
             |UNION ALL
             |SELECT 'jsonp', 3 * rn, '    "v" : "' || v || '"' FROM src
             |UNION ALL
             |SELECT 'jsonp', 3 * rn + 1, '},{' FROM src WHERE rn < (SELECT max(rn) FROM src)
             |UNION ALL
             |SELECT 'jsonp', 3 * (SELECT max(rn) FROM src) + 1, '}]' FROM src WHERE rn = 1""".stripMargin)),

    // ------------------------------------------------------------------
    // i15/K4: the box-drawing table sink — exact geometry (widths,
    // left/right alignment, separator line between every pair of rows)
    // reproduced in SQL (reference lib/tabulate.tcl:370-488).
    QDef(
      "i15_table_sink",
      (s, d) => {
        import s.implicits._
        val rows = Tables.region(s, d).orderBy("r_regionkey")
          .select(col("r_regionkey").cast("string"), col("r_name"))
          .collect()
          .map(r => Seq("k" -> r.getString(0), "v" -> r.getString(1))).toSeq
        val ls = sinkLines(rows,
          w => new TableSerializer(w, alignments = Seq("l", "r")))
        ls.zipWithIndex.map { case (l, i) => ((i + 1).toLong, l) }.toDF("ln", "line")
      },
      Some("""WITH src AS (
             |  SELECT CAST(r_regionkey AS VARCHAR) AS k, r_name AS v,
             |         row_number() OVER (ORDER BY r_regionkey) AS rn,
             |         count(*) OVER () AS nrows,
             |         max(length(CAST(r_regionkey AS VARCHAR))) OVER () AS w1,
             |         max(length(r_name)) OVER () AS w2
             |  FROM region
             |)
             |SELECT CAST(1 AS BIGINT) AS ln,
             |  '┌' || repeat('─', w1) || '┬' || repeat('─', w2) || '┐' AS line
             |FROM src WHERE rn = 1
             |UNION ALL
             |SELECT 2 * rn, '│' || rpad(k, CAST(w1 AS INT), ' ') || '│' ||
             |               lpad(v, CAST(w2 AS INT), ' ') || '│'
             |FROM src
             |UNION ALL
             |SELECT 2 * rn + 1, '├' || repeat('─', w1) || '┼' || repeat('─', w2) || '┤'
             |FROM src WHERE rn < nrows
             |UNION ALL
             |SELECT 2 * nrows + 1, '└' || repeat('─', w1) || '┴' || repeat('─', w2) || '┘'
             |FROM src WHERE rn = 1""".stripMargin)),

    // ------------------------------------------------------------------
    // i20: SQLite cross-type ordering through the optimizer rule —
    // rank numeric strings of different digit lengths plus text by a
    // window over the affinity column ('2' < '10' < text; the oracle
    // rebuilds the storage-class key explicitly).
    QDef(
      "i20_affinity_order",
      (s, d) => {
        val df = AwkReader.parse(s,
          lines(custSrc(s, d), concat_ws(" ",
            when(col("ck") % 7 === 0, concat(lit("t"), col("nm"))) // text for some rows
              .otherwise((col("ck") * 37 % 100000).cast("string")),
            col("nm"))),
          AwkOptions(), TableOptions(nf = 2))
        df.createOrReplaceTempView("g_aff")
        s.sql("""SELECT a2, CAST(row_number() OVER (ORDER BY a1, a2) AS BIGINT) AS rnk
                |FROM g_aff""".stripMargin)
      },
      Some("""WITH src AS (
             |  SELECT c_name AS nm,
             |    CASE WHEN c_custkey % 7 = 0 THEN 't' || c_name
             |         ELSE CAST(c_custkey * 37 % 100000 AS VARCHAR) END AS a1
             |  FROM customer
             |)
             |SELECT nm AS a2,
             |  CAST(row_number() OVER (ORDER BY
             |    CASE WHEN regexp_full_match(a1, '[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?') THEN 0 ELSE 1 END,
             |    TRY_CAST(a1 AS DOUBLE),
             |    CASE WHEN regexp_full_match(a1, '[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?') THEN '' ELSE a1 END,
             |    nm) AS BIGINT) AS rnk
             |FROM src""".stripMargin))

    ,
    // ------------------------------------------------------------------
    // i16/S10: multi-statement script — both result sets pumped through
    // ONE serializer in order (reference tests.tcl:195-200), via the
    // real splitStatements → spark.sql → toLocalIterator path.
    QDef(
      "i16_multistatement",
      (s, d) => {
        import s.implicits._
        Tables.region(s, d).createOrReplaceTempView("g_region")
        Tables.nation(s, d).createOrReplaceTempView("g_nation")
        val sw = new java.io.StringWriter
        ScriptRunner.run(s,
          """SELECT r_name FROM g_region ORDER BY r_name;
            |SELECT n_name FROM g_nation WHERE n_regionkey = 0 ORDER BY n_name""".stripMargin,
          new AwkSerializer(sw))
        sw.toString.split("\n", -1).toSeq.filter(_.nonEmpty)
          .zipWithIndex.map { case (l, i) => ((i + 1).toLong, l) }
          .toDF("ln", "line")
      },
      Some("""WITH a AS (
             |  SELECT r_name AS line, row_number() OVER (ORDER BY r_name) AS rn
             |  FROM region
             |), b AS (
             |  SELECT n_name AS line, row_number() OVER (ORDER BY n_name) AS rn
             |  FROM nation WHERE n_regionkey = 0
             |)
             |SELECT rn AS ln, line FROM a
             |UNION ALL
             |SELECT rn + (SELECT CAST(count(*) AS BIGINT) FROM a), line FROM b""".stripMargin)),

    // ------------------------------------------------------------------
    // i21: UPDATE/DELETE mid-script (reference forwards them verbatim
    // to SQLite, lib/classes/sqawk.tcl:216) — CTAS, then an UPDATE
    // whose assignments see the OLD row, then a DELETE that keeps
    // NULL-condition rows, all through the real ScriptRunner →
    // ScriptDdl rebind path; the oracle recomputes the post-state as
    // pure CASE/filter SQL.
    QDef(
      "i21_update_delete",
      (s, d) => {
        Tables.nation(s, d).createOrReplaceTempView("g_nat_ud")
        val sw = new java.io.StringWriter
        ScriptRunner.run(s,
          """CREATE TABLE ud_i21 AS
            |  SELECT n_nationkey AS k, n_name AS nm, n_regionkey AS r FROM g_nat_ud;
            |UPDATE ud_i21 SET nm = lower(nm), r = r + 10 WHERE k % 3 = 0;
            |DELETE FROM ud_i21 WHERE r = 12""".stripMargin,
          new AwkSerializer(sw))
        val out = s.table("ud_i21")
          .select(col("k").cast("long").as("k"), col("nm"),
            col("r").cast("long").as("r"))
          .orderBy("k")
        s.catalog.dropTempView("ud_i21")
        out
      },
      Some("""WITH m AS (
             |  SELECT n_nationkey AS k, n_name AS nm, n_regionkey AS r FROM nation
             |), u AS (
             |  SELECT k,
             |    CASE WHEN k % 3 = 0 THEN lower(nm) ELSE nm END AS nm,
             |    CASE WHEN k % 3 = 0 THEN r + 10 ELSE r END AS r
             |  FROM m
             |)
             |SELECT CAST(k AS BIGINT) AS k, nm, CAST(r AS BIGINT) AS r
             |FROM u WHERE NOT coalesce(r = 12, false) ORDER BY k""".stripMargin)),

    // i22: CREATE VIEW mid-script (same dialect argument as i21:
    // README.md:100 forwards the full statement surface) — a view
    // RE-EVALUATES on every reference, so rows INSERTed into the base
    // table after the view's creation must show through it; the
    // oracle recomputes the view over the post-insert base state.
    QDef(
      "i22_create_view",
      (s, d) => {
        Tables.nation(s, d).createOrReplaceTempView("g_nat_cv")
        val sw = new java.io.StringWriter
        ScriptRunner.run(s,
          """CREATE TABLE cv_base AS
            |  SELECT n_nationkey AS k, n_name AS nm FROM g_nat_cv;
            |CREATE VIEW cv_v AS SELECT k, nm FROM cv_base WHERE k % 2 = 0;
            |INSERT INTO cv_base VALUES (98, 'even_new'), (99, 'odd_new')""".stripMargin,
          new AwkSerializer(sw))
        // resolution is eager at table(); dropping the views after
        // does not unbind the returned plan (same pattern as i21)
        val out = s.table("cv_v")
          .select(col("k").cast("long").as("k"), col("nm"))
          .orderBy("k")
        s.catalog.dropTempView("cv_v")
        s.catalog.dropTempView("cv_base")
        out
      },
      Some("""WITH b AS (
             |  SELECT n_nationkey AS k, n_name AS nm FROM nation
             |  UNION ALL VALUES (98, 'even_new'), (99, 'odd_new')
             |)
             |SELECT CAST(k AS BIGINT) AS k, nm FROM b
             |WHERE k % 2 = 0 ORDER BY k""".stripMargin)),

    // i23: ALTER TABLE + transaction control mid-script (the remaining
    // statement surface the reference forwards verbatim,
    // lib/classes/sqawk.tcl:216). ADD COLUMN's DEFAULT fills existing
    // rows AND later INSERTs that omit the column (sqlite3-pinned);
    // BEGIN/COMMIT/SAVEPOINT/RELEASE/VACUUM are no-ops whose only
    // observable surface is their error cases (CliSpec); the oracle
    // recomputes the post-ALTER state as plain SQL.
    QDef(
      "i23_alter_txn",
      (s, d) => {
        Tables.nation(s, d).createOrReplaceTempView("g_nat_at")
        val sw = new java.io.StringWriter
        ScriptRunner.run(s,
          """CREATE TABLE at_base AS SELECT n_nationkey AS k, n_name AS nm FROM g_nat_at;
            |BEGIN;
            |ALTER TABLE at_base ADD COLUMN tag DEFAULT 'legacy';
            |INSERT INTO at_base (k, nm) VALUES (97, 'new_row');
            |COMMIT;
            |SAVEPOINT sp;
            |ALTER TABLE at_base RENAME COLUMN nm TO name;
            |DELETE FROM at_base WHERE k % 7 = 3;
            |RELEASE sp;
            |VACUUM""".stripMargin,
          new AwkSerializer(sw))
        val out = s.table("at_base")
          .select(col("k").cast("long").as("k"), col("name"), col("tag"))
          .orderBy("k")
        s.catalog.dropTempView("at_base")
        s.catalog.dropTempView("g_nat_at")
        out
      },
      Some("""WITH b AS (
             |  SELECT n_nationkey AS k, n_name AS name, 'legacy' AS tag FROM nation
             |  UNION ALL SELECT 97, 'new_row', 'legacy'
             |)
             |SELECT CAST(k AS BIGINT) AS k, name, tag FROM b
             |WHERE NOT coalesce(k % 7 = 3, false) ORDER BY k""".stripMargin)),

    // i24: INTEGER PRIMARY KEY + transaction rollback mid-script (the
    // reference's ingest DDL declares `anr INTEGER PRIMARY KEY`,
    // lib/classes/table.tcl:70, and forwards REPLACE/savepoint
    // statements verbatim, sqawk.tcl:216). Omitted keys autoassign
    // max+1 (nation's max key 24 → 25, 26), REPLACE displaces k=3,
    // OR IGNORE skips the dup k=5 and keeps k=40, and the
    // BEGIN→DELETE→ROLLBACK round-trip leaves no trace (binding
    // snapshots); the oracle recomputes the net state as plain SQL.
    QDef(
      "i24_pk_replace",
      (s, d) => {
        Tables.nation(s, d).createOrReplaceTempView("g_nat_pk")
        val sw = new java.io.StringWriter
        ScriptRunner.run(s,
          """CREATE TABLE pk24 (k INTEGER PRIMARY KEY, nm TEXT);
            |INSERT INTO pk24 SELECT n_nationkey, n_name FROM g_nat_pk;
            |INSERT INTO pk24 (nm) VALUES ('auto_a'), ('auto_b');
            |REPLACE INTO pk24 VALUES (3, 'replaced');
            |INSERT OR IGNORE INTO pk24 VALUES (5, 'ignored'), (40, 'kept');
            |BEGIN;
            |DELETE FROM pk24 WHERE k < 10;
            |ROLLBACK""".stripMargin,
          new AwkSerializer(sw))
        val out = s.table("pk24")
          .select(col("k").cast("long").as("k"), col("nm"))
        s.catalog.dropTempView("pk24")
        s.catalog.dropTempView("g_nat_pk")
        out
      },
      Some("""WITH base AS (
             |  SELECT n_nationkey AS k,
             |         CASE WHEN n_nationkey = 3 THEN 'replaced' ELSE n_name END AS nm
             |  FROM nation
             |)
             |SELECT CAST(k AS BIGINT) AS k, nm FROM base
             |UNION ALL VALUES (25, 'auto_a'), (26, 'auto_b'), (40, 'kept')""".stripMargin)),

    // i25: the PRAGMA surface end-to-end through
    // the real reader + ScriptRunner path: table_info reflects the
    // reference's ingest DDL (anr INTEGER PRIMARY KEY, anf INTEGER,
    // a0 TEXT, then the datatypes= declarations,
    // lib/classes/table.tcl:69-72), index_list sees a CREATE INDEX
    // from the same script, and user_version/journal_mode answer the
    // in-memory defaults. table_info depends only on the declared
    // schema, so the oracle is the pinned sqlite3 output verbatim.
    QDef(
      "i25_pragma",
      (s, d) => {
        import s.implicits._
        val df = AwkReader.parse(s,
          lines(custSrc(s, d), concat_ws(" ", col("ck"), col("nm"))),
          AwkOptions(), TableOptions(nf = 2, datatypes = Seq("TEXT", "REAL")))
        df.createOrReplaceTempView("g_pragma")
        val sw = new java.io.StringWriter
        ScriptRunner.run(s,
          """pragma table_info(g_pragma);
            |create index gp_idx on g_pragma (a1);
            |pragma index_list(g_pragma);
            |pragma user_version = 9;
            |pragma user_version;
            |pragma journal_mode""".stripMargin,
          new AwkSerializer(sw))
        s.catalog.dropTempView("g_pragma")
        sw.toString.split("\n", -1).toSeq.filter(_.nonEmpty)
          .zipWithIndex.map { case (l, i) => ((i + 1).toLong, l) }
          .toDF("ln", "line")
      },
      Some("""SELECT CAST(ln AS BIGINT) AS ln, line FROM (VALUES
             |  (1, '0 anr INTEGER 0  1'),
             |  (2, '1 anf INTEGER 0  0'),
             |  (3, '2 a0 TEXT 0  0'),
             |  (4, '3 a1 TEXT 0  0'),
             |  (5, '4 a2 REAL 0  0'),
             |  (6, '0 gp_idx 0 c 0'),
             |  (7, '9'),
             |  (8, 'memory')) t(ln, line)""".stripMargin)),

    // ------------------------------------------------------------------
    // i26: UPSERT + RETURNING mid-script (SQLite 3.24/3.35 dialect the
    // reference forwards verbatim, lib/classes/sqawk.tcl:216). A batch
    // whose keys half-overlap storage runs ON CONFLICT DO UPDATE with
    // `excluded.` references and a conflict-WHERE gate, then a DELETE
    // … RETURNING trims the tail; the oracle recomputes the post-state
    // as a left join + CASE (updates), an anti-join (fresh inserts)
    // and a filter (delete). RETURNING row emission itself is pinned
    // byte-for-byte against sqlite3 in CliSpec.
    QDef(
      "i26_upsert",
      (s, d) => {
        Tables.nation(s, d).createOrReplaceTempView("g_nat_up")
        val sw = new java.io.StringWriter
        ScriptRunner.run(s,
          """CREATE TABLE up_i26 (k INTEGER PRIMARY KEY, nm, cnt INTEGER DEFAULT 0);
            |INSERT INTO up_i26 SELECT n_nationkey, n_name, 1 FROM g_nat_up;
            |INSERT INTO up_i26 SELECT n_nationkey + 20, lower(n_name), 7 FROM g_nat_up
            |  ON CONFLICT (k) DO UPDATE SET nm = excluded.nm, cnt = cnt + excluded.cnt
            |  WHERE k % 2 = 0;
            |DELETE FROM up_i26 WHERE k > 40 RETURNING k""".stripMargin,
          new AwkSerializer(sw))
        val out = s.table("up_i26")
          .select(col("k").cast("long").as("k"), col("nm"),
            col("cnt").cast("long").as("cnt"))
          .orderBy("k")
        s.catalog.dropTempView("up_i26")
        s.catalog.dropTempView("g_nat_up")
        out
      },
      Some("""WITH base AS (
             |  SELECT n_nationkey AS k, n_name AS nm, 1 AS cnt FROM nation
             |), prop AS (
             |  SELECT n_nationkey + 20 AS k, lower(n_name) AS nm, 7 AS cnt FROM nation
             |), upd AS (
             |  SELECT b.k,
             |    CASE WHEN p.k IS NOT NULL AND b.k % 2 = 0 THEN p.nm ELSE b.nm END AS nm,
             |    CASE WHEN p.k IS NOT NULL AND b.k % 2 = 0 THEN b.cnt + p.cnt ELSE b.cnt END AS cnt
             |  FROM base b LEFT JOIN prop p USING (k)
             |), fresh AS (
             |  SELECT k, nm, cnt FROM prop WHERE k NOT IN (SELECT k FROM base)
             |), merged AS (
             |  SELECT * FROM upd UNION ALL SELECT * FROM fresh
             |)
             |SELECT CAST(k AS BIGINT) AS k, nm, CAST(cnt AS BIGINT) AS cnt
             |FROM merged WHERE NOT coalesce(k > 40, false) ORDER BY k""".stripMargin)),

    // ------------------------------------------------------------------
    // i27: UNIQUE-index enforcement mid-script (SQLite dialect the
    // reference forwards verbatim, lib/classes/sqawk.tcl:216): a
    // CREATE UNIQUE INDEX over a populated table, an OR IGNORE batch
    // whose first row collides on the indexed column (skipped) while
    // the second inserts, a REPLACE that displaces the stored row
    // through the index rather than the pk, and an UPDATE re-keying a
    // row under the constraint. The oracle recomputes the surviving
    // row set declaratively; row-at-a-time conflict ORDER semantics
    // are pinned separately in CliSpec.
    QDef(
      "i27_unique_index",
      (s, d) => {
        Tables.nation(s, d).createOrReplaceTempView("g_nat_uq")
        val sw = new java.io.StringWriter
        ScriptRunner.run(s,
          """CREATE TABLE uq27 (k INTEGER PRIMARY KEY, nm TEXT, tag);
            |INSERT INTO uq27
            |  SELECT n_nationkey, n_name, n_regionkey || ':' || n_nationkey FROM g_nat_uq;
            |CREATE UNIQUE INDEX uq27_nm ON uq27(nm);
            |INSERT OR IGNORE INTO uq27 VALUES
            |  (100, 'NATION_3', 'dup-skipped'), (101, 'ATLANTIS', 'fresh');
            |REPLACE INTO uq27 VALUES (102, 'NATION_6', 'displaced-via-nm');
            |UPDATE uq27 SET nm = 'UTOPIA' WHERE k = 101""".stripMargin,
          new AwkSerializer(sw))
        val out = s.table("uq27")
          .select(col("k").cast("long").as("k"), col("nm"), col("tag"))
        s.catalog.dropTempView("uq27")
        s.catalog.dropTempView("g_nat_uq")
        out
      },
      Some("""WITH base AS (
             |  SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS nm,
             |         n_regionkey || ':' || n_nationkey AS tag
             |  FROM nation
             |  WHERE n_name <> 'NATION_6' -- displaced through the unique index
             |)
             |SELECT k, nm, tag FROM base
             |UNION ALL VALUES (101, 'UTOPIA', 'fresh'),
             |                 (102, 'NATION_6', 'displaced-via-nm')""".stripMargin)),

    // ------------------------------------------------------------------
    // i28/round 7: CREATE TRIGGER — row-level BEFORE/AFTER
    // INSERT/UPDATE/DELETE with UPDATE OF column lists, WHEN
    // conditions, and OLD./NEW. references (the last statement class
    // the reference forwards verbatim to SQLite,
    // lib/classes/sqawk.tcl:216, that this engine refused). Three
    // triggers log every mutation of a nation-derived table into an
    // audit table; the oracle recomputes the SAME audit rows
    // relationally (each trigger's contribution is a selection over
    // the table state its statement saw), so the hash compare
    // verifies firing events, WHEN gating, UPDATE OF filtering and
    // the OLD/NEW values row for row.
    QDef(
      "i28_triggers",
      (s, d) => {
        graft.Tables.nation(s, d).createOrReplaceTempView("g_nat_tr")
        val sw = new java.io.StringWriter
        ScriptRunner.run(s,
          """CREATE TABLE tb AS SELECT n_nationkey AS k, n_name AS nm FROM g_nat_tr;
            |CREATE TABLE trlog (ev TEXT, k INTEGER, v TEXT);
            |CREATE TRIGGER lg_i AFTER INSERT ON tb
            |  BEGIN INSERT INTO trlog VALUES ('ins', NEW.k, NEW.nm); END;
            |CREATE TRIGGER lg_u AFTER UPDATE OF nm ON tb WHEN NEW.k % 2 = 0
            |  BEGIN INSERT INTO trlog VALUES ('upd', OLD.k, NEW.nm); END;
            |CREATE TRIGGER lg_d BEFORE DELETE ON tb
            |  BEGIN INSERT INTO trlog VALUES ('del', OLD.k, OLD.nm); END;
            |INSERT INTO tb SELECT k + 100, lower(nm) FROM tb WHERE k < 5;
            |UPDATE tb SET nm = upper(nm) WHERE k % 3 = 0;
            |DELETE FROM tb WHERE k >= 100 AND k % 2 = 1""".stripMargin,
          new AwkSerializer(sw))
        val out = s.table("trlog")
          .select(col("ev"), col("k").cast("long").as("k"), col("v"))
          .orderBy("ev", "k")
        s.catalog.dropTempView("trlog")
        s.catalog.dropTempView("tb")
        s.catalog.dropTempView("g_nat_tr")
        out
      },
      Some("""WITH base AS (
             |  SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS nm FROM nation
             |), ins AS (
             |  SELECT 'ins' AS ev, k + 100 AS k, lower(nm) AS v
             |  FROM base WHERE k < 5
             |), t1 AS (
             |  SELECT k, nm FROM base UNION ALL SELECT k, v FROM ins
             |), upd AS (
             |  SELECT 'upd' AS ev, k, upper(nm) AS v FROM t1
             |  WHERE k % 3 = 0 AND k % 2 = 0
             |), t2 AS (
             |  SELECT k, CASE WHEN k % 3 = 0 THEN upper(nm) ELSE nm END AS nm
             |  FROM t1
             |), del AS (
             |  SELECT 'del' AS ev, k, nm AS v FROM t2
             |  WHERE k >= 100 AND k % 2 = 1
             |)
             |SELECT ev, k, v FROM (
             |  SELECT * FROM ins UNION ALL
             |  SELECT * FROM upd UNION ALL
             |  SELECT * FROM del)
             |ORDER BY ev, k""".stripMargin)),

    // i29/round 9: INSTEAD OF triggers on views — view DML never
    // touches the view; each affected VIEW row (computed columns
    // included — rx = r*10 below, NEW.rx/10 must round-trip) fires
    // the INSTEAD OF body instead. The script routes INSERT / UPDATE
    // OF with WHEN / DELETE through triggers into the base table plus
    // an audit log; sqlite3-pinned offline (incl. the upd→del
    // interaction on k=6: the delete logs the ALREADY-lowercased
    // name). The oracle recomputes base-table end state and audit
    // rows relationally, so the hash compare verifies routing, WHEN
    // gating, OLD/NEW view-row binding and statement ordering.
    QDef(
      "i29_instead_of_triggers",
      (s, d) => {
        graft.Tables.nation(s, d).createOrReplaceTempView("g_nat_iv")
        val sw = new java.io.StringWriter
        ScriptRunner.run(s,
          """CREATE TABLE tb AS
            |  SELECT n_nationkey AS k, n_name AS nm, n_regionkey AS r
            |  FROM g_nat_iv;
            |CREATE VIEW v AS SELECT k, nm, r * 10 AS rx FROM tb WHERE k < 20;
            |CREATE TABLE vlog (ev TEXT, k INTEGER, x TEXT);
            |CREATE TRIGGER vi INSTEAD OF INSERT ON v
            |  BEGIN
            |    INSERT INTO tb VALUES (NEW.k, NEW.nm, NEW.rx / 10);
            |    INSERT INTO vlog VALUES ('ins', NEW.k, NEW.nm);
            |  END;
            |CREATE TRIGGER vu INSTEAD OF UPDATE OF nm ON v WHEN NEW.k % 2 = 0
            |  BEGIN
            |    UPDATE tb SET nm = NEW.nm WHERE k = OLD.k;
            |    INSERT INTO vlog VALUES ('upd', OLD.k, NEW.nm);
            |  END;
            |CREATE TRIGGER vd INSTEAD OF DELETE ON v
            |  BEGIN
            |    DELETE FROM tb WHERE k = OLD.k;
            |    INSERT INTO vlog VALUES ('del', OLD.k, OLD.nm);
            |  END;
            |INSERT INTO v VALUES (200, 'zz', 30);
            |UPDATE v SET nm = lower(nm) WHERE k % 3 = 0;
            |DELETE FROM v WHERE k % 5 = 1""".stripMargin,
          new AwkSerializer(sw))
        val rows = s.table("tb").select(
          lit("row").as("ev"), col("k").cast("long").as("k"),
          concat(col("nm"), lit("#"), col("r").cast("string")).as("x"))
        val out = rows
          .unionAll(s.table("vlog").select(
            col("ev"), col("k").cast("long").as("k"), col("x")))
          .orderBy("ev", "k")
        Seq("vlog", "tb", "v", "g_nat_iv")
          .foreach(v => try s.catalog.dropTempView(v) catch { case _: Throwable => () })
        out
      },
      Some("""WITH base AS (
             |  SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS nm,
             |         CAST(n_regionkey AS BIGINT) AS r
             |  FROM nation
             |), t1 AS (
             |  SELECT * FROM base UNION ALL SELECT 200, 'zz', 3
             |), t2 AS (
             |  SELECT k,
             |    CASE WHEN k < 20 AND k % 3 = 0 AND k % 2 = 0
             |         THEN lower(nm) ELSE nm END AS nm, r
             |  FROM t1
             |), t3 AS (
             |  SELECT * FROM t2 WHERE NOT (k < 20 AND k % 5 = 1)
             |), logs AS (
             |  SELECT 'ins' AS ev, CAST(200 AS BIGINT) AS k, 'zz' AS x
             |  UNION ALL
             |  SELECT 'upd', k, lower(nm) FROM base
             |  WHERE k < 20 AND k % 3 = 0 AND k % 2 = 0
             |  UNION ALL
             |  SELECT 'del', k, nm FROM t2 WHERE k < 20 AND k % 5 = 1
             |)
             |SELECT ev, k, x FROM (
             |  SELECT 'row' AS ev, k, nm || '#' || CAST(r AS VARCHAR) AS x
             |  FROM t3
             |  UNION ALL SELECT ev, k, x FROM logs)
             |ORDER BY ev, k""".stripMargin))
  )
}
