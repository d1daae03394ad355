package graft.cli

import java.io.Writer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.serializers._
import graft.sources.Affinity

/** Statement-at-a-time script execution (reference:
  * lib/classes/sqawk.tcl:206-225 + tests.tcl:195-200: multi-statement
  * scripts emit each result set through ONE serializer).
  */
object ScriptRunner {

  /** Split a script into statements on top-level `;` tokens of
    * [[SqliteOperators.tokenize]], so quoted text and comments never
    * split. Each statement spans its first to its last non-comment
    * token; a comment-only stretch is no statement. A CREATE
    * TRIGGER's BEGIN…END body carries `;`-terminated statements, so
    * inside one splitting resumes only once the body's END closes
    * (each CASE/BEGIN word opens one END; words inside literals or
    * comments are not words, so `… THEN 'end' … END;` stays whole). */
  def splitStatements(script: String): Seq[String] = {
    val l = new SqliteOperators.Lexed(script)
    val out = Vector.newBuilder[String]
    var first = -1 // the statement's first and last non-comment token
    var last = -1
    var opens = 0 // CASE/BEGIN words in the statement
    var ends = 0 // END words in the statement
    def isTrigger = first >= 0 && l.word(first) == "create" && {
      val w1 = l.sig(first + 1)
      l.word(w1) == "trigger" ||
        (Set("temp", "temporary")(l.word(w1)) && l.word(l.sig(w1 + 1)) == "trigger")
    }
    // inside a CREATE TRIGGER, `;` ends the statement only right after
    // the END that balances the body's BEGIN (and any CASEs)
    def bodyOpen = isTrigger && !(l.word(last) == "end" && ends >= opens)
    def flush(): Unit = {
      if (first >= 0) out += script.substring(l.toks(first).start, l.toks(last).end)
      first = -1; opens = 0; ends = 0
    }
    for (i <- 0 until l.n if l.toks(i).kind != ' ') {
      if (l.is(i, ';') && !bodyOpen) flush()
      else {
        if (first < 0) first = i
        last = i
        l.word(i) match {
          case "case" | "begin" => opens += 1
          case "end" => ends += 1
          case _ =>
        }
      }
    }
    flush()
    out.result()
  }

  /** Render one result value the way the reference's Tcl/SQLite layer
    * would (NULL → "", REAL → SQLite float text, bools → 0/1). */
  def renderValue(v: Any): String = v match {
    case null => ""
    case d: Double => Affinity.formatReal(d)
    case f: Float => Affinity.formatReal(f.toDouble)
    case b: Boolean => if (b) "1" else "0"
    case d: java.math.BigDecimal => d.toPlainString
    case t: java.sql.Timestamp =>
      val s = t.toString // yyyy-mm-dd hh:mm:ss.fffffffff
      if (s.endsWith(".0")) s.dropRight(2) else s
    case bytes: Array[Byte] => new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    case seq: scala.collection.Seq[_] => seq.map(renderValue).mkString(" ")
    case other => other.toString
  }

  def makeSerializer(outputSpec: String, g: GlobalOptions, out: Writer): Serializer = {
    val parts = outputSpec.split(",").toSeq
    val name = parts.head
    val opts = parts.tail.map { p =>
      val kv = p.split("=", 2)
      kv(0) -> (if (kv.length > 1) kv(1) else "")
    }.toMap
    def boolOpt(k: String, default: Boolean): Boolean =
      opts.get(k).map(Options.parseBool).getOrElse(default)
    val known: Map[String, Set[String]] = Map(
      "awk" -> Set(), "csv" -> Set(),
      "json" -> Set("kv", "pretty"), "tcl" -> Set("kv", "pretty"),
      "table" -> Set("align", "alignments", "margins", "style"))
    known.get(name) match {
      case None => throw new IllegalArgumentException(s"unknown output format: $name")
      case Some(keys) =>
        if (name == "awk" && (opts.contains("ofs") || opts.contains("ors")))
          throw new IllegalArgumentException(
            "to set the field separator for the \"awk\" output format please use -OFS/-ORS")
        for (k <- opts.keys if !keys.contains(k))
          throw new IllegalArgumentException(s"unknown option $k for output format $name")
    }
    name match {
      case "awk" => new AwkSerializer(out, g.ofs, g.ors)
      case "csv" => new CsvSerializer(out)
      case "json" => new JsonSerializer(out, boolOpt("kv", default = true), boolOpt("pretty", default = false))
      case "tcl" => new TclSerializer(out, boolOpt("kv", default = false), boolOpt("pretty", default = false))
      case "table" =>
        if (opts.contains("align") && opts.contains("alignments"))
          throw new IllegalArgumentException(
            "error: can't use synonym options \"align\" and \"alignments\" together")
        val aligns = opts.get("align").orElse(opts.get("alignments"))
          .map(_.split(" ").toSeq).getOrElse(Nil)
        new TableSerializer(out, aligns, opts.get("margins").map(_.toInt).getOrElse(0),
          opts.getOrElse("style", "default"))
    }
  }

  /** Execute each statement and pump rows through the serializer with
    * bounded driver memory (`toLocalIterator`). SQLite-semantic
    * aggregates (`sum` INTEGER-iff-all-integer, `total`) apply inside
    * script execution only. */
  def run(spark: SparkSession, script: String, serializer: Serializer,
      dbFile: Option[String] = None,
      onStatement: String => Unit = _ => ()): Unit = {
    // The script dialect needs SQLite-permissive coercions ('x' < 10 is
    // NULL, not an error) whatever the host session's ANSI setting is.
    val savedAnsi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    // Script tables are LocalRelations; ConvertToLocalRelation would
    // eagerly evaluate Project/Filter over them DURING optimization —
    // before the AffinityOrdering extra rule can rewrite comparisons
    // to SQLite storage-class semantics (fuzz seed 23: `b < ''` must
    // see numeric-storage b rank below text). Exclude it for the
    // script's statements only.
    val exclKey = "spark.sql.optimizer.excludedRules"
    val savedExcl = spark.conf.getOption(exclKey)
    val ctlr = "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"
    spark.conf.set(exclKey,
      savedExcl.filter(_.nonEmpty).map(v => s"$v,$ctlr").getOrElse(ctlr))
    val ddlState = new ScriptDdl.State(dbFile) // per-run transaction/pragma tracking
    try graft.functions.GraftFunctions.withSqliteAggregates(spark) {
      for (stmt <- splitStatements(script)) {
        // SQLite operator spellings (A GLOB B / A REGEXP B) become the
        // registered function calls, and ATTACHed-schema qualified
        // names resolve to their registered views, before Spark
        // parses the statement.
        val sql = ScriptDdl.rewriteAttached(spark, SqliteOperators.rewrite(stmt), ddlState)
        // a statement reading the schema catalog materializes
        // sqlite_master from the run's DDL registry first (round 7)
        if ("""(?is).*\bsqlite_master\b.*""".r.matches(sql))
          ScriptDdl.bindSqliteMaster(spark, ddlState)
        // PRAGMAs answer rows of their own; the side-effecting dialect
        // statements (CREATE TABLE/INSERT/DROP/transactions) bind temp
        // views and emit none; everything else is a query for spark.sql.
        try {
          ScriptDdl.pragmaRows(spark, sql, ddlState) match {
            case Some(df) =>
              if (df.schema.nonEmpty) pump(df, serializer)
            case None =>
              ScriptDdl.executeRows(spark, sql, ddlState) match {
                case ScriptDdl.NotHandled =>
                  // script-dialect arithmetic: SQLite per-value typing,
                  // over the classified text (`[t]` reads as `t`).
                  // The pump runs under the codegen-size policy (round
                  // 14, VERDICT r13 #1): a SELECT whose WHERE keys
                  // stack on an uncollapsed rebind chain can exceed
                  // janino's 64 KB — past the estimate threshold it
                  // executes interpreted instead of paying a failed
                  // whole-stage compile.
                  val df: DataFrame =
                    SqliteArith.sql(spark, new SqliteOperators.Lexed(sql).classified)
                  if (df.schema.nonEmpty)
                    ScriptDdl.withCodegenPolicy(spark, df)(pump(df, serializer))
                case ScriptDdl.Handled(Some(rows)) =>
                  // a RETURNING clause: the DML statement emits rows
                  // through the one serializer like any query statement
                  pump(rows, serializer)
                case ScriptDdl.Handled(None) => ()
              }
          }
          // a qualified name first seen this statement becomes a real
          // attach binding only if the statement left the view behind
          ScriptDdl.commitPendingAttachBindings(spark, ddlState)
        } finally ScriptDdl.clearPendingAttachBindings(ddlState)
        // statement-granular observer (default no-op): the fuzz
        // sweep's janino-fallback attribution samples its counter at
        // each statement boundary (VERDICT r13 #1)
        onStatement(stmt)
      }
    } finally {
      spark.conf.set("spark.sql.ansi.enabled", savedAnsi)
      savedExcl match {
        case Some(v) => spark.conf.set(exclKey, v)
        case None => spark.conf.unset(exclKey)
      }
    }
    serializer.close()
  }

  def pump(df: DataFrame, serializer: Serializer): Unit = {
    val cols = df.columns
    val it = df.toLocalIterator()
    while (it.hasNext) {
      val row: Row = it.next()
      val record = cols.indices.map(i => cols(i) -> renderValue(row.get(i)))
      serializer.serialize(record)
    }
  }
}
