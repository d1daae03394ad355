package graft.cli

/** Big differential-fuzz sweeps and single-seed debugging, outside the
  * test runner: `Test/runMain graft.cli.SqlFuzzMain sweep <from> <n>`
  * or `Test/runMain graft.cli.SqlFuzzMain seed <seed>`.
  */
object SqlFuzzMain {
  def main(args: Array[String]): Unit = {
    // fuzz tables are < 30 rows: wide sessions only add scheduling
    // overhead per statement (8-task exchanges), and standalone
    // sweeps run several JVMs side by side
    val spark = GraftSession.build("local[4]")
    spark.conf.set("spark.sql.shuffle.partitions", 2L)
    // WARN surfaces janino "Code grows beyond 64 KB" fallbacks (the
    // CollapseInlineBytes calibration signal — results stay correct
    // through the interpreted fallback, so only the log shows them)
    spark.sparkContext.setLogLevel(
      sys.env.getOrElse("SPARK_GRAFT_FUZZ_LOGLEVEL", "ERROR"))
    args.toList match {
      case "seed" :: s :: Nil =>
        val script = SqlScriptFuzz.genScript(s.toLong)
        val table = SqlScriptFuzz.genTable(s.toLong)
        println(s"--- table a (seed $s) ---\n${table.mkString("\n")}")
        println(s"--- script (seed $s) ---\n$script")
        val g = try SqlScriptFuzz.runGraft(spark, script, table)
                catch { case e: Throwable => (true, s"SPEC-LEVEL: $e") }
        val q = SqlScriptFuzz.runSqlite(SqlScriptFuzz.mirrorDdl(table) + script)
        println(s"--- graft  errored=${g._1} ---\n${g._2.replace(SqlScriptFuzz.Sep, "|")}")
        println(s"--- sqlite errored=${q._1} ---\n${q._2.replace(SqlScriptFuzz.Sep, "|")}")
        // rerun graft with the exception surfaced for debugging
        if (g._1) {
          val sw = new java.io.StringWriter
          val ser = ScriptRunner.makeSerializer("awk",
            GlobalOptions(ofs = SqlScriptFuzz.Sep), sw)
          try SqlScriptFuzz.withTable(spark, table)(ScriptRunner.run(spark, script, ser, None))
          catch { case e: Throwable =>
            println(s"--- graft exception ---")
            e.printStackTrace(System.out)
          }
        }
      case "sweep" :: from :: n :: Nil =>
        val bad = SqlScriptFuzz.sweep(spark, from.toLong, n.toInt,
          progressEvery = 200)
        println(s"[fuzz] DONE: ${bad.size}/${n} divergent; seeds: " +
          bad.map(_.seed).mkString(", "))
      case "script" :: rest if rest.nonEmpty =>
        // run one ad-hoc script (joined from the remaining args)
        // through graft AND sqlite3 — quick divergence probe
        val script = rest.mkString(" ")
        val sw = new java.io.StringWriter
        val ser = ScriptRunner.makeSerializer("awk", GlobalOptions(), sw)
        try { ScriptRunner.run(spark, script, ser, None); println(s"--- graft ---\n$sw") }
        catch { case e: Throwable =>
          println(s"--- graft (errored after) ---\n$sw"); e.printStackTrace(System.out) }
        val q = SqlScriptFuzz.runSqlite(script)
        println(s"--- sqlite errored=${q._1} ---\n${q._2.replace(SqlScriptFuzz.Sep, " ")}")
      case other =>
        System.err.println(s"usage: seed <s> | sweep <from> <n> | script <sql…>; got $other")
        sys.exit(2)
    }
    spark.stop()
  }
}
