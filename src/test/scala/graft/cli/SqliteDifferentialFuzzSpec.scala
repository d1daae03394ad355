package graft.cli

import graft.SparkSpec

/** Differential statement fuzz vs the sqlite3 CLI (see SqlScriptFuzz
  * for the grammar and the run protocol). Default 100 seeds from seed
  * 0; `GRAFT_FUZZ_N` / `GRAFT_FUZZ_FROM` widen or move the sweep (the
  * 10k-seed sweep runs via `Test/runMain graft.cli.SqlFuzzMain`).
  */
class SqliteDifferentialFuzzSpec extends SparkSpec {

  test("generated scripts produce identical output and error behavior to sqlite3") {
    assume(
      try { SqlScriptFuzz.runSqlite("SELECT 1;") == (false, "1\n") }
      catch { case _: Throwable => false },
      "sqlite3 CLI not available")
    // A fixed seed count, so in-suite coverage does not depend on
    // machine load: each seed spawns one sqlite3 process and costs
    // about 1.3 s inside the parallel suite on a 4-vCPU host, so 100
    // seeds keep the spec near 150 s. The committed deep record
    // (seeds 0-34k via SqlFuzzMain) covers the rest.
    val n = sys.env.get("GRAFT_FUZZ_N").map(_.toInt).getOrElse(100)
    val from = sys.env.get("GRAFT_FUZZ_FROM").map(_.toLong).getOrElse(0L)
    val t0 = System.nanoTime()
    val bad = SqlScriptFuzz.sweep(spark, from, n)
    info(f"fuzzed $n%d seeds in ${(System.nanoTime() - t0) / 1e9}%.0f s")
    if (bad.nonEmpty) {
      val detail = bad.take(5).map { d =>
        s"""seed ${d.seed}:
           |${d.script}
           |graft : errored=${d.graft._1} out=${d.graft._2.replace(SqlScriptFuzz.Sep, "|")}
           |sqlite: errored=${d.sqlite._1} out=${d.sqlite._2.replace(SqlScriptFuzz.Sep, "|")}
           |""".stripMargin
      }.mkString("\n")
      fail(s"${bad.size}/$n scripts diverged from sqlite3:\n$detail")
    }
  }
}
