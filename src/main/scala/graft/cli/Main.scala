package graft.cli

import java.io.{BufferedWriter, OutputStreamWriter}

/** sqawk-compatible CLI entry point (reference: sqawk-dev.tcl:217-252):
  * parse argv → build session → ingest files as temp views → run the
  * script statement by statement → serialize to stdout. Errors go to
  * stderr with exit 1; broken pipes are tolerated silently
  * (reference: tests.tcl:70-83).
  */
object Main {

  /** Parse args, ingest, query, serialize to `out`. Returns the exit
    * code; never exits the JVM (testable). */
  def run(args: Seq[String], spark: org.apache.spark.sql.SparkSession,
      out: java.io.Writer): Int = {
    val parsed =
      try Options.parse(args)
      catch {
        case u: UsageException =>
          System.err.println(u.message)
          return u.exitCode
        case e: Exception =>
          System.err.println(s"error: ${e.getMessage}")
          return 1
      }
    try {
      GraftSession.loadAll(spark, parsed)
      val serializer = ScriptRunner.makeSerializer(parsed.global.output, parsed.global, out)
      ScriptRunner.run(spark, parsed.script, serializer,
        Option(parsed.global.dbfile).filter(_ != ":memory:"))
      0
    } catch {
      // Only a broken pipe is tolerated silently (reference tests.tcl:70-83);
      // other I/O errors (disk full, unreadable input) must report failure.
      case e: java.io.IOException if isBrokenPipe(e) => 0
      case e: Exception =>
        // one line: Spark's analyzed-plan dump stays out of stderr
        val m = e match {
          case a: org.apache.spark.sql.AnalysisException => a.getSimpleMessage
          case _ => Option(e.getMessage).getOrElse(e.toString)
        }
        System.err.println(s"error: ${m.linesIterator.find(_.trim.nonEmpty).getOrElse(e)}")
        1
    } finally {
      try out.flush() catch { case _: java.io.IOException => }
    }
  }

  private def isBrokenPipe(e: Throwable): Boolean =
    e != null && (Option(e.getMessage).exists(_.toLowerCase.contains("broken pipe")) ||
      e.isInstanceOf[java.nio.channels.ClosedChannelException] ||
      isBrokenPipe(e.getCause))

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build()
    val out = new BufferedWriter(new OutputStreamWriter(System.out))
    val code = run(args.toSeq, spark, out)
    spark.stop()
    if (code != 0) sys.exit(code)
  }
}
