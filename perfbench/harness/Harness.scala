package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.BenchAccess
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.cli.{GraftSession, Options, ScriptRunner}

/** One JVM of a benchmark run. Reads a plan written by `run.py`, builds
  * the session the way `graft.cli.Main` does, runs the plan's
  * operations in a closed loop with one client, and writes one JSON
  * record of raw timings (and, when traced, spans) for `run.py` to turn
  * into metrics.
  *
  * An operation is either a sqawk invocation — the calls
  * `graft.cli.Main.run` makes, in its order, writing to a file the way
  * Main writes to stdout — or one `SparkEntry.queries` operator,
  * materialized with `foreach` the way `graft.Bench` does.
  *
  * Laps: the plan's warm-up operations run once, then the timed
  * operations for the plan's number of laps. A traced run traces the
  * odd laps: lap 1 gives the per-layer numbers on the lap an untraced run
  * times, and lap 3 against lap 2 — the same operations, equally warm, in
  * the same JVM — gives the overhead of tracing.
  */
object Harness {
  private val mapper = new ObjectMapper()

  final case class Op(id: String, kind: String, args: Seq[String], name: String, sf: String)

  private def parseOp(n: JsonNode): Op = Op(
    n.get("id").asText,
    n.get("kind").asText,
    Option(n.get("args")).map(_.elements.asScala.map(_.asText).toSeq).getOrElse(Nil),
    Option(n.get("name")).map(_.asText).orNull,
    Option(n.get("sf")).map(_.asText).orNull)

  private def message(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse(e.toString)
    val line = m.linesIterator.find(_.trim.nonEmpty).getOrElse(m)
    if (line.length > 300) line.take(300) + "…" else line
  }

  private def sha256(p: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  private def vmHwmKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Exception => -1L }

  /** Drops what an invocation leaves in the session — temp views and
    * cached blocks — so the next one starts as a fresh process would
    * (graft.Bench drops orphaned checkpoints between queries likewise). */
  private def cleanup(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
  }

  /** The calls `graft.cli.Main.run` makes, in its order. Untraced it is
    * the plain path; traced, each layer call is a span and the
    * serializer and its Writer are decorated. */
  private def runCli(spark: SparkSession, op: Op, lap: Int, outFile: Path,
      tracer: Option[Tracer], rec: ObjectNode): Option[String] = {
    val fos = new FileOutputStream(outFile.toFile)
    val sink = new BufferedWriter(new OutputStreamWriter(fos))
    try tracer match {
      case None =>
        val parsed = Options.parse(op.args)
        GraftSession.loadAll(spark, parsed)
        val ser = ScriptRunner.makeSerializer(parsed.global.output, parsed.global, sink)
        ScriptRunner.run(spark, parsed.script, ser,
          Option(parsed.global.dbfile).filter(_ != ":memory:"))
        None
      case Some(t) =>
        val counting = new CountingWriter(sink)
        var timedSer: TimedSerializer = null
        t.opSpan(op.id, lap) { root =>
          try {
            val parsed = t.span("cli.parse", op.id, lap)(Options.parse(op.args))
            t.span("cli.load", op.id, lap)(GraftSession.loadAll(spark, parsed))
            timedSer = t.span("cli.serializer", op.id, lap)(new TimedSerializer(
              ScriptRunner.makeSerializer(parsed.global.output, parsed.global, counting)))
            t.span("cli.script", op.id, lap)(ScriptRunner.run(spark, parsed.script, timedSer,
              Option(parsed.global.dbfile).filter(_ != ":memory:")))
            None
          } finally {
            if (timedSer != null) {
              root.counts("serializers.self_ns") = timedSer.ns.toDouble
              root.counts("serializers.rows") = timedSer.rows.toDouble
              rec.put("rows", timedSer.rows)
            }
            root.counts("serializers.chars") = counting.chars.toDouble
          }
        }
    } catch {
      case e: Exception => Some(message(e))
    } finally {
      try sink.flush() catch { case _: java.io.IOException => }
      fos.close()
    }
  }

  /** One operator, built and materialized with `foreach` as graft.Bench
    * does; the rows it produced are counted for the vacuity gate. */
  private def runQuery(spark: SparkSession, op: Op, lap: Int, tracer: Option[Tracer],
      rec: ObjectNode, built: DataFrame => Unit): Option[String] = {
    val fn = SparkEntry.queries(op.name)
    val acc = spark.sparkContext.longAccumulator
    try {
      tracer match {
        case None =>
          val df = fn(spark, op.sf)
          built(df)
          df.foreach(_ => acc.add(1))
        case Some(t) => t.opSpan(op.id, lap) { _ =>
          val df = t.span("query.plan", op.id, lap)(fn(spark, op.sf))
          built(df)
          t.span("query.run", op.id, lap)(df.foreach(_ => acc.add(1)))
        }
      }
      None
    } catch {
      case e: Exception => Some(message(e))
    } finally rec.put("rows", acc.value.longValue)
  }

  def main(argv: Array[String]): Unit = {
    val rt = ManagementFactory.getRuntimeMXBean
    val jvmStartMs = rt.getStartTime
    val mainUptimeMs = rt.getUptime
    val plan = mapper.readTree(new File(argv(0)))
    val resultPath = Paths.get(argv(1))
    val work = Paths.get(plan.get("work").asText)
    val traced = plan.get("trace").asBoolean
    val deadlineMs = jvmStartMs + (plan.get("deadline_s").asDouble * 1000).toLong
    val warmup = plan.get("warmup").elements.asScala.map(parseOp).toVector
    val timed = plan.get("timed").elements.asScala.map(parseOp).toVector

    val result = mapper.createObjectNode()
    result.put("jvm_start_ms", jvmStartMs)
    result.put("jvm_boot_s", mainUptimeMs / 1e3)

    val b0 = System.nanoTime()
    val spark = GraftSession.build(plan.get("master").asText)
    result.put("session_build_s", (System.nanoTime() - b0) / 1e9)
    result.put("setup_s", (System.currentTimeMillis() - jvmStartMs) / 1e3)
    result.put("spark_version", spark.version)
    result.put("java_version", System.getProperty("java.version"))
    // Operators are verified on the session conf graft.Bench uses: Spark's
    // ANSI default and one shuffle partition per core.
    Option(plan.get("session_conf")).foreach(_.fields.asScala.foreach { e =>
      spark.conf.set(e.getKey, e.getValue.asText)
    })

    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.register())

    val records = result.putArray("records")
    def execute(op: Op, lap: Int, phase: String, withTrace: Boolean): Unit = {
      val rec = records.addObject()
      rec.put("op", op.id); rec.put("lap", lap); rec.put("phase", phase)
      rec.put("traced", withTrace)
      val tr = tracer.filter(_ => withTrace)
      val out = work.resolve(s"out-${op.id}.txt")
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var df: DataFrame = null
      val err: Option[String] = op.kind match {
        case "cli" => runCli(spark, op, lap, out, tr, rec)
        case "query" => runQuery(spark, op, lap, tr, rec, df = _)
      }
      val wallNs = System.nanoTime() - t0
      // the operator's input files; its plan is already analyzed, so this
      // runs no job
      if (df != null && err.isEmpty) rec.put("input_bytes",
        df.inputFiles.map(f => Files.size(Paths.get(new java.net.URI(f)))).sum)
      rec.put("start_ms", startMs)
      rec.put("end_ms", startMs + wallNs / 1000000)
      rec.put("wall_ns", wallNs)
      rec.put("ok", err.isEmpty)
      err.foreach(rec.put("error", _))
      if (op.kind == "cli" && Files.exists(out)) {
        rec.put("bytes", Files.size(out))
        rec.put("sha256", sha256(out))
        // small outputs are checked by content, large ones by hash
        if (Files.size(out) <= (1 << 16)) rec.put("text", Files.readString(out))
        Files.delete(out)
      }
      cleanup(spark)
    }

    for (op <- warmup) execute(op, 0, "warmup", withTrace = false)
    val laps = plan.get("laps").asInt
    val w0 = System.nanoTime()
    var truncated = false
    for (lap <- 1 to laps; op <- timed if !truncated) {
      if (System.currentTimeMillis() > deadlineMs) truncated = true
      else execute(op, lap, "timed", withTrace = traced && lap % 2 == 1)
    }
    result.put("window_s", (System.nanoTime() - w0) / 1e9)
    result.put("truncated", truncated)

    tracer.foreach { t =>
      BenchAccess.drainListenerBus(spark.sparkContext)
      t.toJson(result.putArray("spans"), result.putArray("planning"))
    }
    result.put("rss_hwm_kb", vmHwmKb())
    spark.stop()
    Files.writeString(resultPath, mapper.writeValueAsString(result))
  }
}
