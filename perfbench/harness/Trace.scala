package graftbench

import java.io.Writer

import scala.collection.mutable

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.serializers.Serializer

/** Task-metric totals of the Spark work one span caused. */
final class SparkWork {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakMem = 0L
  var resultBytes = 0L
  var inputBytes = 0L
  /** (start, end) epoch ms of each job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** One timed interval at a layer boundary. `parent` is -1 for an
  * operation's root span. */
final class Span(val id: Int, val parent: Int, val name: String, val op: String,
    val lap: Int, val startMs: Long, val startNs: Long) {
  var endNs = 0L
  /** Extra counts recorded at the boundary (codegen, serializer). */
  val counts = mutable.LinkedHashMap.empty[String, Double]
}

/** Spans kept in memory and written out when the run ends. Before each
  * layer call the span id goes into a SparkContext local property, so
  * the listener attributes jobs, stages and tasks to the span that
  * caused them. */
final class Tracer(spark: SparkSession) {
  val SpanProp = "graftbench.span"
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  val work = mutable.HashMap.empty[Int, SparkWork]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobSpan = mutable.HashMap.empty[Int, (Int, Long)]
  /** Planning records: (analysis start epoch ms, analysis, optimization,
    * planning ms, graft.plans rule ns). Attributed to operations by time. */
  val planning = mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
  private var current = -1

  def register(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def span[T](name: String, op: String, lap: Int)(body: => T): T = {
    val s = open(name, op, lap)
    try body finally close(s)
  }

  /** An operation's root span, with the codegen compile time and count
    * of everything under it. */
  def opSpan[T](op: String, lap: Int)(body: Span => T): T = {
    val ns0 = CodeGenerator.compileTime
    val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val s = open("op", op, lap)
    try body(s)
    finally {
      close(s)
      s.counts("codegen.compile_ns") = (CodeGenerator.compileTime - ns0).toDouble
      s.counts("codegen.compiles") = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0).toDouble
    }
  }

  private def open(name: String, op: String, lap: Int): Span = {
    val s = new Span(spans.size, current, name, op, lap, System.currentTimeMillis(), System.nanoTime())
    spans += s
    current = s.id
    sc.setLocalProperty(SpanProp, s.id.toString)
    s
  }

  private def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    current = s.parent
    sc.setLocalProperty(SpanProp, if (s.parent < 0) null else s.parent.toString)
  }

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt)

  private def workOf(span: Int): SparkWork = work.getOrElseUpdate(span, new SparkWork)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      spanOf(e.properties).foreach { s =>
        jobSpan(e.jobId) = (s, e.time)
        workOf(s).jobs += 1
        e.stageIds.foreach(stageSpan(_) = s)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach { case (s, t0) => workOf(s).jobIntervals += ((t0, e.time)) }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val s = spanOf(e.properties).orElse(stageSpan.get(e.stageInfo.stageId))
      s.foreach { id =>
        stageSpan(e.stageInfo.stageId) = id
        workOf(id).stages += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val w = workOf(s)
        w.tasks += 1
        w.cpuNs += m.executorCpuTime
        w.runMs += m.executorRunTime
        w.gcMs += m.jvmGCTime
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.peakMem = math.max(w.peakMem, m.peakExecutionMemory)
        w.resultBytes += m.resultSize
        w.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      val start = phases.get("analysis").orElse(phases.values.headOption)
        .map(_.startTimeMs).getOrElse(System.currentTimeMillis())
      val ruleNs = qe.tracker.rules.iterator
        .collect { case (name, r) if name.startsWith("graft.plans") => r.totalTimeNs }.sum
      Tracer.this.synchronized {
        planning += ((start, ms("analysis"), ms("optimization"), ms("planning"), ruleNs))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def toJson(spansOut: ArrayNode, planningOut: ArrayNode): Unit = synchronized {
    for (s <- spans) {
      val o: ObjectNode = spansOut.addObject()
      o.put("id", s.id); o.put("parent", s.parent); o.put("name", s.name)
      o.put("op", s.op); o.put("lap", s.lap)
      o.put("start_ms", s.startMs); o.put("dur_ns", s.endNs - s.startNs)
      s.counts.foreach { case (k, v) => o.put(k, v) }
      work.get(s.id).foreach { w =>
        o.put("jobs", w.jobs); o.put("stages", w.stages); o.put("tasks", w.tasks)
        o.put("cpu_ns", w.cpuNs); o.put("run_ms", w.runMs); o.put("gc_ms", w.gcMs)
        o.put("shuffle_read", w.shuffleRead); o.put("shuffle_write", w.shuffleWrite)
        o.put("spill", w.spill); o.put("peak_mem", w.peakMem)
        o.put("result_bytes", w.resultBytes); o.put("input_bytes", w.inputBytes)
        val iv = o.putArray("job_ms")
        w.jobIntervals.foreach { case (a, b) => iv.addArray().add(a).add(b) }
      }
    }
    for ((start, a, opt, pl, rule) <- planning)
      planningOut.addArray().add(start).add(a).add(opt).add(pl).add(rule)
  }
}

/** Decorating serializer: self time and rows of the serializer layer. */
final class TimedSerializer(inner: Serializer) extends Serializer {
  var ns = 0L
  var rows = 0L
  def serialize(record: Seq[(String, String)]): Unit = {
    val t = System.nanoTime()
    inner.serialize(record)
    ns += System.nanoTime() - t
    rows += 1
  }
  def close(): Unit = {
    val t = System.nanoTime()
    inner.close()
    ns += System.nanoTime() - t
  }
}

/** Counts the characters a serializer hands to its Writer. */
final class CountingWriter(inner: Writer) extends Writer {
  var chars = 0L
  override def write(c: Int): Unit = { chars += 1; inner.write(c) }
  override def write(s: String): Unit = { chars += s.length; inner.write(s) }
  override def write(s: String, off: Int, len: Int): Unit = { chars += len; inner.write(s, off, len) }
  override def write(buf: Array[Char], off: Int, len: Int): Unit = { chars += len; inner.write(buf, off, len) }
  override def flush(): Unit = inner.flush()
  override def close(): Unit = inner.close()
}
