package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.cli.GraftSession

/** Stateful-streaming throughput micro-benchmark: drives N synthetic
  * events through the real Structured Streaming path — MemoryStream
  * source → event-time watermark → tumbling-window aggregation →
  * APPEND-mode sink — in fixed-size micro-batches, so the number
  * includes the per-micro-batch state-store commit cost that
  * dominates small-batch streaming, not just the aggregation
  * arithmetic.
  *
  * The event stream is deterministic (event i: ts = i DIV 20 seconds
  * from epoch — integer division, so hour h holds exactly 72,000
  * events — type = i % 7, value = i % 1000) and arrives in time
  * order, so append-mode emission is exactly derivable: a (window,
  * type) group emits iff its window end <= max(ts) − 1 hour
  * watermark delay. The final counts are checked against those
  * formulas — a watermark bug (early, late, or missing emission) or
  * a dropped batch FAILS the bench (nonzero exit) instead of
  * printing a wrong number. State is bounded by the watermark: only
  * windows younger than the delay stay in the store, independent of
  * how many batches have passed. Shuffle partitions are sized to
  * state like StreamOps does.
  */
object StreamBench {
  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2000000L)
    // optional second arg: comma-separated stage filter (window,
    // sessionize) — all stages by default
    val stageFilter: Option[Set[String]] =
      args.lift(1).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def enabled(stage: String): Boolean = stageFilter.forall(_.contains(stage))
    val batches = 20
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.build(s"local[$cpus]")
    spark.conf.set("spark.sql.shuffle.partitions", 4L) // sized to state
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    var failed = false

    if (enabled("sessionize")) {
      // The CUSTOM-STATE path (s09's flatMapGroupsWithState
      // sessionization) at throughput scale, multi-batch: events
      // arrive time-ordered at 20/s across U users in 600 s activity
      // blocks separated by 601 s holes, so every user closes a
      // session at every block boundary — sessions, their sizes and
      // the append emission cut are all exactly derivable, and a
      // wrong merge, eviction or timeout FAILS the bench. Batch
      // boundaries fall mid-block, so sessions extend across
      // micro-batches (the cross-batch state path, not just the
      // single-batch replay the oracle row exercises).
      val U = 100
      val perBlock = 12000L // 600 s of activity at 20 events/s
      // epoch offset: a timestamp at exactly epoch second 0 sits on
      // the initial watermark and is dropped as late by the engine's
      // pre-state filter; shifting is invisible to the emission
      // arithmetic (both sides of the cut shift together)
      val epoch0 = 86400L
      val input = MemoryStream[Long]
      val ev = input.toDS()
        .select((col("value") % U).as("user_id"),
          timestamp_seconds(expr(
            s"$epoch0 + value DIV 20 + 601 * (value DIV $perBlock)")).as("ts"),
          lit(1.0).as("v"))
        .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
          col("v"))
        .withWatermark("ts", "1 hour")
        .as[(Long, java.sql.Timestamp, Long, Double)]
      val sessions = graft.streaming.StreamOps.sessionize(ev)
      val out = java.nio.file.Files.createTempDirectory("graft-sbench-sess-out")
      val ckpt = java.nio.file.Files.createTempDirectory("graft-sbench-sess-ckpt")
      val q = sessions.writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      // 16 batches of a 200-block stream: batch boundaries land
      // MID-block (12.5 blocks per batch), so open sessions genuinely
      // extend across micro-batches; events stay time-ordered, so no
      // row is ever late regardless of alignment
      val sessBatches = 16
      val per = n / sessBatches
      val stateRows = scala.collection.mutable.ArrayBuffer.empty[Long]
      val t0 = System.nanoTime()
      try {
        var b = 0L
        while (b < sessBatches) {
          input.addData(b * per until (b + 1) * per)
          q.processAllAvailable()
          val p = q.lastProgress
          if (p != null && p.stateOperators.nonEmpty)
            stateRows += p.stateOperators.map(_.numRowsTotal).sum
          b += 1
        }
      } finally q.stop()
      val secs = (System.nanoTime() - t0) / 1e9
      // expectation: session (block b, user u) ends at its last
      // event's second + the 600 s gap and emits iff that is at or
      // below the final watermark — all integer arithmetic
      val blocks = (n / perBlock).toInt
      val maxSec = (n - 1) / 20 + 601L * ((n - 1) / perBlock)
      val wmSec = maxSec - 3600L
      var expSessions = 0L
      for (b <- 0 until blocks; u <- 0 until U) {
        val lastI = b * perBlock + perBlock - U + u
        val endSec = lastI / 20 + 601L * b + 600L
        if (endSec <= wmSec) expSessions += 1
      }
      val expEvents = expSessions * (perBlock / U)
      val r = spark.read.parquet(out.toString)
        .agg(count(lit(1)).as("sessions"),
          coalesce(sum("n_events"), lit(0L)).as("events")).head()
      // state holds at most one entry per user (plus tombstone churn)
      val stateOk = stateRows.nonEmpty && stateRows.max <= 2L * U
      val ok = r.getLong(0) == expSessions && r.getLong(1) == expEvents && stateOk
      if (!ok) failed = true
      println(f"[stream-bench] sessionize: events=${per * sessBatches} " +
        f"sessions=${r.getLong(0)} (expect $expSessions) " +
        f"session_events=${r.getLong(1)} (expect $expEvents) " +
        f"wall=$secs%.2f s (${per * sessBatches / secs}%.0f events/s) " +
        s"state_max=${stateRows.max} " +
        s"state=${if (stateOk) "BOUNDED" else "GROWING"} " +
        s"check=${if (ok) "OK" else "FAIL"}")
      deleteRecursively(out.toFile); deleteRecursively(ckpt.toFile)
    }

    if (!enabled("window")) { spark.stop(); if (failed) sys.exit(1); return }

    val input = MemoryStream[Long]
    val events = input.toDS()
      .select(
        timestamp_seconds(expr("value DIV 20")).as("ts"),
        (col("value") % 7).cast("string").as("event_type"),
        (col("value") % 1000).cast("double").as("v"))
    val agg = events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("c"), sum("v").as("sv"))
      .select(col("window.start").as("ws"), col("event_type"), col("c"))
    val out = java.nio.file.Files.createTempDirectory("graft-sbench-out")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sbench-ckpt")
    val q = agg.writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()

    val per = n / batches
    // per-batch state-store size: rows held by the windowed agg after
    // each micro-batch group, read from StreamingQueryProgress
    val stateRows = scala.collection.mutable.ArrayBuffer.empty[Long]
    val t0 = System.nanoTime()
    try {
      var b = 0L
      while (b < batches) {
        input.addData(b * per until (b + 1) * per)
        q.processAllAvailable()
        val p = q.lastProgress
        if (p != null && p.stateOperators.nonEmpty)
          stateRows += p.stateOperators.map(_.numRowsTotal).sum
        b += 1
      }
    } finally q.stop()
    val secs = (System.nanoTime() - t0) / 1e9

    // The watermark-bounded-state CLAIM, asserted: rows in the store
    // must plateau at (windows inside the delay horizon × types) —
    // here ≤ 3 in-flight hour windows × 7 types — independent of how
    // many batches have replayed. Each batch advances event time by
    // per/20 s ≈ 1.4 h > delay + window, so the plateau is reached
    // within the first half; if the second half ever exceeds the
    // first-half max, state is growing with batch count (eviction
    // bug) and the bench FAILS.
    val (head, tail) = stateRows.splitAt(stateRows.length / 2)
    val stateOk = head.nonEmpty && tail.nonEmpty &&
      tail.max <= head.max && stateRows.last > 0

    // Emission rule on bounded input: window [h, h+1) emits iff
    // (h+1)*3600 <= maxTs - 3600, with maxTs = (n-1) DIV 20. Events
    // are uniform, so every emitted hour contributes 72,000 events
    // across its 7 type groups.
    val maxTs = (n - 1) / 20
    val emittedHours = math.max(0L, (maxTs - 3600L) / 3600L - 1L + 1L)
    val expectTotal = emittedHours * 72000L
    val expectGroups = emittedHours * 7L
    val result = spark.read.parquet(out.toString)
      .agg(coalesce(sum("c"), lit(0L)).as("total"), count(lit(1)).as("groups"))
      .head()
    val total = result.getLong(0)
    val groups = result.getLong(1)
    val ok = total == expectTotal && groups == expectGroups && stateOk
    println(f"[stream-bench] events=${per * batches} batches=$batches " +
      f"emitted_groups=$groups (expect $expectGroups) emitted_total=$total " +
      f"(expect $expectTotal) wall=$secs%.2f s " +
      f"(${per * batches / secs}%.0f events/s) " +
      s"state_rows=${stateRows.mkString(",")} " +
      s"state=${if (stateOk) "BOUNDED" else "GROWING"} " +
      s"check=${if (ok) "OK" else "FAIL"}")
    spark.stop()
    if (!ok || failed) sys.exit(1)
  }
}
