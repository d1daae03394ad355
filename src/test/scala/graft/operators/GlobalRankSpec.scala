package graft.operators

import graft.SparkSpec

/** Pins the distributed global-rank rewrite (graft.plans.GlobalRank):
  * a single `row_number()` over an empty partition spec plans into
  * GlobalRankExec (range-partitioned, per-partition offsets) instead
  * of WindowExec's single-task AllTuples shape; every other window
  * keeps WindowExec. Ranks must equal the driver-side sort. */
class GlobalRankSpec extends SparkSpec {

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("global row_number plans into GlobalRankExec with correct ranks") {
    import spark.implicits._
    val n = 10000
    // multiple input partitions + duplicate keys so the range
    // exchange, per-partition offsets and tie handling all engage
    val df = spark.sparkContext
      .parallelize((0 until n).map(i => ((i * 2654435761L % 1000).toInt, i)), 8)
      .toDF("k", "payload")
    df.createOrReplaceTempView("gr_in")
    val ranked = spark.sql(
      "SELECT k, payload, row_number() OVER (ORDER BY k, payload) AS rn FROM gr_in")
    // SparkPlan.nodeName strips the Exec suffix, so the physical
    // string reads "GlobalRank" (no "!" — a bang would mark missing
    // producedAttributes)
    assert(physical(ranked).contains("GlobalRank") &&
      !physical(ranked).contains("!GlobalRank"),
      s"expected a clean GlobalRank node in:\n${physical(ranked)}")
    val rows = ranked.collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    assert(rows.length == n)
    // ranks are a permutation of 1..n and agree with the total order
    assert(rows.map(_._3).sorted.toSeq == (1 to n))
    val bySort = rows.sortBy(t => (t._1, t._2)).map(_._3).toSeq
    assert(bySort == (1 to n), "rank order disagrees with (k, payload) sort")
  }

  test("partitioned and non-row_number windows keep WindowExec") {
    import spark.implicits._
    val df = Seq((1, 10), (1, 20), (2, 30)).toDF("g", "v")
    df.createOrReplaceTempView("gr_in2")
    val partitioned = spark.sql(
      "SELECT g, row_number() OVER (PARTITION BY g ORDER BY v) FROM gr_in2")
    assert(!physical(partitioned).contains("GlobalRank"))
    assert(physical(partitioned).contains("Window"))
    // aggregate windows (running frames) are not rank-family and keep
    // WindowExec even over a global ORDER BY
    val agg = spark.sql("SELECT g, sum(v) OVER (ORDER BY v) FROM gr_in2")
    assert(!physical(agg).contains("GlobalRank"))
    assert(physical(agg).contains("Window"))
    // a window MIXING a rank-family and an aggregate expression over
    // one spec keeps WindowExec for the whole node
    val mixed = spark.sql(
      "SELECT rank() OVER (ORDER BY v), sum(v) OVER (ORDER BY v) FROM gr_in2")
    assert(!physical(mixed).contains("GlobalRank"))
    assert(physical(mixed).contains("Window"))
  }

  test("same-spec rank functions chain GlobalRanks over ONE range exchange") {
    import spark.implicits._
    val n = 10000
    // duplicate keys across 8 input partitions: tie chains, offsets
    // and every per-function summary pass engage
    val df = spark.sparkContext
      .parallelize((0 until n).map(i => ((i * 2654435761L % 37).toInt, i)), 8)
      .toDF("k", "payload")
    df.createOrReplaceTempView("gr_multi")
    val ranked = spark.sql(
      """SELECT k, payload,
        |  row_number() OVER (ORDER BY k) AS rn,
        |  rank()       OVER (ORDER BY k) AS rk,
        |  dense_rank() OVER (ORDER BY k) AS dr,
        |  ntile(7)     OVER (ORDER BY k) AS nt
        |FROM gr_multi""".stripMargin)
    val plan = physical(ranked)
    // the collapsed multi-expression Window plans as a GlobalRank
    // chain (round 16, VERDICT r15 #8), NOT single-task WindowExec...
    assert(plan.contains("GlobalRank") && !plan.contains("!GlobalRank"),
      s"expected GlobalRank chain in:\n$plan")
    assert(!plan.contains("Window("), s"expected no WindowExec in:\n$plan")
    // ...and the whole chain shares exactly ONE range exchange
    val nRange = "rangepartitioning".r.findAllIn(plan.toLowerCase).size
    assert(nRange == 1, s"expected 1 range exchange, got $nRange in:\n$plan")
    // values agree with a driver-side reference over the same data
    val rows = ranked.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)))
      .sortBy(t => (t._1, t._2))
    val keysSorted = rows.map(_._1)
    // rank/dense_rank reference
    var rk = 0; var dr = 0; var prev = Int.MinValue
    rows.zipWithIndex.foreach { case ((k, _, _, gotRk, gotDr, gotNt), i) =>
      if (k != prev) { rk = i + 1; dr += 1; prev = k }
      assert(gotRk == rk, s"rank mismatch at row $i")
      assert(gotDr == dr, s"dense_rank mismatch at row $i")
      // ntile(7) over n rows: first (n%7) buckets hold n/7+1
      val q = n / 7; val r7 = n % 7; val big = r7 * (q + 1)
      val expNt = if (i < big) i / (q + 1) + 1 else r7 + (i - big) / q + 1
      assert(gotNt == expNt, s"ntile mismatch at row $i")
    }
    // row_number: within equal keys order is engine-chosen, so check
    // it is a permutation of 1..n and each value falls inside its
    // key's global position range [rank, rank + groupSize - 1]
    assert(rows.map(_._3).sorted.toSeq == (1 to n))
    val groupSize = keysSorted.groupBy(identity).view.mapValues(_.length).toMap
    rows.foreach { case (k, _, gotRn, gotRk, _, _) =>
      assert(gotRn >= gotRk && gotRn < gotRk + groupSize(k),
        s"row_number $gotRn outside key $k's range [$gotRk, ${gotRk + groupSize(k) - 1})")
    }
  }

  test("global rank and dense_rank plan into GlobalRankExec with ties") {
    import spark.implicits._
    val n = 10000
    // only 37 distinct keys: massive tie groups, so per-partition
    // distinct/tail-tie accounting and the chain walk all engage
    val df = spark.sparkContext
      .parallelize((0 until n).map(i => ((i * 2654435761L % 37).toInt, i)), 8)
      .toDF("k", "payload")
    df.createOrReplaceTempView("gr_ties")
    for (fn <- Seq("rank", "dense_rank")) {
      val ranked = spark.sql(
        s"SELECT k, $fn() OVER (ORDER BY k) AS rnk FROM gr_ties")
      assert(physical(ranked).contains("GlobalRank") &&
        !physical(ranked).contains("!GlobalRank"),
        s"expected a clean GlobalRank node for $fn in:\n${physical(ranked)}")
      val rows = ranked.collect().map(r => (r.getInt(0), r.getInt(1)))
      assert(rows.length == n)
      // expected ranks from a driver-side sort
      val sortedKeys = rows.map(_._1).sorted
      val expected: Map[Int, Int] =
        if (fn == "rank")
          sortedKeys.zipWithIndex.groupBy(_._1)
            .map { case (k, g) => k -> (g.map(_._2).min + 1) }
        else
          sortedKeys.distinct.sorted.zipWithIndex
            .map { case (k, i) => k -> (i + 1) }.toMap
      rows.foreach { case (k, r) =>
        assert(r == expected(k), s"$fn($k) = $r, expected ${expected(k)}")
      }
    }
  }

  test("chainWalk carries tie groups across partition boundaries") {
    import graft.plans.{GlobalRankExec, GlobalRankPartStats}
    import org.apache.spark.sql.catalyst.expressions.{RowOrdering, UnsafeProjection}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.IntegerType
    val proj = UnsafeProjection.create(Array[org.apache.spark.sql.types.DataType](IntegerType))
    def key(v: Int) = proj(InternalRow(v)).copy()
    val ord = RowOrdering.createNaturalAscendingOrdering(Seq(IntegerType))
    // partitions: [1 1 2] [] [2 2] [2 3 3] — the key-2 group spans
    // three partitions (Spark's range exchange co-locates equal keys,
    // but the walk must not depend on that)
    val stats = Array(
      GlobalRankPartStats(3, 2, 2, 1, key(1), key(2)),
      GlobalRankPartStats(0, 0, 0, 0, null, null),
      GlobalRankPartStats(2, 1, 2, 2, key(2), key(2)),
      GlobalRankPartStats(3, 2, 1, 2, key(2), key(3)))
    val (offsets, headRank, headDense, tailEnd) =
      GlobalRankExec.chainWalk(stats, ord)
    assert(offsets.toSeq == Seq(0L, 3L, 3L, 5L, 8L))
    // rank: 1 1 3 | | 3 3 | 3 7 7   dense: 1 1 2 | | 2 2 | 2 3 3
    assert(headRank(0) == 1L && headRank(2) == 3L && headRank(3) == 3L)
    assert(headDense(0) == 1L && headDense(2) == 2L && headDense(3) == 2L)
    // the key-2 group (global rows 3..6) ends at 6 seen from every
    // partition whose trailing group it is; key-3 ends at the total
    assert(tailEnd(0) == 6L && tailEnd(2) == 6L && tailEnd(3) == 8L)
  }

  test("global percent_rank, cume_dist and ntile ride GlobalRankExec") {
    import spark.implicits._
    val n = 5000
    val df = spark.sparkContext
      .parallelize((0 until n).map(i => ((i * 2654435761L % 23).toInt, i)), 8)
      .toDF("k", "payload")
    df.createOrReplaceTempView("gr_pct")
    val keys = (0 until n).map(i => (i * 2654435761L % 23).toInt)
    val sorted = keys.sorted
    val countLt = keys.distinct.map(k => k -> sorted.indexWhere(_ == k)).toMap
    val countLe = keys.distinct.map(k => k -> sorted.lastIndexWhere(_ == k)).toMap

    val pr = spark.sql(
      "SELECT k, percent_rank() OVER (ORDER BY k) AS pr FROM gr_pct")
    assert(physical(pr).contains("GlobalRank") &&
      !physical(pr).contains("!GlobalRank"))
    pr.collect().foreach { r =>
      val want = countLt(r.getInt(0)).toDouble / (n - 1)
      assert(math.abs(r.getDouble(1) - want) < 1e-12,
        s"percent_rank(${r.getInt(0)}) = ${r.getDouble(1)}, want $want")
    }

    val cd = spark.sql(
      "SELECT k, cume_dist() OVER (ORDER BY k) AS cd FROM gr_pct")
    assert(physical(cd).contains("GlobalRank"))
    cd.collect().foreach { r =>
      val want = (countLe(r.getInt(0)) + 1).toDouble / n
      assert(math.abs(r.getDouble(1) - want) < 1e-12,
        s"cume_dist(${r.getInt(0)}) = ${r.getDouble(1)}, want $want")
    }

    // ntile: 7 does not divide 5000, so the remainder split engages
    val nt = spark.sql(
      "SELECT payload, ntile(7) OVER (ORDER BY k, payload) AS t FROM gr_pct")
    assert(physical(nt).contains("GlobalRank"))
    val byPayload = nt.collect().map(r => (r.getInt(0), r.getInt(1))).toMap
    val orderIdx = (0 until n).map(i => (keys(i), i))
      .sorted.map(_._2).zipWithIndex.toMap // payload -> 0-based global idx
    val q = n / 7; val rr = n % 7; val bigSpan = rr * (q + 1)
    (0 until n).foreach { p =>
      val i = orderIdx(p)
      val want = (if (i < bigSpan) i / (q + 1) else rr + (i - bigSpan) / q) + 1
      assert(byPayload(p) == want, s"ntile(payload=$p) = ${byPayload(p)}, want $want")
    }
  }

  test("global lag and lead ride GlobalRankExec across partitions") {
    import spark.implicits._
    val n = 4000
    val df = spark.sparkContext
      .parallelize((0 until n).map(i => ((i * 2654435761L % 100001).toInt, i)), 8)
      .toDF("k", "payload")
    df.createOrReplaceTempView("gr_off")
    val sorted = (0 until n).map(i => ((i * 2654435761L % 100001).toInt, i)).sorted
    // lag(payload, 3, -7): default engages for the first 3 rows
    val lag3 = spark.sql(
      "SELECT k, payload, lag(payload, 3, -7) OVER (ORDER BY k, payload) AS lg FROM gr_off")
    assert(physical(lag3).contains("GlobalRank") &&
      !physical(lag3).contains("!GlobalRank"),
      s"expected GlobalRank for lag in:\n${physical(lag3)}")
    val lagGot = lag3.collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getInt(2)).toMap
    sorted.zipWithIndex.foreach { case (kp, i) =>
      val want = if (i >= 3) sorted(i - 3)._2 else -7
      assert(lagGot(kp) == want, s"lag3 at $i: got ${lagGot(kp)}, want $want")
    }
    // lead(payload) with the default NULL default
    val lead1 = spark.sql(
      "SELECT k, payload, lead(payload) OVER (ORDER BY k, payload) AS ld FROM gr_off")
    assert(physical(lead1).contains("GlobalRank"))
    val leadGot = lead1.collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) null else Integer.valueOf(r.getInt(2)))).toMap
    sorted.zipWithIndex.foreach { case (kp, i) =>
      val want: Integer =
        if (i + 1 < n) Integer.valueOf(sorted(i + 1)._2) else null
      assert(leadGot(kp) == want, s"lead1 at $i: got ${leadGot(kp)}, want $want")
    }
    // IGNORE NULLS keeps WindowExec (scope guard)
    val ign = spark.sql(
      "SELECT lead(payload) IGNORE NULLS OVER (ORDER BY k) FROM gr_off")
    assert(!physical(ign).contains("GlobalRank"))
  }

  test("empty input and single row still rank") {
    import spark.implicits._
    Seq.empty[(Int, Int)].toDF("k", "v").createOrReplaceTempView("gr_empty")
    assert(spark.sql(
      "SELECT row_number() OVER (ORDER BY k) FROM gr_empty").count() == 0)
    Seq((5, 1)).toDF("k", "v").createOrReplaceTempView("gr_one")
    val one = spark.sql(
      "SELECT k, row_number() OVER (ORDER BY k) AS rn FROM gr_one").collect()
    assert(one.map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((5, 1)))
  }
}
