package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cli.GraftSession

/** Dedup-at-scale micro-benchmark: generates a multi-hundred-MB
  * synthetic corpus ENTIRELY ON EXECUTORS (spark.range → codegen text
  * synthesis; the driver never sees a document) with a known ~9%
  * exact-duplicate rate, then times the three dedup pipelines from
  * queries/Pipeline.scala at ~2000× the sf0.01 row count:
  *
  *  - exact dedup: sha256 groupBy with map-side partial min/count;
  *  - MinHash signatures + LSH banding: md5 per 3-gram shingle, 32
  *    permutations by double hashing, 8 band buckets, candidate-pair
  *    count (the expensive stages of p02 minus the tiny verify tail);
  *  - SimHash: 32 partial-sum columns per token row (p03's shape).
  *
  * The point is the scaling evidence: every stage is one
  * hash-partitioned groupBy over codegen projections — no driver
  * loops, no persisted intermediates, no all-pairs joins — so wall
  * time should track corpus bytes, and the known duplicate rate
  * checks the answer (dup groups ≈ n/11).
  */
object DedupBench {
  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    // optional second arg: comma-separated stage names to run (all by
    // default) — lets the 10× scale probe time one stage without
    // paying for the whole suite
    val stageFilter: Option[Set[String]] =
      args.lift(1).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def enabled(stage: String): Boolean = stageFilter.forall(_.contains(stage))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.build(s"local[$cpus]")

    // Synthetic corpus: doc id → 24 words of 8 hex chars each, from a
    // seed shared by every 11th doc and its predecessor (≈9% exact
    // dups). Codegen end-to-end; regenerated per consumer (cheaper
    // than caching 200+ MB for a bench about the dedup stages).
    def corpus: DataFrame = spark.range(0, n).select(
      col("id").as("doc_id"),
      array_join(expr(
        """transform(sequence(1, 24),
          |  k -> substr(md5(concat(
          |    CAST(CASE WHEN id % 11 = 10 THEN id - 1 ELSE id END AS STRING),
          |    ':', k)), 1, 8))"""
          .stripMargin), " ").as("text"))

    var failed = false
    def timed(name: String, expect: Seq[Any] = Nil)(df: => DataFrame): Unit = {
      if (!enabled(name)) return
      val t0 = System.nanoTime()
      val rows = df.collect()
      val secs = (System.nanoTime() - t0) / 1e9
      val summary = rows.map(_.toSeq.mkString(",")).mkString("; ")
      // known-rate falsification: the synthesized corpus makes every
      // stage's answer exactly derivable, so a wrong join/cut FAILS
      // the bench (nonzero exit) instead of inflating a number
      val got = rows.headOption.map(_.toSeq).getOrElse(Nil)
      val ok = expect.isEmpty || got == expect
      if (!ok) failed = true
      println(f"[dedup-bench] $name: $summary wall=$secs%.2f s " +
        f"(${n / secs}%.0f docs/s)" +
        (if (expect.isEmpty) "" else s" check=${if (ok) "OK" else s"FAIL expected $expect"}"))
    }

    val dups = n / 11
    timed("exact", Seq(n - dups, dups)) {
      corpus.groupBy(sha2(col("text"), 256).as("h"))
        .agg(min("doc_id").as("keep"), count(lit(1)).as("copies"))
        .agg(count(lit(1)).as("groups"),
          sum(when(col("copies") > 1, 1L).otherwise(0L)).as("dup_groups"))
    }

    // p42's steady-state shape, measured against `exact` above: dedup
    // a batch of n/10 NEW docs against the n-doc history WITHOUT
    // re-processing it. The history side is its persisted hash→min-id
    // index (materialized once here, OUTSIDE the timer — a deployment
    // maintains it incrementally, like the -dbfile generation store);
    // the timed probe is index scan + two broadcast joins, never a
    // corpus-wide shuffle (the only exchange is the single-row bench
    // aggregation). Every even batch doc copies a history doc's
    // exact text (seed (id*37) % n, normalized by the same %11 rule),
    // odd docs are novel, so the answer is exactly half and half and
    // a wrong probe fails the bench. The wall-time gap vs `exact`
    // (which re-shuffles all n docs) is the measured value of
    // incrementality; rate prints per HISTORY doc for comparability.
    val batchN = n / 10
    val idxDir = java.nio.file.Files.createTempDirectory("graft-dedup-idx")
    if (enabled("incremental")) {
      corpus.groupBy(sha2(col("text"), 256).as("h"))
        .agg(min("doc_id").as("doc_id"))
        .write.mode("overwrite").parquet(idxDir.toString)
    }
    timed("incremental", Seq((batchN + 1) / 2, batchN / 2)) {
      val batch = spark.range(0, batchN).select(
        (col("id") + n).as("doc_id"),
        sha2(expr(
          s"""CASE WHEN id % 2 = 0 THEN
             |  array_join(transform(sequence(1, 24),
             |    k -> substr(md5(concat(CAST(
             |      CASE WHEN (id * 37) % $n % 11 = 10
             |           THEN (id * 37) % $n - 1 ELSE (id * 37) % $n END
             |      AS STRING), ':', k)), 1, 8)), ' ')
             |ELSE concat('novel:', CAST(id AS STRING)) END""".stripMargin),
          256).as("h"))
      val idx = spark.read.parquet(idxDir.toString)
      // index is unique per hash and the probe set is deduplicated, so
      // hits stays ≤ batch-size and the probe is a pure inner BHJ —
      // no groupBy over the corpus, no join-induced exchange
      val hits = idx.join(broadcast(batch.select("h").distinct()), Seq("h"))
        .withColumnRenamed("doc_id", "dup_of")
      batch.join(broadcast(hits), Seq("h"), "left")
        .agg(sum(when(col("dup_of").isNotNull, 1L).otherwise(0L)).as("dups"),
          sum(when(col("dup_of").isNull, 1L).otherwise(0L)).as("novel"))
    }
    // the index parquet is bench scaffolding — don't leak it in /tmp
    deleteRecursively(idxDir.toFile)

    timed("minhash_lsh", Seq((8 * dups).toDouble)) {
      val sh = corpus
        .withColumn("toks", expr("split(text, ' ')"))
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, size(toks) - 3),
            |  k -> concat(toks[k], ' ', toks[k + 1], ' ', toks[k + 2]))"""
            .stripMargin)).as("sh"))
      // single md5 per shingle in its own projection, exactly like
      // p02 (CollapseProject would otherwise duplicate it)
      val hashed = sh.select(col("doc_id"), md5(col("sh")).as("m"))
        .select(col("doc_id"),
          expr("CAST(conv(substr(m, 1, 13), 16, 10) AS BIGINT)").as("h1"),
          expr("CAST(conv(substr(m, 14, 13), 16, 10) AS BIGINT)").as("h2"))
      val aggs = (0 until 32).map(i =>
        min(col("h1") + lit(i.toLong) * col("h2")).as(s"m$i"))
      val sig = hashed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      val bandCols = (0 until 8).map { b =>
        val ms = (b * 4 until (b + 1) * 4).map(i => col(s"m$i"))
        struct(lit(b).as("band"), md5(concat_ws(",", ms: _*)).as("bkey"))
      }
      val buckets = sig
        .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
      buckets.groupBy("band", "bkey").agg(count(lit(1)).as("sz"))
        .agg(sum(expr("sz * (sz - 1) / 2")).as("cand_pairs"))
    }

    timed("minhash_lsh_xxhash64", Seq((8 * dups).toDouble)) {
      // The PRODUCTION hash path: the oracle-verified operators use
      // md5 because it is the only hash both engines compute
      // bit-identically, but a deployment free of the cross-engine
      // constraint uses xxhash64 — codegen-native, no hex round-trip.
      // Same pipeline shape (h1/h2 double hashing, 32 permutations,
      // 8 band buckets); only the per-shingle hash changes. The gap
      // vs `minhash_lsh` is the measured cost of oracle-exactness,
      // not of the pipeline.
      val sh = corpus
        .withColumn("toks", expr("split(text, ' ')"))
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, size(toks) - 3),
            |  k -> concat(toks[k], ' ', toks[k + 1], ' ', toks[k + 2]))"""
            .stripMargin)).as("sh"))
      // mask to 52 bits like the md5 halves: h1 + 31*h2 must not
      // overflow int64 (ANSI mode errors on wraparound)
      val hashed = sh.select(col("doc_id"),
        expr("xxhash64(sh) & 4503599627370495").as("h1"),
        expr("xxhash64(sh, 1) & 4503599627370495").as("h2"))
      val aggs = (0 until 32).map(i =>
        min(col("h1") + lit(i.toLong) * col("h2")).as(s"m$i"))
      val sig = hashed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      val bandCols = (0 until 8).map { b =>
        val ms = (b * 4 until (b + 1) * 4).map(i => col(s"m$i"))
        struct(lit(b).as("band"), xxhash64(ms: _*).as("bkey"))
      }
      val buckets = sig
        .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
      buckets.groupBy("band", "bkey").agg(count(lit(1)).as("sz"))
        .agg(sum(expr("sz * (sz - 1) / 2")).as("cand_pairs"))
    }

    timed("simhash64_neardup", Seq(dups)) {
      // p44's shape at PRODUCTION parameters: the oracle-verified
      // operator uses a 32-bit md5-derived fingerprint with 8-bit
      // blocks (the widest DuckDB can replicate bit-identically);
      // this stage runs the Manku-style 64-bit variant — xxhash64
      // token hashes, 64 sign sums, 4×16-bit blocks, so bucket
      // occupancy stays ~n/65536 per block and the pigeonhole
      // guarantee covers Hamming ≤ 3. Every 11th doc copies its
      // predecessor's text (identical fingerprint, distance 0), and a
      // random 64-bit pair at distance ≤ 3 is a 2.4e-15 event, so the
      // near-pair count must be exactly the planted dup count — a
      // wrong band join or popcount fails the bench.
      val tok = corpus.select(col("doc_id"), explode(expr("split(text, ' ')")).as("tok"))
        .select(col("doc_id"), expr("xxhash64(tok)").as("h"))
      val bitSums = (0 until 64).map(j =>
        sum(expr(s"CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END")).as(s"s$j"))
      val sig = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
        .select(col("doc_id"),
          (0 until 64).map(j =>
            when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
            .reduce(_ + _).as("fp"))
        .localCheckpoint() // fingerprints materialize once for the self-join
      val bands = sig.select(col("doc_id"), col("fp"),
          explode(expr("sequence(0, 3)")).as("b"))
        .withColumn("bkey", expr("(fp >> (16 * b)) & 65535"))
      val cand = bands.as("x").join(bands.as("y"),
          col("x.b") === col("y.b") && col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("ida"), col("y.doc_id").as("idb"),
          col("x.fp").as("fa"), col("y.fp").as("fb"))
        .distinct()
      cand.where(expr("bit_count(fa ^ fb) <= 3"))
        .agg(count(lit(1)).as("near_pairs"))
    }

    timed("span_dedup", Seq(n, 8 * n)) {
      // p36's shape at scale: segment explode → one hash-partitioned
      // df groupBy → anti-join against the boilerplate set → per-doc
      // rebuild. Every doc gets one injected constant "header" span
      // (df = n, scrubbed) on top of its 8 content spans (df ≤ 2 from
      // the pair-duplicate rate, kept), so the expected answer is
      // exact: docs = n, segs_kept = 8n — a wrong anti-join or df cut
      // fails the bench instead of inflating it.
      val segs = corpus
        .withColumn("toks", expr("split(text, ' ')"))
        .select(col("doc_id"), posexplode(expr(
          """concat(array('graft common header'),
            |  transform(sequence(0, CAST(size(toks) / 3 AS INT) - 1),
            |    i -> array_join(slice(toks, i * 3 + 1, 3), ' ')))"""
            .stripMargin)).as(Seq("pos", "seg")))
      val boiler = segs.groupBy("seg").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 3).select("seg")
      val kept = segs.join(boiler, Seq("seg"), "left_anti")
      kept.groupBy("doc_id").agg(count(lit(1)).as("k"))
        .agg(count(lit(1)).as("docs"), sum("k").as("segs_kept"))
    }

    // p50's shape at scale: width-4 windows at EVERY offset → one
    // hash-partitioned window-df groupBy → per-doc gaps-and-islands
    // merge into maximal spans. The corpus adds a CONSTANT 6-word run
    // at a doc-dependent offset to every 4th non-pair doc (3 interior
    // windows duplicated corpus-wide → exactly one 6-token span), and
    // the %11 seed pairs are full duplicates (every window dup → one
    // 24-token span), so total spans and removed tokens are exact
    // integers and a wrong df cut, island break or boundary
    // off-by-one fails the bench. Words here are 16 hex chars (64
    // bits), not the 8 the other stages use: a boundary window mixes
    // ONE random word with three constant run words, so its collision
    // domain is a single word — 32-bit words birthday-collide across
    // the ~n/4 injected docs (measured: 4 spurious window dups at
    // n=200k) where 64-bit words put the probability at ~1e-7 even
    // at the 10M probe.
    val (subSpansExp, subRemovedExp) = {
      var spans = 0L; var removed = 0L; var id = 0L
      while (id < n) {
        if (id % 11 == 10 || (id % 11 == 9 && id + 1 < n)) {
          spans += 1; removed += 24
        } else if (id % 4 == 0 && id % 11 < 9) {
          spans += 1; removed += 6
        }
        id += 1
      }
      (spans, removed)
    }
    timed("substring_dedup", Seq(subSpansExp, subRemovedExp)) {
      val sub = spark.range(0, n).select(
        col("id").as("doc_id"),
        expr(
          """transform(sequence(1, 24), k ->
            |  CASE WHEN id % 4 = 0 AND id % 11 < 9
            |        AND k >= CAST(id % 3 AS INT) + 3
            |        AND k <= CAST(id % 3 AS INT) + 8
            |    THEN concat('shared', CAST(k - (id % 3) - 3 AS STRING))
            |    ELSE substr(md5(concat(
            |      CAST(CASE WHEN id % 11 = 10 THEN id - 1 ELSE id END AS STRING),
            |      ':', k)), 1, 16) END)""".stripMargin).as("toks"))
      val w = sub.select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(toks) - 3),
            |  p -> named_struct('pos', CAST(p AS BIGINT),
            |    'ws', array_join(slice(toks, p, 4), ' ')))""".stripMargin)).as("t"))
        .select(col("doc_id"), col("t.pos").as("pos"), col("t.ws").as("ws"))
      val dupSet = w.groupBy("ws")
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 2).select("ws")
      val dup = w.join(dupSet, "ws").select("doc_id", "pos")
      val wdoc = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
      dup.withColumn("prev", lag("pos", 1).over(wdoc))
        .withColumn("brk", when(col("prev").isNull ||
          col("pos") > col("prev") + 4, 1L).otherwise(0L))
        .withColumn("island", sum("brk").over(wdoc.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
        .groupBy("doc_id", "island")
        .agg(min("pos").as("st"), (max("pos") + lit(3L)).as("en"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("en") - col("st") + 1).as("removed"))
    }

    // p45's bloom-pruned decontamination vs p24's exact shape, same
    // corpus and 8-gram rule (eval set = doc_id % 13 = 0). Word
    // strings are md5-derived per (seed, position), so a cross-seed
    // 8-gram collision is a 2^-256 event — contamination is exactly
    // "shares a seed with an eval doc", and the expected count is one
    // driver-side integer loop. Both stages end in the same distinct
    // gram exchange + confirm join; the bloom stage's bit-test prunes
    // BELOW that exchange, so its shuffle carries only the ~8% bloom-
    // positive grams while the exact stage shuffles all of them — the
    // wall gap is the measured value of the 2.5 MB mask vs the
    // ~90 MB eval gram dictionary the exact path must move around.
    val evalSeedSet = {
      val s = new java.util.HashSet[Long]()
      var e = 0L
      while (e < n) { s.add(if (e % 11 == 10) e - 1 else e); e += 13 }
      s
    }
    val expectedContam: Long = {
      var c = 0L; var d = 0L
      while (d < n) {
        if (evalSeedSet.contains(if (d % 11 == 10) d - 1 else d)) c += 1
        d += 1
      }
      c
    }
    def rawGramsDf = corpus.withColumn("toks", expr("split(text, ' ')"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, 16), k -> array_join(slice(toks, k + 1, 8), ' '))"))
        .as("gram"))
    def gramsDf = rawGramsDf.distinct()

    timed("decontam_exact", Seq(expectedContam)) {
      val g = gramsDf
      val eg = g.filter(col("doc_id") % 13 === 0).select("gram").distinct()
      g.join(eg, "gram").agg(countDistinct("doc_id").as("contaminated"))
    }

    timed("decontam_bloom", Seq(expectedContam)) {
      val g = gramsDf
      val eg = g.filter(col("doc_id") % 13 === 0).select("gram").distinct()
        .localCheckpoint()
      val m = 16L * eg.count()
      // Kirsch–Mitzenmacher double hashing, exactly like p45: one md5
      // per gram projected into named h1/h2 columns (codegen CSE does
      // not span the conjunction), bit-test before the distinct
      val h1Sql = "CAST(conv(substr(md5(concat('bf:', gram)), 1, 13), 16, 10) AS BIGINT)"
      val h2Sql = "CAST(conv(substr(md5(concat('bf:', gram)), 14, 13), 16, 10) AS BIGINT)"
      def posSql(j: Int, h1: String = h1Sql, h2: String = h2Sql) =
        s"($h1 + ${j}L * $h2) % ${m}L"
      val positions = eg.select(explode(expr(
          (0 until 3).map(j => posSql(j)).mkString("array(", ", ", ")"))).as("pos"))
        .distinct().collect().map(_.getLong(0))
      val mask = new Array[Long](((m + 63) / 64).toInt)
      positions.foreach(p => mask(p.toInt / 64) |= (1L << (p.toInt % 64)))
      val bloomPass = (0 until 3)
        .map(j => posSql(j, "h1", "h2"))
        .map(p => s"((shiftright(element_at(bfmask, CAST(($p) DIV 64 AS INT) + 1)," +
          s" CAST(($p) % 64 AS INT)) & 1) = 1)")
        .mkString(" AND ")
      val cand = rawGramsDf
        .withColumn("h1", expr(h1Sql)).withColumn("h2", expr(h2Sql))
        .withColumn("bfmask", typedLit(mask.toSeq))
        .filter(expr(bloomPass)).select("doc_id", "gram").distinct()
      cand.join(eg, "gram").agg(countDistinct("doc_id").as("contaminated"))
    }

    timed("simhash", Seq(n)) {
      // conv bit-packing per token, exactly like p03
      val tok = corpus
        .select(col("doc_id"), explode(expr("split(text, ' ')")).as("tok"))
        .select(col("doc_id") +: (0 until 4).map(g =>
          expr(s"CAST(conv(substr(md5(tok), ${g * 8 + 1}, 8), 16, 10) AS BIGINT)")
            .as(s"g$g")): _*)
      val bitSums = (0 until 32).map { j =>
        val (g, dIdx) = (j / 8, j % 8)
        sum(expr(s"CASE WHEN (g$g >> ${31 - 4 * dIdx}) & 1 = 1 THEN 1 ELSE -1 END"))
          .as(s"s$j")
      }
      tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
        .select(col("doc_id"))
        .agg(count(lit(1)).as("docs"))
    }

    // The -dbfile generation-store cost curve (VERDICT r4 #5): drive
    // the REAL CLI append path (graft.cli.Main → GraftSession.loadAll:
    // one immutable generation per invocation, manifest cutover,
    // LSM-style compaction past CompactThreshold=16, stale-gen sweep)
    // for 40 appends — enough to cross compaction twice — and print
    // the per-append seconds. Steady-state appends cost O(own rows);
    // the two compaction spikes cost O(live set). Self-falsifying:
    // the final count must equal appends × rows (no rows lost or
    // duplicated across cutovers) and the live set must stay bounded
    // by the threshold, else nonzero exit.
    if (enabled("compaction_curve")) {
      val appends = 40
      val rowsPer = 20000
      val db = java.nio.file.Files.createTempDirectory("graft-dbfile-bench")
      val dbfile = db.resolve("store").toString
      val tdir = java.nio.file.Paths.get(dbfile + ".d", "a")
      def liveGenCount(): Int = {
        val mf = tdir.resolve("MANIFEST")
        if (java.nio.file.Files.exists(mf))
          java.nio.file.Files.readString(mf).split("\n").count(_.trim.nonEmpty)
        else 0
      }
      val times = Array.ofDim[Double](appends)
      val gens = Array.ofDim[Int](appends)
      var maxGens = 0
      val t0 = System.nanoTime()
      for (a <- 0 until appends) {
        val f = java.nio.file.Files.createTempFile("graft-append", ".txt")
        val sb = new StringBuilder(rowsPer * 12)
        var i = 0
        while (i < rowsPer) { sb.append(a * rowsPer + i).append(" v").append(i).append('\n'); i += 1 }
        java.nio.file.Files.writeString(f, sb.toString)
        val ta = System.nanoTime()
        val sw = new java.io.StringWriter
        val rc = cli.Main.run(
          Seq("-dbfile", dbfile, "select a1 from a limit 1", f.toString), spark, sw)
        times(a) = (System.nanoTime() - ta) / 1e9
        gens(a) = liveGenCount()
        maxGens = math.max(maxGens, gens(a))
        java.nio.file.Files.delete(f)
        if (rc != 0) failed = true
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val sw = new java.io.StringWriter
      cli.Main.run(Seq("-dbfile", dbfile, "-noinput", "select count(*) from a"), spark, sw)
      val total = sw.toString.trim.toLong
      val ok = total == appends.toLong * rowsPer && maxGens <= cli.GraftSession.CompactThreshold
      if (!ok) failed = true
      println(f"[dedup-bench] compaction_curve: appends=$appends rows_per=$rowsPer " +
        f"total=$total (expect ${appends.toLong * rowsPer}) max_live_gens=$maxGens " +
        f"wall=$secs%.2f s (${appends / secs}%.2f appends/s) " +
        s"append_secs=${times.map(t => f"$t%.2f").mkString(",")} " +
        s"live_gens=${gens.mkString(",")} check=${if (ok) "OK" else "FAIL"}")
      deleteRecursively(db.toFile)
    }

    spark.stop()
    if (failed) sys.exit(1)
  }
}
