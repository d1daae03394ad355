package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cli.GraftSession

/** ANN-at-scale micro-benchmark: 1M+ synthetic 64-dim vectors
  * generated ON EXECUTORS (seeded SplittableRandom per id — bench
  * only; the verified operators derive weights from md5 for oracle
  * parity) and pushed through the p09 cross-polytope bucket-assignment
  * kernel shape at ~500× the sf0.1 vector count. Two measurements:
  *
  *  - kernel throughput: generate + 8×64 projections + top-2 probes
  *    per vector, one fused loop, zero shuffle (the 100 TB map side);
  *  - bucket occupancy at composite-key arity k=1 vs k=2 — the scale
  *    knob documented at Pipeline's CpTables declaration: at k=1 the
  *    2·64-bucket tables overfill linearly with n (quadratic
  *    candidate pairs); k=2 (ordered top-2 component pair, ~16k
  *    buckets/table) restores bounded occupancy. The printed
  *    max/mean bucket sizes and estimated candidate-pair counts make
  *    the trade-off concrete.
  */
object VectorBench {

  final case class Bucket1(vec_id: Long, tbl: Int, j: Int, sgn: Boolean)
  final case class Bucket2(
      vec_id: Long, tbl: Int, j1: Int, sgn1: Boolean, j2: Int, sgn2: Boolean)

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.build(s"local[$cpus]")
    import spark.implicits._

    val nTables = 8
    val nDim = 64
    // ±1 projection weights, seeded deterministically
    val weights: Array[Array[Double]] = {
      val rnd = new java.util.SplittableRandom(0x5eed)
      Array.fill(nTables * nDim)(Array.fill(nDim)(if (rnd.nextBoolean()) 1.0 else -1.0))
    }

    def timed[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[vector-bench] $name: wall=$secs%.2f s (${n / secs}%.0f vec/s)")
      r
    }

    /** Generate vector id's components and return its per-table top-2
      * signed components — the p09 kernel shape. */
    def topTwo(id: Long): Array[(Int, Int, Boolean, Int, Boolean)] = {
      val rnd = new java.util.SplittableRandom(id)
      val v = Array.fill(nDim)(rnd.nextDouble() * 2 - 1)
      val out = new Array[(Int, Int, Boolean, Int, Boolean)](nTables)
      var t = 0
      while (t < nTables) {
        var bestJ = -1; var bestA = -1.0; var bestP = 0.0
        var secJ = -1; var secA = -1.0; var secP = 0.0
        var j = 0
        while (j < nDim) {
          val w = weights(t * nDim + j)
          var acc = 0.0
          var i = 0
          while (i < nDim) { acc += v(i) * w(i); i += 1 }
          val a = math.abs(acc)
          if (a > bestA) {
            secJ = bestJ; secA = bestA; secP = bestP
            bestJ = j; bestA = a; bestP = acc
          } else if (a > secA) { secJ = j; secA = a; secP = acc }
          j += 1
        }
        out(t) = (t, bestJ, bestP > 0, secJ, secP > 0)
        t += 1
      }
      out
    }

    // Stage 1: kernel throughput (generate + 512 projections + probes).
    val ranked1 = spark.range(0, n).as[Long].mapPartitions(_.flatMap { id =>
      topTwo(id).map { case (t, j, sgn, _, _) => Bucket1(id, t, j, sgn) }
    })
    timed("cp_kernel_k1") {
      val r = ranked1.groupBy().agg(count(lit(1)).as("rows")).collect()(0)
      assert(r.getLong(0) == n * nTables)
    }

    def occupancy(name: String, buckets: DataFrame): Unit = {
      val stats = buckets
        .groupBy(buckets.columns.filter(_ != "vec_id").map(col): _*)
        .agg(count(lit(1)).as("sz"))
        .agg(max("sz").as("max_sz"), avg("sz").as("mean_sz"),
          sum(expr("sz * (sz - 1) / 2")).as("cand_pairs"))
        .collect()(0)
      println(s"[vector-bench] $name: max_bucket=${stats.get(0)} " +
        f"mean_bucket=${stats.getDouble(1)}%.1f est_cand_pairs=${stats.get(2)}")
    }

    // Stage 2: occupancy — k=1 (home bucket only) vs k=2 composite.
    occupancy("occupancy_k1", ranked1.toDF())
    val ranked2 = spark.range(0, n).as[Long].mapPartitions(_.flatMap { id =>
      topTwo(id).map { case (t, j1, s1, j2, s2) => Bucket2(id, t, j1, s1, j2, s2) }
    })
    occupancy("occupancy_k2", ranked2.toDF())

    // Stage 3 (round 10): the PRODUCTION arity rule — p09/p14 now
    // derive composite-key arity from the corpus count (the r9 sf1.0
    // sweep measured the fixed-arity operator at ~12.5× for 10× data;
    // with the rule it measures 1.5×). Self-falsifying: for every
    // corpus size the chosen k must keep MEAN primary-bucket
    // occupancy n/128^k at or below the 128-target (the bound that
    // makes per-bucket self-join cost constant in n), while k stays
    // minimal (k-1 would overfill, except at the k=1 floor).
    for (nn <- Seq(500L, 2000L, 20000L, 1000000L, 1000000000L, 1000000000000L)) {
      val k = graft.queries.Pipeline.annArity(nn)
      val occ = nn / math.pow(128.0, k)
      println(f"[vector-bench] arity n=$nn%-13d k=$k occupancy=$occ%.2f")
      assert(k >= 1 && k <= 8, s"arity out of range: $k")
      assert(k == 8 || occ <= 128.0 + 1e-9,
        f"arity $k leaves mean occupancy $occ%.1f above the 128 target at n=$nn")
      assert(k == 1 || nn / math.pow(128.0, k - 1) > 128.0,
        s"arity $k is not minimal at n=$nn")
    }

    // Stage 4 (round 12, VERDICT r11 #6): recall ACROSS THE ARITY
    // LADDER, measured on the real p09 operator. Determinism is
    // hash-verified at every arity by the oracle gate, but recall was
    // only measured at k=1; a corpus sized past each 128^k·128
    // transition exercises k=2 and k=3. Construction: `nn` isotropic
    // base vectors plus `planted` near-duplicate partners at target
    // cosines spread over [~0.35, ~0.95] (the dedup operating range);
    // ground truth is the planted pairs' EXACT cosine (driver-side,
    // `planted` dot products — no brute-force n² pass), restricted to
    // pairs that clear the operator's 0.35 verify threshold with
    // margin. Self-falsifying: recall must clear the 0.7 floor at
    // each measured arity.
    def baseVec(id: Long): Array[Double] = {
      val rnd = new java.util.SplittableRandom(id * 0x9E3779B97F4A7C15L + 1)
      Array.fill(nDim)(rnd.nextDouble() * 2 - 1)
    }
    /** Planted partner p of base vector `p*stride`: plus noise scaled
      * so cos spans ~[0.95 → 0.35] as p grows. */
    def partnerVec(p: Long, stride: Long, planted: Int): Array[Double] = {
      val v = baseVec(p * stride)
      val rnd = new java.util.SplittableRandom(p * 0xC2B2AE3D27D4EB4FL + 7)
      val g = Array.fill(nDim)(rnd.nextDouble() * 2 - 1)
      val lam = 0.33 + (2.70 - 0.33) * p.toDouble / planted
      Array.tabulate(nDim)(i => v(i) + lam * g(i))
    }
    /** Write the planted corpus under `dir` and return the
      * ground-truth planted pairs clear of the 0.35 verify edge. */
    def plantCorpus(dir: java.nio.file.Path, nn: Long, planted: Int)
        : Set[(Long, Long)] = {
      val stride = nn / planted
      val nb = nn
      val pl = planted.toLong
      // deterministic construction: a completed write is reusable
      // across calibration JVMs (the frontier3 per-cap sweep), so
      // skip the regenerate when the marker is present
      if (!java.nio.file.Files.exists(
          dir.resolve("embeddings.parquet").resolve("_SUCCESS")))
        spark.range(0, nb + pl).as[Long].mapPartitions(_.map { id =>
          val v = if (id < nb) baseVec(id) else partnerVec(id - nb, stride, planted)
          (id, v.map(_.toFloat), 0)
        }).toDF("vec_id", "embedding", "label")
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      (0L until pl).flatMap { p =>
        val a = baseVec(p * stride)
        val b = partnerVec(p, stride, planted)
        var dot = 0.0; var na = 0.0; var nbr = 0.0; var i = 0
        while (i < nDim) { dot += a(i) * b(i); na += a(i) * a(i); nbr += b(i) * b(i); i += 1 }
        val cos = dot / math.sqrt(na * nbr)
        // stay clear of the operator's round(cos, 6) >= 0.35 edge
        if (cos >= 0.3505) Some((p * stride, nb + p)) else None
      }.toSet
    }

    def recallAtScale(nn: Long, planted: Int): Unit = {
      val dir = java.nio.file.Files.createTempDirectory("graft-vb-recall-")
      try {
        val nb = nn
        val truth = plantCorpus(dir, nn, planted)
        val arity = graft.queries.Pipeline.annArity(nb + planted)
        val t0 = System.nanoTime()
        val got = SparkEntry.queries("p09_ann_lsh")(spark, dir.toString)
          .filter(col("ib") >= nb) // planted partners only — keeps collect bounded
          .select("ia", "ib").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val secs = (System.nanoTime() - t0) / 1e9
        val hits = truth.count(got.contains)
        val recall = hits.toDouble / truth.size
        println(f"[vector-bench] recall_k$arity n=${nb + planted} planted=${truth.size} " +
          f"found=$hits recall=$recall%.3f wall=$secs%.1f s")
        // Candidate cost at this rung (VERDICT r12 #6): the widened
        // probes/tables buy recall at a candidate-pair price — record
        // pairs-per-vector next to the recall so the frontier is a
        // measured number, not an inference from wall time. One extra
        // pass over the candidate stage, outside the timed window —
        // and only where that pass's shuffle fits the local disk: at
        // the 2.2M/arity-3 rung the key table is ~1.4B rows and a
        // SECOND materialization of it blew the 79 GB /tmp on this
        // box (first round-13 run). Pair cost there is covered by the
        // frontier grid + the forced-arity k=3 gate instead.
        if (nb <= 200000L) {
          val candPairs = graft.queries.Pipeline
            .cpCandidatePairsAt(spark, dir.toString, arity).count()
          println(f"[vector-bench] recall_cost_k$arity cand_pairs=$candPairs " +
            f"pairs_per_vec=${candPairs.toDouble / (nb + planted)}%.2f")
        } else {
          // round 14 (VERDICT r13 #6): past the materialization bound
          // the pair count is ESTIMATED from one aggregation over the
          // key table (per-bucket allRows·primaries sum) — the
          // pre-distinct upper bound, no second key-table pass
          val est = graft.queries.Pipeline
            .cpPairEstimateAt(spark, dir.toString, arity)
          println(f"[vector-bench] recall_cost_k$arity est_cand_pairs=$est " +
            f"(pre-distinct bound) pairs_per_vec=${est.toDouble / (nb + planted)}%.2f")
        }
        assert(truth.size > planted / 2, s"planted-pair truth too small: ${truth.size}")
        assert(recall >= 0.7,
          f"recall $recall%.3f below the 0.7 floor at arity $arity (n=${nb + planted})")
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq
          .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    // past 128²·128 = 2,097,152 → k = 3; past 16,384 → k = 2; the
    // 10.5k corpus stays below the first transition → k = 1, so the
    // routine run prints the k=1 and k=2 rungs (k=3's probe recall is
    // corpus-size-independent and gate-pinned every sbt run by
    // AnnRecallSpec's forced-arity case; the full 2.2M natural-arity
    // rung stays opt-in for wall-clock reasons only).
    // a frontier3 calibration JVM intentionally overrides the cap/bits
    // past these rungs' floors (e.g. cap 16 re-measures k=1 at 0.691,
    // the recorded below-floor point) — skip the fixed-rung gates so
    // the k=3 measurement itself can run; routine runs keep them
    if (!args.contains("frontier3")) {
      recallAtScale(10000L, 500)
      recallAtScale(50000L, 1000)
      if (args.contains("recall3")) recallAtScale(2200000L, 1000)
    }

    // Stage 5 (round 13): the recall/cost FRONTIER at the k=2
    // operating point — the quiet factor-26 sweep charged p09 21 s at
    // 52k vectors (r11's 8-table leave-one-out scheme measured ~2-3 s
    // quiet-adjusted at the same size but recall 0.52). This stage
    // maps the (tables, probe-extra) grid at one corpus so the chosen
    // production point's recall AND candidate-pairs-per-vector sit in
    // a recorded table next to its neighbors — the basis for any
    // future retuning, instead of a single asserted point.
    if (args.contains("frontier")) {
      val dir = java.nio.file.Files.createTempDirectory("graft-vb-frontier-")
      try {
        val nn = 50000L; val planted = 1000
        val truth = plantCorpus(dir, nn, planted)
        println(s"[vector-bench] frontier corpus n=${nn + planted} " +
          s"planted=${truth.size} arity=2")
        for (tables <- Seq(8, 16, 32); extra <- Seq(1, 2)) {
          val t0 = System.nanoTime()
          // One action per configuration (ADVICE r13 #2: collect +
          // count over the same uncached frame computed the candidate
          // DAG twice, roughly doubling the recorded wall): a single
          // aggregate returns the total pair count and the planted-id
          // hits together.
          val agg = graft.queries.Pipeline
            .cpCandidatePairsAt(spark, dir.toString, 2, tables, extra)
            .agg(count(lit(1)).as("n"),
              collect_list(when(col("ib") >= nn,
                struct(col("ia"), col("ib")))).as("hits"))
            .head()
          val nPairs = agg.getLong(0)
          val got = agg.getSeq[org.apache.spark.sql.Row](1)
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          val secs = (System.nanoTime() - t0) / 1e9
          val recall = truth.count(got.contains).toDouble / truth.size
          val tag = if (tables == 16 && extra == 2) "  <- production" else ""
          println(f"[vector-bench] frontier_k2 tables=$tables%-2d extra=$extra " +
            f"recall=$recall%.3f cand_pairs=$nPairs " +
            f"pairs_per_vec=${nPairs.toDouble / (nn + planted)}%.2f " +
            f"wall=$secs%.1f s$tag")
        }
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq
          .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }

    // Stage 6 (round 15, VERDICT r14 #4): the recall/cost frontier at
    // the k=3 RUNG — 2.2M vectors, natural arity 3, where the r14 cap
    // sweep (run at the k=1/k=2 scales) had a single point (cap 32 →
    // recall 0.726, 7,995 pairs/vector). One JVM measures ONE
    // (AnnHotBucket, AnnSplitBits) point — the knobs are object-init
    // vals mirrored into the oracle SQL, so calibration overrides
    // arrive via SPARK_GRAFT_ANN_HOT / SPARK_GRAFT_ANN_SPLITBITS and
    // the sweep is a shell loop of JVMs sharing one corpus dir
    // (SPARK_GRAFT_VB3_DIR; plantCorpus reuses a completed write).
    // Pair cost comes from cpPairEstimateAt — one aggregation over
    // the key table, no pair materialization, /tmp-safe at the
    // 1.4B-row rung (the round-13 disk lesson). Self-falsifying: the
    // 0.7 recall floor asserts only at the production point (cap 32 /
    // bits 6) — calibration neighbors exist to be worse.
    if (args.contains("frontier3")) {
      val dir = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_VB3_DIR", "/tmp/graft_vb3"))
      java.nio.file.Files.createDirectories(dir)
      val nn = 2200000L; val planted = 1000
      val truth = plantCorpus(dir, nn, planted)
      val cap = sys.env.getOrElse("SPARK_GRAFT_ANN_HOT", "32")
      val bits = sys.env.getOrElse("SPARK_GRAFT_ANN_SPLITBITS", "6")
      val t0 = System.nanoTime()
      val got = SparkEntry.queries("p09_ann_lsh")(spark, dir.toString)
        .filter(col("ib") >= nn)
        .select("ia", "ib").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = truth.count(got.contains).toDouble / truth.size
      val secs = (System.nanoTime() - t0) / 1e9
      val est = graft.queries.Pipeline.cpPairEstimateAt(spark, dir.toString, 3)
      println(f"[vector-bench] frontier_k3 cap=$cap%-3s bits=$bits " +
        f"recall=$recall%.3f est_cand_pairs=$est " +
        f"pairs_per_vec=${est.toDouble / (nn + planted)}%.2f wall=$secs%.1f s")
      assert(truth.size > planted / 2, s"planted-pair truth too small: ${truth.size}")
      if (cap == "32" && bits == "6")
        assert(recall >= 0.7,
          f"recall $recall%.3f below the 0.7 floor at the k=3 production point")
    }

    spark.stop()
  }
}
