package graft.queries

import graft.{SparkSpec, SparkEntry}

/** Makes the ANN quality claims falsifiable instead of comment-only:
  * measures p09's cross-polytope LSH pair recall against brute-force
  * ground truth (every pair with cosine >= 0.35, computed driver-side
  * over the collected sf0.001 vectors — 500 × 500 × 64 mults) and
  * asserts a floor below the measured point so a silent regression in
  * the projection kernel, bucketing or probing fails the suite. */
class AnnRecallSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val Tau = 0.35

  test("p09 LSH pair recall at cos >= 0.35 stays above the floor") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    val ids = vecs.map(_._1)
    val vs = vecs.map(_._2)
    val norms = vs.map(v => math.sqrt(v.map(x => x * x).sum))
    val truth = scala.collection.mutable.Set.empty[(Long, Long)]
    var i = 0
    while (i < vs.length) {
      var j = i + 1
      while (j < vs.length) {
        var dot = 0.0
        var k = 0
        val n = math.min(vs(i).length, vs(j).length)
        while (k < n) { dot += vs(i)(k) * vs(j)(k); k += 1 }
        if (dot / (norms(i) * norms(j)) >= Tau) truth += ((ids(i), ids(j)))
        j += 1
      }
      i += 1
    }
    val got = SparkEntry.queries("p09_ann_lsh")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "ground truth empty — corpus or tau changed")
    val hits = got.count(truth.contains)
    val recall = hits.toDouble / truth.size
    info(f"p09 recall=$recall%.3f (${hits}/${truth.size} true pairs found)")
    // measured 0.665 at sf0.001 / 0.77 at sf0.1; floor leaves headroom
    // for corpus regeneration, not for algorithmic regression
    assert(recall >= 0.55, f"recall $recall%.3f below floor")
    // precision sanity: every emitted pair is exact-cosine verified,
    // so no emitted pair may be a false positive
    val falsePos = got.filterNot(truth.contains)
    assert(falsePos.isEmpty, s"verified pairs outside ground truth: $falsePos")
  }

  test("p15 IVF recall@5 over the probed cells stays above the floor") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    val ids = vecs.map(_._1)
    val vs = vecs.map(_._2)
    val norms = vs.map(v => math.sqrt(v.map(x => x * x).sum))
    // exact top-5 neighbors per query (qid < 20), p15's tiebreak order
    val truth: Map[Long, Set[Long]] = (0 until vs.length)
      .filter(ids(_) < 20).map { qi =>
        val scored = (0 until vs.length).filter(_ != qi).map { ni =>
          var dot = 0.0
          var k = 0
          val n = math.min(vs(qi).length, vs(ni).length)
          while (k < n) { dot += vs(qi)(k) * vs(ni)(k); k += 1 }
          val cos = dot / (norms(qi) * norms(ni))
          (math.rint(cos * 1e6) / 1e6, ids(ni))
        }.sortBy { case (c, nid) => (-c, nid) }.take(5).map(_._2).toSet
        ids(qi) -> scored
      }.toMap
    val got: Map[Long, Set[Long]] =
      SparkEntry.queries("p15_ann_ivf")(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val overlaps = truth.map { case (q, t) =>
      got.getOrElse(q, Set.empty).count(t.contains).toDouble / t.size
    }
    val recall = overlaps.sum / overlaps.size
    info(f"p15 recall@5=$recall%.3f over ${truth.size} queries")
    // measured 0.68 at sf0.001 on the isotropic worst-case corpus
    // (cells carry no cluster structure); floor guards the search
    // shape, not the unreachable exact answer
    assert(recall >= 0.45, f"recall@5 $recall%.3f below floor")
  }

  test("annArity keeps mean bucket occupancy at most 128 with the minimal arity") {
    // The production arity rule p09/p14 derive from the corpus count
    // (the fixed-arity operator measured ~12.5× for 10× data at sf1.0;
    // with the rule, 1.5×): for every corpus size the chosen k keeps
    // MEAN primary-bucket occupancy n/128^k at or below the 128 target
    // (the bound that makes per-bucket self-join cost constant in n),
    // while k stays minimal (k-1 would overfill, except at the k=1
    // floor). Pure arithmetic, no Spark job.
    for (n <- Seq(500L, 2000L, 20000L, 1000000L, 1000000000L, 1000000000000L)) {
      val k = Pipeline.annArity(n)
      val occ = n / math.pow(128.0, k)
      assert(k >= 1 && k <= 8, s"arity out of range at n=$n: $k")
      assert(k == 8 || occ <= 128.0 + 1e-9,
        f"arity $k leaves mean occupancy $occ%.1f above the 128 target at n=$n")
      assert(k == 1 || n / math.pow(128.0, k - 1) > 128.0,
        s"arity $k is not minimal at n=$n")
    }
  }

  test("k=3 probe-ladder candidate recall on planted pairs (forced arity)") {
    // The highest-arity operating point, pinned in a gate that runs
    // every round (VERDICT r12 #4): natural arity 3 needs a corpus
    // past 128²·128 = 2.1M vectors, too large for a unit test — but
    // pair-level LSH recall depends only on the
    // two vectors' projections and the probe scheme, never on corpus
    // size, so a small corpus pushed through the candidate kernel AT
    // arity 3 measures the same leave-three-out subset-probe recall
    // (0.74 at n=2.2M when last measured at natural arity): `nb`
    // isotropic base vectors plus `planted` partners at target cosines
    // spread over [~0.35, ~0.95].
    val nDim = 64
    val nb = 2000L
    val planted = 200
    val stride = nb / planted
    def baseVec(id: Long): Array[Double] = {
      val rnd = new java.util.SplittableRandom(id * 0x9E3779B97F4A7C15L + 1)
      Array.fill(nDim)(rnd.nextDouble() * 2 - 1)
    }
    def partnerVec(p: Long): Array[Double] = {
      val v = baseVec(p * stride)
      val rnd = new java.util.SplittableRandom(p * 0xC2B2AE3D27D4EB4FL + 7)
      val g = Array.fill(nDim)(rnd.nextDouble() * 2 - 1)
      val lam = 0.33 + (2.70 - 0.33) * p.toDouble / planted
      Array.tabulate(nDim)(i => v(i) + lam * g(i))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-k3-recall-")
    try {
      import spark.implicits._
      val rows = (0L until nb).map(id => (id, baseVec(id).map(_.toFloat))) ++
        (0 until planted).map(p => (nb + p, partnerVec(p.toLong).map(_.toFloat)))
      rows.toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      // exact planted-pair cosines, clear of the 0.35 verify edge
      val truth = (0 until planted).flatMap { p =>
        val a = baseVec(p * stride); val b = partnerVec(p.toLong)
        var dot = 0.0; var na = 0.0; var nbn = 0.0; var i = 0
        while (i < nDim) { dot += a(i) * b(i); na += a(i) * a(i); nbn += b(i) * b(i); i += 1 }
        if (dot / math.sqrt(na * nbn) >= 0.3505) Some((p * stride, nb + p)) else None
      }.toSet
      val got = graft.queries.Pipeline.cpCandidatePairsAt(spark, dir.toString, 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(truth.size > planted / 2, s"planted truth too small: ${truth.size}")
      val recall = truth.count(got.contains).toDouble / truth.size
      info(f"k=3 candidate recall=$recall%.3f over ${truth.size} planted pairs")
      // measured 0.74 at the 2.2M natural-arity rung, and this
      // forced-arity case measures the same probe scheme
      assert(recall >= 0.7, f"k=3 probe recall $recall%.3f below the 0.7 floor")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("hot-bucket split keeps candidate recall above the floor (forced arity 1)") {
    // Round 14 (VERDICT r13 #2): buckets past AnnHotBucket = 32
    // primary occupancy subdivide by refinement-plane sign bits. At
    // forced arity 1 a 6,200-vector corpus spreads over 128 buckets
    // per table — mean primary occupancy ≈ 48 > 32, so BY PIGEONHOLE
    // at least one bucket (in practice most) exceeds the cap and the
    // split path runs in every sbt sweep (the oracle agreement of the
    // same path is pinned by the driver gate at a forced cap; this
    // test pins the recall floor). Planted construction mirrors the
    // k=3 case above.
    val nDim = 64
    val nb = 6000L
    val planted = 200
    val stride = nb / planted
    def baseVec(id: Long): Array[Double] = {
      val rnd = new java.util.SplittableRandom(id * 0x9E3779B97F4A7C15L + 1)
      Array.fill(nDim)(rnd.nextDouble() * 2 - 1)
    }
    def partnerVec(p: Long): Array[Double] = {
      val v = baseVec(p * stride)
      val rnd = new java.util.SplittableRandom(p * 0xC2B2AE3D27D4EB4FL + 7)
      val g = Array.fill(nDim)(rnd.nextDouble() * 2 - 1)
      val lam = 0.33 + (2.70 - 0.33) * p.toDouble / planted
      Array.tabulate(nDim)(i => v(i) + lam * g(i))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-hot-recall-")
    try {
      import spark.implicits._
      val rows = (0L until nb).map(id => (id, baseVec(id).map(_.toFloat))) ++
        (0 until planted).map(p => (nb + p, partnerVec(p.toLong).map(_.toFloat)))
      rows.toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val truth = (0 until planted).flatMap { p =>
        val a = baseVec(p * stride); val b = partnerVec(p.toLong)
        var dot = 0.0; var na = 0.0; var nbn = 0.0; var i = 0
        while (i < nDim) { dot += a(i) * b(i); na += a(i) * a(i); nbn += b(i) * b(i); i += 1 }
        if (dot / math.sqrt(na * nbn) >= 0.3505) Some((p * stride, nb + p)) else None
      }.toSet
      val got = graft.queries.Pipeline.cpCandidatePairsAt(spark, dir.toString, 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(truth.size > planted / 2, s"planted truth too small: ${truth.size}")
      val recall = truth.count(got.contains).toDouble / truth.size
      info(f"hot-split candidate recall=$recall%.3f over ${truth.size} planted pairs")
      assert(recall >= 0.7, f"hot-split recall $recall%.3f below the 0.7 floor")
      // the no-materialization pair-count estimator (VERDICT r13 #6)
      // brackets the exact distinct count: pre-distinct ordered
      // matches are at least the distinct pairs and at most every
      // (table × subset × direction) duplicate of them
      val est = graft.queries.Pipeline.cpPairEstimateAt(spark, dir.toString, 1)
      info(s"hot-split pair estimate=$est distinct=${got.size}")
      assert(est >= got.size, s"estimate $est below distinct ${got.size}")
      assert(est <= got.size.toLong * 2 * 8 * 3,
        s"estimate $est above the table*subset*direction bound")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("p64 IVF-PQ matches a driver-side third implementation row-for-row") {
    // Independent plain-Scala replay of the whole operator — IVF cell
    // ranking, PQ codebook, quantize, encode, ADC, top-5 — so the
    // Spark kernels and the DuckDB oracle are checked against a THIRD
    // derivation (the TokenizerOpsSpec pattern). Constants mirror the
    // Pipeline declarations (part of the pinned contract).
    val (cellsN, probes, dim, nSub, nSd, nK, scale) = (8, 4, 64, 8, 8, 16, 1024L)
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    // IVF centroids + per-vector probed/home cells (ivfCells' rule)
    val cents = Array.tabulate(cellsN, dim) { (c, i) =>
      java.lang.Long.parseLong(md5hex(s"ivf$c:${i + 1}").substring(0, 13), 16) /
        4503599627370496.0 * 2 - 1 }
    val cnorm = cents.map(c => math.sqrt(c.map(x => x * x).sum))
    def cellRanks(v: Array[Double]): Seq[Int] =
      (0 until cellsN).map { c =>
        var dot = 0.0; var i = 0
        while (i < math.min(dim, v.length)) { dot += v(i) * cents(c)(i); i += 1 }
        (dot / cnorm(c), c)
      }.sortBy { case (s, c) => (-s, c) }.take(probes).map(_._2)
    // PQ codebook + quantize + encode (pqCodebook/pqTopK's rules)
    val cb = Array.tabulate(nSub, nK, nSd) { (sb, c, li) =>
      java.lang.Long.parseLong(md5hex(s"pq$sb:$c:${li + 1}").substring(0, 13), 16) %
        2048L - 1024L }
    val quant = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor(x * scale).toLong) }.toMap
    val codes = quant.map { case (id, q) =>
      id -> Array.tabulate(nSub) { sb =>
        (0 until nK).map { c =>
          var dd = 0L; var i = 0
          while (i < nSd) { val d0 = q(sb * nSd + i) - cb(sb)(c)(i); dd += d0 * d0; i += 1 }
          (dd, c)
        }.min._2
      } }
    val homes = vecs.map { case (id, v) => id -> cellRanks(v).head }.toMap
    val expect = vecs.filter(_._1 < 20).flatMap { case (qid, qv) =>
      val probed = cellRanks(qv).toSet
      val cand = vecs.map(_._1).filter(n => n != qid && probed.contains(homes(n)))
      cand.map { nid =>
        var adist = 0L; var sb = 0
        while (sb < nSub) {
          val cc = cb(sb)(codes(nid)(sb)); var i = 0
          while (i < nSd) { val d0 = quant(qid)(sb * nSd + i) - cc(i); adist += d0 * d0; i += 1 }
          sb += 1
        }
        (qid, nid, adist)
      }.sortBy { case (_, nid, ad) => (ad, nid) }.take(5).zipWithIndex
        .map { case ((q, n, ad), r) => (q, n, (r + 1).toLong, ad) }
    }.toSet
    val got = graft.SparkEntry.queries("p64_ann_ivfpq")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(expect.nonEmpty && got.size == expect.size, s"${got.size} vs ${expect.size}")
    assert(got == expect, s"diff: ${(got diff expect).take(3)} / ${(expect diff got).take(3)}")
  }
}
