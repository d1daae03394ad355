package graft.queries

import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.SparkSpec

/** Invariants of the sketch-based operators (p45 bloom-pruned
  * decontamination, p46 count-min heavy hitters) that the oracle hash
  * compare implies but doesn't state directly. */
class SketchOpsSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  test("p45 bloom prune never changes the decontamination answer") {
    // The defining property of prune+confirm: false positives are
    // filtered by the exact join, false negatives are impossible
    // (every true hit gram is bloom-positive by construction), so the
    // contaminated flag must equal p24's exact-join answer per doc.
    val exact = graft.SparkEntry.queries("p24_decontaminate")(spark, d)
      .select("doc_id", "contaminated")
    val bloom = graft.SparkEntry.queries("p45_bloom_decontaminate")(spark, d)
      .select("doc_id", "contaminated")
    assert(exact.exceptAll(bloom).isEmpty && bloom.exceptAll(exact).isEmpty)
  }

  test("p45 candidate counts dominate hit counts and FPs are populated") {
    val rows = graft.SparkEntry.queries("p45_bloom_decontaminate")(spark, d)
      .select("n_cand_grams", "n_hit_grams").collect()
    assert(rows.forall(r => r.getLong(0) >= r.getLong(1)),
      "a hit gram escaped the bloom prune — false negative")
    assert(rows.exists(r => r.getLong(0) > r.getLong(1)),
      "no false positives at this filter load — the two-sided check is vacuous")
  }

  test("p45 bloom bit-test runs below every exchange, on the scan") {
    // AQE off like the other plan pins, so the tree is traversable
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.SparkEntry.queries("p45_bloom_decontaminate")(spark, d)
        .queryExecution.executedPlan
      val pruneOnScan = plan.collect {
        case f: FilterExec if f.condition.toString.contains("shiftright") => f
      }.exists { f =>
        f.find(_.isInstanceOf[FileSourceScanExec]).isDefined &&
          f.find(_.isInstanceOf[ShuffleExchangeExec]).isEmpty
      }
      assert(pruneOnScan,
        s"bloom bit-test not scan-adjacent:\n${plan.toString.take(4000)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("p47 HLL registers are well-formed and the estimate lands in 3 sigma") {
    val rows = graft.SparkEntry.queries("p47_hll_distinct")(spark, d)
      .select("lang", "j", "mj", "n_distinct", "est").collect()
    val perLang = rows.groupBy(_.getString(0))
    assert(perLang.forall(_._2.length == 64), "a language is missing registers")
    assert(rows.forall { r => val mj = r.getInt(2); mj >= 0 && mj <= 47 },
      "register outside the 46-bit rho range")
    // m = 64 → expected relative error 1.04/sqrt(64) ≈ 13%; assert 3σ.
    // A systematic bug (wrong register index, off-by-one rho, missing
    // empty-register term) lands far outside this band.
    perLang.foreach { case (lang, rs) =>
      val exact = rs.head.getLong(3).toDouble
      val est = rs.head.getDouble(4)
      assert(math.abs(est - exact) / exact < 0.39,
        s"$lang: HLL est $est vs exact $exact — outside 3 sigma")
    }
  }

  test("p47 sketch plan has no window and no distinct Expand on the register path") {
    // The point of HLL over KMV: max-per-register absorbs duplicates,
    // so the sketch needs neither a rank window (KMV's k-th min) nor
    // a pre-distinct of the hash stream.
    val plan = graft.SparkEntry.queries("p47_hll_distinct")(spark, d)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "HLL plan grew a window stage")
    assert(!plan.contains("Cartesian"))
  }

  test("p48 sample quantiles are deterministic and bracket the exact ranks") {
    val q = graft.SparkEntry.queries("p48_quantile_sample")(spark, d)
    val a = q.collect().map(_.toString).sorted
    val b = graft.SparkEntry.queries("p48_quantile_sample")(spark, d)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b), "hash-Bernoulli sample not reproducible")
    val rows = q.select("q", "est_q", "exact_q").collect()
    assert(rows.length == 15) // 5 langs × 3 quantiles
    // rate-1/4 sample: the estimate should be within 25% of the exact
    // quantile value for every (lang, q) on this distribution
    rows.foreach { r =>
      val (est, ex) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(est - ex) / ex < 0.25,
        s"q=${r.getDouble(0)}: sample quantile $est vs exact $ex")
    }
  }

  test("p49 signature Jaccard tracks exact Jaccard") {
    val rows = graft.SparkEntry.queries("p49_source_overlap")(spark, d)
      .select("n_a", "n_b", "n_inter", "est_j", "exact_j").collect()
    assert(rows.length == 190) // C(20, 2) source pairs
    assert(rows.forall { r =>
      r.getLong(2) <= math.min(r.getLong(0), r.getLong(1))
    }, "an intersection exceeded a set size")
    assert(rows.forall { r =>
      val (e, x) = (r.getDouble(3), r.getDouble(4))
      e >= 0 && e <= 1 && x >= 0 && x <= 1
    })
    // 64 components → per-pair σ = sqrt(J(1-J)/64) ≤ 0.0625; the mean
    // absolute error over 190 pairs must be well inside one σ
    val mae = rows.map(r => math.abs(r.getDouble(3) - r.getDouble(4))).sum / rows.length
    assert(mae < 0.06, s"MinHash estimator off: MAE $mae")
  }

  test("p46 CMS estimates dominate exact counts, strictly somewhere") {
    // est = min over rows of counters that each sum EVERY occurrence
    // of every colliding token, so est >= exact always (the CMS
    // guarantee); with w=16 on this vocabulary some bucket collides,
    // so at least one estimate must be a strict overestimate.
    val rows = graft.SparkEntry.queries("p46_cms_heavy_hitters")(spark, d)
      .select("est", "exact").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) >= r.getLong(1)),
      "an estimate fell below the exact count — a counter missed occurrences")
    assert(rows.exists(r => r.getLong(0) > r.getLong(1)),
      "no collisions at w=16 — the overestimate surface is vacuous")
  }

  test("p43 and q32 run through SparkEntry.queries on a session with no registry or rules") {
    import graft.functions.RegistrationSpec.{installCounts, unresolved}
    val fresh = spark.newSession()
    assert(unresolved(fresh).contains("graft_md5longs"))
    assert(installCounts(fresh) === Seq(0, 0, 0, 0))
    for (q <- Seq("q32_glob", "p43_kmv_distinct", "q32_glob"))
      assert(graft.SparkEntry.queries(q)(fresh, d).count() > 0, q)
    assert(unresolved(fresh) === Nil)
    assert(installCounts(fresh) === Seq(1, 1, 1, 1))
  }
}
