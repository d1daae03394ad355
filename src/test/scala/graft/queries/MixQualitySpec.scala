package graft.queries

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.{SparkSpec, SparkEntry}

/** p36-p39 — the round-4 curation tail: duplicated-span removal,
  * cluster-local semantic dedup, linear quality-model inference and
  * temperature mixture resampling. Pins the per-row arithmetic on
  * hand-checkable vectors plus each operator's scale-shape claim (the
  * sf-corpus hash compare is the driver's job). */
class MixQualitySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("p36 span splitter cuts ragged SpanLen segments in order") {
    import spark.implicits._
    val segs = Seq((1L, "a b c d e f g")).toDF("doc_id", "text")
      .withColumn("toks", expr(Pipeline.toksExpr))
      .select(posexplode(expr(Pipeline.spanSegsExpr)).as(Seq("pos", "seg")))
      .as[(Int, String)].collect().toSeq
    assert(segs === Seq((0, "a b c"), (1, "d e f"), (2, "g")))
  }

  test("p36 reassembles surviving spans in document order") {
    // Three docs; the span "x x x" appears 3 times corpus-wide (= the
    // SpanDf cut), so it is scrubbed everywhere; doc 3 becomes empty.
    import spark.implicits._
    val df = Seq(
      (1L, "a b c x x x d e f"),
      (2L, "x x x g h i"),
      (3L, "x x x")).toDF("doc_id", "text")
    df.createOrReplaceTempView("spanDocs")
    val segs = df
      .withColumn("toks", expr(Pipeline.toksExpr))
      .select(col("doc_id"), posexplode(expr(Pipeline.spanSegsExpr)).as(Seq("pos", "seg")))
    val boiler = segs.groupBy("seg").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 3).select("seg")
    val kept = segs.join(boiler, Seq("seg"), "left_anti")
      .groupBy("doc_id").agg(
        expr("array_join(transform(array_sort(collect_list(struct(pos, seg)))," +
          " x -> x.seg), ' ')").as("clean_text"))
    val got = df.select("doc_id").join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("clean_text"), lit("")).as("t"))
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "a b c d e f", 2L -> "g h i", 3L -> ""))
  }

  test("p37 ledger is internally consistent at sf0.001") {
    val rows = SparkEntry.queries("p37_semantic_dedup")(spark, sf).collect()
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.length.toLong === vecs, "one ledger row per vector")
    rows.foreach { r =>
      val kept = r.getBoolean(2)
      assert(kept === r.isNullAt(3), "kept iff no offending neighbor")
      if (!kept)
        assert(r.getLong(3) < r.getLong(0), "survivor rule is greedy min-id")
    }
  }

  test("p38 is a zero-shuffle codegen projection with exact arithmetic") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("p38_quality_model")(spark, sf)
      val shuffles = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty, s"p38 must be a zero-shuffle projection: $shuffles")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    // hand vector: 4 tokens, 3 distinct, 10 chars:
    // score = -1.9 + 0.02*4 + 4.0*0.75 - 0.25*2.5 = 0.555 > 0
    import spark.implicits._
    val row = Seq((1L, "aa bb aa cccc")).toDF("doc_id", "text")
      .withColumn("toks", expr(Pipeline.toksExpr))
      .select(
        expr("CAST(size(toks) AS BIGINT)").as("n_toks"),
        expr("CAST(size(array_distinct(toks)) AS DOUBLE) / size(toks)").as("uniq_ratio"),
        expr("CAST(length(array_join(toks, '')) AS DOUBLE) / size(toks)").as("mean_len"))
      .withColumn("score", expr(
        "CAST(-1.9 AS DOUBLE) + CAST(0.02 AS DOUBLE) * n_toks" +
          " + CAST(4.0 AS DOUBLE) * uniq_ratio - CAST(0.25 AS DOUBLE) * mean_len"))
      .select("score").as[Double].head()
    assert(math.abs(row - 0.555) < 1e-12)
  }

  test("p40 accent fold on a hand vector") {
    import spark.implicits._
    val got = Seq("Café MÜNCHEN àçcénts Ñandú über ÉLÈVE façade plain")
      .toDF("s").selectExpr("graft_fold_accents(s)").as[String].head()
    assert(got === "cafe munchen accents nandu uber eleve facade plain")
  }

  test("p39 joins the corpus by broadcast only, probs uniform per lang") {
    val df = SparkEntry.queries("p39_mixture_sample")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"per-lang stats must broadcast back:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must never shuffle for the stats join:\n$plan")
    val rows = df.collect()
    val probsByLang = rows.groupBy(_.getString(1))
      .map { case (l, rs) => l -> rs.map(_.getDouble(2)).distinct.toSeq }
    probsByLang.foreach { case (l, ps) =>
      assert(ps.size === 1, s"one sampling prob per lang, got $ps for $l")
    }
    // alpha = 0.5 upweights the rarer languages relative to 'en'
    val en = probsByLang("en").head
    probsByLang.filterNot(_._1 == "en").foreach { case (l, ps) =>
      assert(ps.head > en, s"$l should sample at a higher rate than en")
    }
    val kept = rows.count(_.getBoolean(3))
    assert(kept > 0 && kept < rows.length)
  }
}
