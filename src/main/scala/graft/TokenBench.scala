package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cli.GraftSession

/** Tokenizer-at-scale micro-benchmark for the p55/p56 shapes:
  * synthesizes an n-doc corpus entirely on executors (the driver never
  * sees a document), then times
  *
  *  - "wordpiece": p55's inference pipeline — vocabulary derivation
  *    (top-words + chars + 2-gram continuations) collapsed to ONE
  *    broadcast row, then greedy longest-match segmentation as a
  *    zero-shuffle aggregate-HOF projection over every doc. The scale
  *    claim being measured: the vocab is ALPHABET-bounded (chars +
  *    chars², here ≤ 8 + 16 + 256 entries), not corpus-bounded, so the
  *    broadcast row stays tiny at any n and tokenization cost is pure
  *    map-side codegen. The corpus is hex text plus a ' zq' probe word
  *    appended to every 5th doc; 'z'/'q' never occur in md5 hex, so
  *    exactly those docs produce exactly one [UNK] — an exact
  *    expectation a broken matcher fails.
  *
  *  - "bpe": p56's training loop at n docs — ONE corpus-scale
  *    word-frequency groupBy, then 8 merge rounds that each touch only
  *    the distinct-word table (4-hex-char words → ≤ 65536 rows however
  *    large the corpus is) with a 1-row argmax collect per round. The
  *    printed split (word-count wall vs per-round wall) is the
  *    industrial-trainer claim in numbers: corpus scale is paid once;
  *    training iterations are vocab-scale. Falsification: the
  *    frequency-weighted piece total must STRICTLY decrease every
  *    round (each merge must actually apply somewhere), checked
  *    in-loop with exact integer arithmetic.
  */
object TokenBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.build(s"local[$cpus]")
    import spark.implicits._

    var failed = false

    // 24 words of 4 hex chars per doc. The vocabulary is derived from
    // THIS text; the tokenized stream appends the out-of-alphabet
    // probe word ' zq' to every 5th doc (as p55 does with its digit
    // probes), so 'z'/'q' never enter the vocab and those docs must
    // produce exactly one [UNK] each.
    def corpus: DataFrame = spark.range(0, n).select(
      col("id").as("doc_id"),
      array_join(expr(
        """transform(sequence(1, 24),
          |  k -> substr(md5(concat(CAST(id AS STRING), ':', k)), 1, 4))"""
          .stripMargin), " ").as("text"))

    def probedCorpus: DataFrame = corpus.select(
      col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 5 === 0, lit(" zq")).otherwise(lit("")))
        .as("text"))

    // ---- wordpiece ------------------------------------------------------
    {
      val toks = """filter(split(lower(text), '\\s+'), x -> x <> '')"""
      val base = corpus
      val tokc = base.select(explode(expr(toks)).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c"))
      val topW = tokc.orderBy(col("c").desc, col("t")).limit(8)
        .select(col("t").as("p"))
      val chars = tokc.select(explode(
          expr("transform(sequence(1, length(t)), i -> substr(t, i, 1))"))
          .as("p")).distinct()
      val big2 = tokc.filter(length(col("t")) >= 2).select(explode(
          expr("transform(sequence(1, length(t) - 1), i -> substr(t, i, 2))"))
          .as("p")).distinct()
      val vocabRow = topW.unionByName(chars).distinct()
        .agg(sort_array(collect_list("p")).as("sv"))
        .crossJoin(big2.unionByName(chars).distinct()
          .select(concat(lit("##"), col("p")).as("p"))
          .agg(sort_array(collect_list("p")).as("cv")))
      val bp =
        """aggregate(
          |  sequence(least(IF(acc.pos = 1, 8, 2),
          |                 length(w) - acc.pos + 1), 1, -1),
          |  CAST('' AS STRING),
          |  (b, L) -> IF(b <> '', b,
          |    IF(acc.pos = 1,
          |       IF(array_contains(sv, substr(w, acc.pos, L)),
          |          substr(w, acc.pos, L), ''),
          |       IF(array_contains(cv, concat('##', substr(w, acc.pos, L))),
          |          concat('##', substr(w, acc.pos, L)), ''))))""".stripMargin
      val greedy =
        s"""transform($toks, w ->
           |  aggregate(sequence(1, length(w)),
           |    named_struct('pos', 1,
           |                 'out', CAST(array() AS ARRAY<STRING>),
           |                 'unk', false),
           |    (acc, step) -> CASE
           |      WHEN acc.unk OR acc.pos > length(w) THEN acc
           |      WHEN $bp = '' THEN
           |        named_struct('pos', length(w) + 1,
           |                     'out', array('[UNK]'), 'unk', true)
           |      ELSE named_struct(
           |        'pos', acc.pos + length($bp) - IF(acc.pos > 1, 2, 0),
           |        'out', array_append(acc.out, $bp),
           |        'unk', false) END,
           |    acc -> acc.out))""".stripMargin
      val t0 = System.nanoTime()
      val v = vocabRow.cache()
      v.count() // materialize the vocab (the only shuffled stage)
      val vocabSecs = (System.nanoTime() - t0) / 1e9
      val (pieces, unks, words) = {
        val r = probedCorpus.crossJoin(broadcast(v))
          .withColumn("wp", expr(greedy))
          .select(
            expr("aggregate(wp, CAST(0 AS BIGINT), (a, x) -> a + size(x))")
              .as("np"),
            expr("""aggregate(wp, CAST(0 AS BIGINT),
                   |  (a, x) -> a + IF(x[0] = '[UNK]', 1, 0))""".stripMargin)
              .as("nu"),
            size(col("wp")).cast("long").as("nw"))
          .agg(sum("np").as("pieces"), sum("nu").as("unks"),
            sum("nw").as("words"))
          .as[(Long, Long, Long)].head()
        v.unpersist()
        r
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val probed = (n + 4) / 5
      // exact: probe docs alone yield [UNK]s, one each; clean words
      // always tokenize (every char is in the vocab); word total is
      // 24 per doc + the probes
      val ok = unks == probed && words == 24L * n + probed &&
        pieces >= words && pieces <= 4L * words
      if (!ok) failed = true
      println(f"[token-bench] wordpiece: n=$n vocab=$vocabSecs%.2f s " +
        f"total=$secs%.2f s (${n / secs}%.0f docs/s) " +
        f"words=$words pieces=$pieces unks=$unks " +
        s"check=${if (ok) "OK" else "FAIL"}")

      // Production variant: the same greedy matcher as a typed
      // mapPartitions kernel over two broadcast HashSets (the HOF
      // variant above is the oracle-matched p55 form; aggregate-HOF
      // lambdas are interpreted per element, a Scala loop is not).
      // Must reproduce the HOF totals exactly — same vocab, same rule.
      val k0 = System.nanoTime()
      val (svArr, cvArr) = {
        val row = vocabRow.head()
        (row.getSeq[String](0).toSet, row.getSeq[String](1).toSet)
      }
      val bSv = spark.sparkContext.broadcast(svArr)
      val bCv = spark.sparkContext.broadcast(cvArr)
      val (kp, ku, kw) = probedCorpus.select("text").as[String]
        .mapPartitions { it =>
          val sv = bSv.value; val cv = bCv.value
          var np = 0L; var nu = 0L; var nw = 0L
          it.foreach { text =>
            text.toLowerCase.split("\\s+").foreach { w =>
              if (w.nonEmpty) {
                nw += 1
                var i = 0; var first = true; var unk = false
                var pieces = 0L
                while (i < w.length && !unk) {
                  var l = math.min(if (first) 8 else 2, w.length - i)
                  var hit = 0
                  while (l >= 1 && hit == 0) {
                    val sub = w.substring(i, i + l)
                    val found =
                      if (first) sv.contains(sub) else cv.contains("##" + sub)
                    if (found) hit = l else l -= 1
                  }
                  if (hit == 0) { unk = true; pieces = 1L }
                  else { pieces += 1; i += hit; first = false }
                }
                np += pieces; nu += (if (unk) 1L else 0L)
              }
            }
          }
          Iterator((np, nu, nw))
        }.toDF("np", "nu", "nw")
        .agg(sum("np"), sum("nu"), sum("nw"))
        .as[(Long, Long, Long)].head()
      val kSecs = (System.nanoTime() - k0) / 1e9
      val kOk = (kp, ku, kw) == ((pieces, unks, words))
      if (!kOk) failed = true
      println(f"[token-bench] wordpiece-kernel: n=$n total=$kSecs%.2f s " +
        f"(${n / kSecs}%.0f docs/s, ${secs / kSecs}%.1fx vs HOF) " +
        s"check=${if (kOk) "OK" else s"FAIL ($kp,$ku,$kw) != ($pieces,$unks,$words)"}")
    }

    // ---- bpe ------------------------------------------------------------
    {
      val t0 = System.nanoTime()
      val wc = corpus
        .select(explode(expr(
          """filter(split(lower(text), '\\s+'), x -> x <> '')""")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .withColumn("toks",
          expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))"))
        .localCheckpoint()
      val countSecs = (System.nanoTime() - t0) / 1e9
      val vocabRows = wc.count()
      var words = wc
      var prevTotal = words
        .agg(sum(expr("cnt * size(toks)"))).as[Long].head()
      var roundSecs = 0.0
      var merges = List.empty[String]
      var bpeFailed = false
      for (_ <- 1 to 8) {
        val r0 = System.nanoTime()
        val best = words
          .select(explode(expr(
            """CASE WHEN size(toks) >= 2 THEN
              |  transform(sequence(1, size(toks) - 1),
              |    i -> struct(element_at(toks, i) AS a,
              |                element_at(toks, i + 1) AS b))
              |ELSE CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>)
              |END""".stripMargin)).as("p"), col("cnt"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum("cnt").as("c"))
          .orderBy(col("c").desc, col("a"), col("b"))
          .limit(1).collect()
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        def esc(x: String) = x.replace("\\", "\\\\").replace("'", "\\'")
        words = words.withColumn("toks", expr(
          s"""aggregate(sequence(1, size(toks)),
             |  named_struct('out', CAST(array() AS ARRAY<STRING>),
             |               'skip', false),
             |  (acc, i) -> CASE
             |    WHEN acc.skip THEN named_struct('out', acc.out, 'skip', false)
             |    WHEN i < size(toks) AND element_at(toks, i) = '${esc(a)}'
             |         AND try_element_at(toks, i + 1) = '${esc(b)}'
             |      THEN named_struct(
             |        'out', array_append(acc.out, '${esc(a + b)}'),
             |        'skip', true)
             |    ELSE named_struct(
             |      'out', array_append(acc.out, element_at(toks, i)),
             |      'skip', false) END,
             |  acc -> acc.out)""".stripMargin)).localCheckpoint()
        val total = words.agg(sum(expr("cnt * size(toks)"))).as[Long].head()
        roundSecs += (System.nanoTime() - r0) / 1e9
        if (total >= prevTotal) bpeFailed = true
        prevTotal = total
        merges ::= s"$a+$b"
      }
      val secs = (System.nanoTime() - t0) / 1e9
      if (bpeFailed) failed = true
      println(f"[token-bench] bpe: n=$n vocab_rows=$vocabRows " +
        f"wordcount=$countSecs%.2f s rounds8=$roundSecs%.2f s " +
        f"(${roundSecs / 8}%.3f s/round) total=$secs%.2f s " +
        f"(${n / secs}%.0f docs/s) merges=${merges.reverse.mkString(",")} " +
        s"check=${if (bpeFailed) "FAIL" else "OK"}")
    }

    spark.stop()
    if (failed) { System.err.println("[token-bench] FAIL"); sys.exit(1) }
  }
}
