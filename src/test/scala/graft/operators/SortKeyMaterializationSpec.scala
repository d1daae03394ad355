package graft.operators

import graft.SparkSpec

/** Pins the expensive-sort-key materialization rule
  * (graft.plans.SortKeyMaterialization): storage-class and regex sort
  * keys are computed once in a projection below the Sort/GlobalRank
  * (the comparator then reads an attribute), results are unchanged,
  * and plain-attribute sorts are untouched. */
class SortKeyMaterializationSpec extends SparkSpec {

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("regex sort key evaluates below the Sort, results unchanged") {
    import spark.implicits._
    val df = (1 to 500).map(i => (s"v${i % 97}x$i", i)).toDF("s", "v")
    df.createOrReplaceTempView("skm_in")
    val q = spark.sql(
      "SELECT s, v FROM skm_in ORDER BY regexp_replace(s, '[a-z]', ''), v")
    val plan = physical(q)
    assert(plan.contains("__graft_sortkey"),
      s"expected a materialized sort key in:\n$plan")
    // the Sort node itself orders by the materialized attribute, not
    // the regex (the regex lives in the projection below)
    val sortLine = plan.linesIterator.find(_.trim.startsWith("+- Sort")).orElse(
      plan.linesIterator.find(_.contains("Sort ["))).getOrElse("")
    assert(!sortLine.contains("regexp_replace"),
      s"sort comparator still evaluates the regex: $sortLine")
    val got = q.collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    val want = (1 to 500).map(i => (s"v${i % 97}x$i", i))
      .sortBy { case (s, v) => (s.replaceAll("[a-z]", ""), v) }
    assert(got == want)
  }

  test("global rank over a regex key materializes below GlobalRank") {
    import spark.implicits._
    val df = (1 to 300).map(i => (s"k${i % 7}", i)).toDF("s", "v")
    df.createOrReplaceTempView("skm_gr")
    val q = spark.sql(
      """SELECT s, v, row_number() OVER (
        |  ORDER BY regexp_replace(s, 'k', ''), v) AS rn FROM skm_gr""".stripMargin)
    val plan = physical(q)
    // analysis-time window keys are extracted by the analyzer (_w0);
    // optimizer-time keys (the AffinityOrdering structs) by the
    // materialization rule (__graft_sortkey) — either way the Sort
    // and range-exchange comparators must read attributes, never
    // evaluate the regex
    assert(plan.contains("GlobalRank"), s"expected GlobalRank in:\n$plan")
    val hotLines = plan.linesIterator.filter(l =>
      l.contains("Sort [") || l.contains("rangepartitioning")).toSeq
    assert(hotLines.nonEmpty && hotLines.forall(!_.contains("regexp_replace")),
      s"sort/exchange still evaluates the regex:\n${hotLines.mkString("\n")}")
    val got = q.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    val want = (1 to 300).map(i => (s"k${i % 7}", i))
      .sortBy { case (s, v) => (s.replace("k", ""), v) }
      .zipWithIndex.map { case ((s, v), i) => (s, v, i + 1) }
    assert(got.sortBy(_._3).toSeq == want)
  }

  test("affinity keys over a loaded table are kernel calls, materialized below the Sort") {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, RLike, RegExpReplace}
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    import spark.implicits._
    val lines = Seq("r1 10 7", "r2 2 x", "r3 2500 3", "r4 x 12", "r5 2000 2.5")
    graft.sources.AwkReader.parse(spark, spark.createDataset(lines),
      graft.sources.AwkOptions(), graft.sources.TableOptions(nf = 3))
      .createOrReplaceTempView("skm_awk")
    try {
      def run(sql: String) = {
        val q = spark.sql(sql)
        val plan = q.queryExecution.optimizedPlan
        val regex = plan.flatMap(_.expressions).flatMap(_.collect {
          case e: RLike => e
          case e: RegExpReplace => e
        })
        assert(regex.isEmpty, s"$sql still builds regex nodes:\n$plan")
        (plan, q.collect().map(_.getString(0)).toSeq)
      }
      val (sorted, order) = run("select a2 from skm_awk order by a2")
      val sorts = sorted.collect { case s: Sort => s }
      assert(sorts.nonEmpty && sorts.forall(_.order.forall(_.child match {
        case a: Attribute => a.name.startsWith("__graft_sortkey")
        case _ => false
      })), s"the Sort does not read a materialized key:\n$sorted")
      assert(order == Seq("2", "10", "2000", "2500", "x"))
      assert(run("select max(a3) from skm_awk")._2 == Seq("x"))
      assert(run("select a1 from skm_awk where a2 >= 2000")._2.sorted == Seq("r3", "r4", "r5"))
    } finally spark.catalog.dropTempView("skm_awk")
  }

  test("plain-attribute sorts stay untouched") {
    import spark.implicits._
    val df = Seq((3, "c"), (1, "a"), (2, "b")).toDF("k", "s")
    val q = df.orderBy("k")
    assert(!physical(q).contains("__graft_sortkey"))
    assert(q.collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
  }
}
