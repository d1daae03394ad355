package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** The delegated relational surface of the reference (SURVEY.md §2.2):
  * sqawk passes SQL verbatim to SQLite, so our engine must cover the
  * whole dialect. Each entry is implemented with the declarative
  * DataFrame API so Catalyst supplies pushdown, pruning, join
  * selection, partial aggregation and whole-stage codegen.
  *
  * Scale notes baked in below:
  *  - dimension joins (`nation`, `region`, `customer` vs facts) use
  *    `broadcast()` — no shuffle of the big side at any scale;
  *  - aggregations are expressed as `groupBy().agg()` → map-side
  *    partial aggregation before the exchange;
  *  - top-k is `orderBy().limit()` → TakeOrderedAndProject (no global
  *    sort of 100 TB).
  */
object Relational {
  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)
  private def cust(s: SparkSession, d: String) = Tables.customer(s, d)

  val all: Vector[QDef] = Vector(
    QDef(
      "q01_projection",
      // Money math in exact DECIMAL: price (2dp) × discount (2dp) lands
      // exactly on the 4dp grid, where double round() is engine-dependent.
      // Final cast to DOUBLE: both engines render the identical 2dp value
      // the same way, sidestepping DECIMAL-scale canonicalization deltas
      // in the driver's comparator (CORRECTNESS_r01 hash_match=false).
      (s, d) => li(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        expr("""CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)) *
               |     (CAST(1.00 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))), 2)
               |     AS DOUBLE)""".stripMargin).as("revenue")),
      Some("""SELECT l_orderkey, l_linenumber,
             |  CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |       (CAST(1.00 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))), 2)
             |       AS DOUBLE) AS revenue
             |FROM lineitem""".stripMargin)),

    QDef(
      "q02_filter",
      (s, d) => ord(s, d)
        .filter(col("o_totalprice") > 150000 && col("o_orderstatus") === "O")
        .select("o_orderkey", "o_totalprice"),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_totalprice > 150000 AND o_orderstatus = 'O'""".stripMargin)),

    QDef(
      "q03_filter_like",
      (s, d) => Tables.part(s, d)
        .filter(col("p_name").like("%re%") || col("p_brand").like("Brand%"))
        .select("p_partkey", "p_name", "p_brand"),
      Some("""SELECT p_partkey, p_name, p_brand FROM part
             |WHERE p_name LIKE '%re%' OR p_brand LIKE 'Brand%'""".stripMargin)),

    QDef(
      "q04_distinct",
      (s, d) => li(s, d).select("l_returnflag", "l_linestatus").distinct(),
      Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")),

    QDef(
      "q05_join_inner",
      (s, d) => ord(s, d)
        .join(broadcast(cust(s, d)), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_name", "o_totalprice"),
      Some("""SELECT o_orderkey, c_name, o_totalprice
             |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin)),

    QDef(
      "q06_join_3way",
      (s, d) => cust(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey", "n_name", "r_name"),
      Some("""SELECT c_custkey, n_name, r_name
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey""".stripMargin)),

    QDef(
      "q07_join_left",
      (s, d) => cust(s, d)
        .join(ord(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("order_cnt")),
      Some("""SELECT c_custkey, count(o_orderkey) AS order_cnt
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_custkey""".stripMargin)),

    QDef(
      "q08_join_semi",
      (s, d) => cust(s, d)
        .join(ord(s, d).filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin)),

    QDef(
      "q09_join_anti",
      (s, d) => cust(s, d)
        .join(ord(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),

    QDef(
      "q10_agg_group",
      // Sums in exact DECIMAL (order-independent), then a final DOUBLE
      // cast so both engines render identically under the driver's canon.
      (s, d) => li(s, d).groupBy("l_returnflag", "l_linestatus").agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)")
          .as("sum_base_price"),
        expr("""CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
               |        (CAST(1.00 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2)
               |    AS DOUBLE)""".stripMargin).as("sum_disc_price"),
        round(avg("l_quantity"), 2).as("avg_qty"),
        count(lit(1)).as("count_order")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  round(sum(l_quantity), 2) AS sum_qty,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |           (CAST(1.00 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2)
             |       AS DOUBLE) AS sum_disc_price,
             |  round(avg(l_quantity), 2) AS avg_qty,
             |  count(*) AS count_order
             |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    QDef(
      "q11_agg_having",
      (s, d) => ord(s, d).groupBy("o_custkey")
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 10),
      Some("""SELECT o_custkey, count(*) AS cnt FROM orders
             |GROUP BY o_custkey HAVING count(*) > 10""".stripMargin)),

    QDef(
      // Two count-distincts in one agg → Catalyst's Expand-based
      // plan (rows duplicated per distinct column, then two-level
      // agg). r4's apparent 2.66× regression vs r3 did not reproduce
      // on a quiet container (0.60/0.67 s vs r3's 0.68 s at sf0.1) —
      // container noise, not a plan change; the Expand shape is the
      // standard scale-safe plan for multi-distinct.
      "q12_agg_distinct",
      (s, d) => li(s, d).groupBy("l_returnflag")
        .agg(countDistinct(col("l_suppkey")).as("supps"),
          countDistinct(col("l_partkey")).as("parts")),
      Some("""SELECT l_returnflag, count(DISTINCT l_suppkey) AS supps,
             |       count(DISTINCT l_partkey) AS parts
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    QDef(
      "q13_group_concat",
      // SQLite group_concat ≈ sorted-set join; collect_set is unordered
      // across partitions, so sort before joining for determinism.
      (s, d) => Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(array_join(array_sort(collect_set(col("n_name"))), ",").as("nations")),
      Some("""SELECT r_name,
             |       string_agg(n_name, ',' ORDER BY n_name) AS nations
             |FROM (SELECT DISTINCT r_name, n_name
             |      FROM nation JOIN region ON n_regionkey = r_regionkey)
             |GROUP BY r_name""".stripMargin)),

    QDef(
      "q14_window_rownum",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        ord(s, d).withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("o_custkey", "o_orderkey", "o_totalprice")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_custkey
             |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) t WHERE rn = 1""".stripMargin)),

    QDef(
      "q15_window_running",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ord(s, d).select(col("o_custkey"), col("o_orderkey"),
          round(sum("o_totalprice").over(w), 2).as("running_total"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             |    ORDER BY o_orderdate, o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
             |FROM orders""".stripMargin)),

    QDef(
      "q16_window_lag",
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
        ord(s, d).select(col("o_custkey"), col("o_orderkey"),
          lag("o_totalprice", 1).over(w).as("prev_price"),
          lead("o_totalprice", 1).over(w).as("next_price"),
          rank().over(w).as("rnk"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  lag(o_totalprice, 1) OVER w AS prev_price,
             |  lead(o_totalprice, 1) OVER w AS next_price,
             |  rank() OVER w AS rnk
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin)),

    QDef(
      "q17_topk",
      // orderBy().limit() → TakeOrderedAndProject: per-partition heaps +
      // a k-row driver merge; never a global sort at scale.
      (s, d) => ord(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice"),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),

    QDef(
      "q18_union",
      (s, d) => cust(s, d).select(col("c_custkey").as("key"))
        .union(ord(s, d).select(col("o_custkey").as("key")))
        .distinct(),
      Some("""SELECT c_custkey AS key FROM customer
             |UNION SELECT o_custkey AS key FROM orders""".stripMargin)),

    QDef(
      "q19_union_all",
      (s, d) => cust(s, d).select(col("c_custkey").as("key"), lit("cust").as("src"))
        .union(ord(s, d).select(col("o_custkey").as("key"), lit("ord").as("src"))),
      Some("""SELECT c_custkey AS key, 'cust' AS src FROM customer
             |UNION ALL SELECT o_custkey AS key, 'ord' AS src FROM orders""".stripMargin)),

    QDef(
      "q20_intersect",
      (s, d) => ord(s, d).select(col("o_custkey").as("key"))
        .intersect(cust(s, d).filter(col("c_acctbal") > 0).select(col("c_custkey").as("key"))),
      Some("""SELECT o_custkey AS key FROM orders
             |INTERSECT
             |SELECT c_custkey AS key FROM customer WHERE c_acctbal > 0""".stripMargin)),

    QDef(
      "q21_except",
      (s, d) => cust(s, d).select(col("c_custkey").as("key"))
        .except(ord(s, d).select(col("o_custkey").as("key"))),
      Some("""SELECT c_custkey AS key FROM customer
             |EXCEPT SELECT o_custkey AS key FROM orders""".stripMargin)),

    QDef(
      "q22_cte",
      (s, d) => {
        val big = ord(s, d).groupBy("o_custkey")
          .agg(count(lit(1)).as("cnt")).filter(col("cnt") > 12)
        cust(s, d).join(big, col("c_custkey") === col("o_custkey"))
          .select("c_name", "cnt")
      },
      Some("""WITH big AS (
             |  SELECT o_custkey, count(*) AS cnt FROM orders
             |  GROUP BY o_custkey HAVING count(*) > 12)
             |SELECT c_name, cnt FROM customer JOIN big ON c_custkey = o_custkey""".stripMargin)),

    QDef(
      "q23_scalar_subquery",
      // max() is exact on doubles (no summation-order sensitivity), so
      // the 0.9× threshold is bit-identical across engines.
      (s, d) => {
        val o = ord(s, d)
        o.join(broadcast(o.agg(max("o_totalprice").as("mx"))))
          .filter(col("o_totalprice") > col("mx") * 0.9)
          .select("o_orderkey", "o_totalprice")
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_totalprice > 0.9 * (SELECT max(o_totalprice) FROM orders)""".stripMargin)),

    QDef(
      "q24_case_expr",
      (s, d) => ord(s, d).select(col("o_orderkey"),
        when(col("o_totalprice") < 50000, "low")
          .when(col("o_totalprice") < 200000, "mid")
          .otherwise("high").as("bucket"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("st")),
      Some("""SELECT o_orderkey,
             |  CASE WHEN o_totalprice < 50000 THEN 'low'
             |       WHEN o_totalprice < 200000 THEN 'mid'
             |       ELSE 'high' END AS bucket,
             |  coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS st
             |FROM orders""".stripMargin)),

    QDef(
      "q25_string_funcs",
      (s, d) => cust(s, d).select(col("c_custkey"),
        upper(col("c_name")).as("u"),
        lower(col("c_mktsegment")).as("l"),
        length(col("c_name")).cast("long").as("len"),
        substring(col("c_name"), 1, 9).as("pre"),
        regexp_replace(col("c_name"), "#", "-").as("rep"),
        instr(col("c_name"), "#").cast("long").as("pos"),
        trim(col("c_name")).as("t")),
      Some("""SELECT c_custkey, upper(c_name) AS u, lower(c_mktsegment) AS l,
             |  CAST(length(c_name) AS BIGINT) AS len,
             |  substr(c_name, 1, 9) AS pre,
             |  replace(c_name, '#', '-') AS rep,
             |  CAST(instr(c_name, '#') AS BIGINT) AS pos,
             |  trim(c_name) AS t
             |FROM customer""".stripMargin)),

    QDef(
      "q26_math_funcs",
      (s, d) => li(s, d).select(col("l_orderkey"), col("l_linenumber"),
        round(abs(col("l_discount") - 0.05), 4).as("a"),
        round(col("l_extendedprice") / 7.0, 3).as("r"),
        least(col("l_quantity"), col("l_discount") * 100).as("le"),
        greatest(col("l_tax"), col("l_discount")).as("g"),
        round(sqrt(col("l_extendedprice")), 6).as("sq"),
        (col("l_orderkey") % 7).as("m")),
      Some("""SELECT l_orderkey, l_linenumber,
             |  round(abs(l_discount - 0.05), 4) AS a,
             |  round(l_extendedprice / 7.0, 3) AS r,
             |  least(l_quantity, l_discount * 100) AS le,
             |  greatest(l_tax, l_discount) AS g,
             |  round(sqrt(l_extendedprice), 6) AS sq,
             |  l_orderkey % 7 AS m
             |FROM lineitem""".stripMargin)),

    QDef(
      "q27_date_funcs",
      (s, d) => ord(s, d).select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("dd"),
        date_trunc("month", col("o_orderdate")).as("mon")),
      Some("""SELECT o_orderkey,
             |  CAST(year(o_orderdate) AS BIGINT) AS y,
             |  CAST(month(o_orderdate) AS BIGINT) AS m,
             |  CAST(day(o_orderdate) AS BIGINT) AS dd,
             |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon
             |FROM orders""".stripMargin)),

    QDef(
      "q28_rollup",
      (s, d) => {
        cust(s, d).createOrReplaceTempView("graft_cust_ru")
        Tables.nation(s, d).createOrReplaceTempView("graft_nation_ru")
        Tables.region(s, d).createOrReplaceTempView("graft_region_ru")
        s.sql("""SELECT r_name, n_name, count(*) AS cnt, round(sum(c_acctbal), 2) AS bal
                |FROM graft_cust_ru
                |JOIN graft_nation_ru ON c_nationkey = n_nationkey
                |JOIN graft_region_ru ON n_regionkey = r_regionkey
                |GROUP BY ROLLUP(r_name, n_name)""".stripMargin)
      },
      Some("""SELECT r_name, n_name, count(*) AS cnt, round(sum(c_acctbal), 2) AS bal
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY ROLLUP(r_name, n_name)""".stripMargin)),

    QDef(
      "q29_cube",
      (s, d) => {
        cust(s, d).createOrReplaceTempView("graft_cust_cu")
        Tables.nation(s, d).createOrReplaceTempView("graft_nation_cu")
        s.sql("""SELECT c_mktsegment, n_name, count(*) AS cnt
                |FROM graft_cust_cu
                |JOIN graft_nation_cu ON c_nationkey = n_nationkey
                |GROUP BY CUBE(c_mktsegment, n_name)""".stripMargin)
      },
      Some("""SELECT c_mktsegment, n_name, count(*) AS cnt
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY CUBE(c_mktsegment, n_name)""".stripMargin)),

    QDef(
      "q30_grouping_sets",
      (s, d) => {
        ord(s, d).createOrReplaceTempView("graft_orders_gs")
        s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
                |FROM graft_orders_gs
                |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)
      },
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)),

    QDef(
      "q31_printf",
      (s, d) => Tables.region(s, d).select(col("r_regionkey"),
        format_string("%s-%03d", col("r_name"), col("r_regionkey")).as("tag")),
      Some("SELECT r_regionkey, printf('%s-%03d', r_name, r_regionkey) AS tag FROM region")),

    QDef(
      "q32_glob",
      (s, d) => Tables.part(s, d).selectExpr("p_partkey", "glob('*re*', p_name) AS m"),
      Some("SELECT p_partkey, CAST(p_name GLOB '*re*' AS INTEGER) AS m FROM part")),

    QDef(
      "q33_regexp_fn",
      (s, d) => Tables.part(s, d).selectExpr("p_partkey", "regexp('[aeiou]{2}', p_name) AS m"),
      Some("""SELECT p_partkey,
             |  CAST(regexp_matches(p_name, '[aeiou]{2}') AS INTEGER) AS m
             |FROM part""".stripMargin)),

    QDef(
      "q34_regsub_fn",
      (s, d) => Tables.part(s, d).selectExpr("p_partkey",
        "regsub('-all', '[aeiou]', p_name, '_') AS all_sub",
        "regsub('[aeiou]', p_name, '*') AS first_sub"),
      Some("""SELECT p_partkey,
             |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS all_sub,
             |  regexp_replace(p_name, '[aeiou]', '*') AS first_sub
             |FROM part""".stripMargin)),

    QDef(
      "q35_tcl_list_fns",
      (s, d) => li(s, d).selectExpr("l_orderkey", "l_linenumber",
        "lindex(concat(l_returnflag, ' ', l_linestatus), 1) AS second",
        "llength(concat(l_returnflag, ' ', l_linestatus)) AS n",
        "lrange(concat(l_returnflag, ' ', l_linestatus, ' ', l_orderkey), 0, 1) AS firsttwo"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  l_linestatus AS second,
             |  CAST(2 AS INTEGER) AS n,
             |  l_returnflag || ' ' || l_linestatus AS firsttwo
             |FROM lineitem""".stripMargin)),

    QDef(
      "q36_dict_fns",
      (s, d) => li(s, d).selectExpr("l_orderkey", "l_linenumber",
        "dict_get(concat('flag ', l_returnflag, ' status ', l_linestatus), 'status') AS status_val",
        "dict_exists(concat('flag ', l_returnflag, ' status ', l_linestatus), 'flag') AS has_flag",
        "dict_exists(concat('flag ', l_returnflag, ' status ', l_linestatus), 'zz') AS has_zz"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  l_linestatus AS status_val,
             |  CAST(1 AS INTEGER) AS has_flag,
             |  CAST(0 AS INTEGER) AS has_zz
             |FROM lineitem""".stripMargin)),

    QDef(
      "q37_time_bucket",
      (s, d) => Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("c"), round(sum("value"), 2).as("sv")),
      Some("""SELECT date_trunc('hour', ts) AS h, event_type,
             |  count(*) AS c, round(sum(value), 2) AS sv
             |FROM events GROUP BY 1, 2""".stripMargin)),

    QDef(
      "q38_json_extract",
      // JSON scalar extraction from the events props column (SQLite's
      // json_* family maps to get_json_object and friends). The oracle
      // recomputes with a regexp so it needs no DuckDB JSON extension.
      (s, d) => Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("c"), sum("k").as("sk"), max("k").as("mk")),
      Some("""SELECT event_type, count(*) AS c,
             |  CAST(sum(CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS BIGINT) AS sk,
             |  max(CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS mk
             |FROM events GROUP BY event_type""".stripMargin)),

    QDef(
      "q39_asof_join",
      // AS-OF join (operators/AsofJoin.scala): each purchase matched to
      // the user's most recent view at-or-before it — the time-series
      // primitive Spark lacks natively, composed as union + per-user
      // window (ONE shuffle on user_id, no range-join pair explosion;
      // plan-pinned join-free in AsofJoinSpec). The oracle recomputes
      // the identical window arithmetic (not DuckDB's native ASOF JOIN,
      // whose same-timestamp tie choice is unspecified) after the
      // µs truncation that mirrors Tables.events.
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val views = ev.filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"), col("user_id"), col("ts"))
        graft.operators.AsofJoin.latestPrior(purchases, views,
            Seq("user_id"), "ts", Seq(col("_r.view_id")))
          .select(col("event_id"), col("user_id"), col("ts"),
            col("asof.view_id").as("view_id"),
            (unix_micros(col("ts")) - unix_micros(col("asof.ts"))).as("gap_us"))
      },
      Some("""WITH ev AS (
             |  SELECT event_id, user_id,
             |    make_timestamp(epoch_ns(ts) // 1000) AS ts,
             |    event_type = 'view' AS isr
             |  FROM events WHERE event_type IN ('view', 'purchase')
             |), w AS (
             |  SELECT event_id, user_id, ts, isr,
             |    last_value(CASE WHEN isr THEN event_id END IGNORE NULLS)
             |      OVER win AS view_id,
             |    last_value(CASE WHEN isr THEN ts END IGNORE NULLS)
             |      OVER win AS view_ts
             |  FROM ev
             |  WINDOW win AS (
             |    PARTITION BY user_id
             |    ORDER BY ts, isr DESC, CASE WHEN isr THEN event_id END
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |)
             |SELECT event_id, user_id, ts, view_id,
             |  CAST(epoch_us(ts) - epoch_us(view_ts) AS BIGINT) AS gap_us
             |FROM w WHERE NOT isr""".stripMargin)),

    QDef(
      "q40_range_join",
      // Batch RANGE join (operators/RangeJoin.scala): every event
      // matched to each of 20 overlapping 54-hour "campaign windows"
      // (36-hour stride from 2024-01-01, so events match 1-2 windows).
      // A raw ts-between-bounds theta join would plan as a nested loop
      // over the cross product; the operator quantizes into 18-hour
      // buckets (54 = 3 buckets/window), equi-joins on the bucket and
      // post-filters containment — here with the tiny window table
      // broadcast (zero shuffle, plan-pinned BHJ-only in
      // RangeJoinSpec). The oracle runs the naive non-equi join, so
      // the hash compare proves the bucketed rewrite is exactly the
      // declarative semantics.
      (s, d) => {
        import s.implicits._
        val EpochUs = 1704067200000000L // 2024-01-01T00:00:00Z
        val StrideUs = 129600000000L    // 36 h
        val SpanUs = 194400000000L      // 54 h
        val windows = s.range(0, 20).select(
          col("id").as("w_id"),
          (lit(EpochUs) + col("id") * StrideUs).as("start_us"),
          (lit(EpochUs) + col("id") * StrideUs + SpanUs).as("end_us"))
        val points = Tables.events(s, d)
          .select(col("event_id"), unix_micros(col("ts")).as("us"))
        graft.operators.RangeJoin.pointInInterval(
            points, windows, "us", "start_us", "end_us",
            bucketWidth = 64800000000L) // 18 h
          .select(col("event_id"), col("w_id"))
      },
      Some("""WITH w AS (
             |  SELECT w_id,
             |    1704067200000000 + w_id * 129600000000 AS start_us,
             |    1704067200000000 + w_id * 129600000000 + 194400000000 AS end_us
             |  FROM (SELECT unnest(range(0, 20)) AS w_id)
             |)
             |SELECT e.event_id, w.w_id
             |FROM (SELECT event_id, epoch_ns(ts) // 1000 AS us FROM events) e
             |JOIN w ON e.us >= w.start_us AND e.us < w.end_us""".stripMargin)),

    QDef(
      "q41_recursive_cte",
      // WITH RECURSIVE is part of the delegated SQLite dialect
      // (README.md:100 forwards scripts verbatim); Spark 4.x executes
      // recursive CTEs natively as an iterative UnionLoop, so a
      // depth-bounded recursion stays fully distributed — each level
      // is one unioned scan, no driver-side loop. Functional-graph
      // walk k → (3k+1) mod 25 for 5 steps from every nation key,
      // then distinct-reachability stats per start node.
      (s, d) => {
        Tables.nation(s, d).createOrReplaceTempView("graft_nation_rc")
        s.sql("""WITH RECURSIVE step (start_k, k, d) AS (
                |  SELECT n_nationkey, n_nationkey, 0 FROM graft_nation_rc
                |  UNION ALL
                |  SELECT start_k, (k * 3 + 1) % 25, d + 1 FROM step WHERE d < 5
                |)
                |SELECT CAST(start_k AS BIGINT) AS start_k,
                |       CAST(count(DISTINCT k) AS BIGINT) AS reach,
                |       CAST(sum(DISTINCT k) AS BIGINT) AS sum_k
                |FROM step GROUP BY start_k""".stripMargin)
      },
      Some("""WITH RECURSIVE step (start_k, k, d) AS (
             |  SELECT n_nationkey, n_nationkey, 0 FROM nation
             |  UNION ALL
             |  SELECT start_k, (k * 3 + 1) % 25, d + 1 FROM step WHERE d < 5
             |)
             |SELECT CAST(start_k AS BIGINT) AS start_k,
             |       CAST(count(DISTINCT k) AS BIGINT) AS reach,
             |       CAST(sum(DISTINCT k) AS BIGINT) AS sum_k
             |FROM step GROUP BY start_k""".stripMargin)),

    // ------------------------------------------------------------------
    // q42: WINDOW FRAMES beyond the q14-q16 basics — ntile bucketing,
    // a value-RANGE frame (sum over a sliding 30-day event-time
    // window, which a ROWS frame cannot express), and cume_dist. All
    // three windows order by a TOTAL key (ties broken by o_orderkey)
    // so the outputs are deterministic and hash-comparable. Same
    // WindowExec partitioning story as q15: one shuffle per distinct
    // partitioning, frames evaluated in a single pass per window.
    QDef(
      "q42_window_frames",
      (s, d) => {
        val wNtile = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        val wRange = Window.partitionBy("o_custkey").orderBy(col("dayn"))
          .rangeBetween(-30, Window.currentRow)
        ord(s, d)
          .withColumn("dayn", expr("datediff(o_orderdate, DATE '1992-01-01')").cast("long"))
          .select(col("o_orderkey"), col("o_custkey"),
            ntile(4).over(wNtile).cast("long").as("price_quartile"),
            round(cume_dist().over(wNtile), 6).as("cd"),
            round(sum("o_totalprice").over(wRange), 2).as("sum_30d"))
      },
      Some("""SELECT o_orderkey, o_custkey,
             |  CAST(ntile(4) OVER (PARTITION BY o_orderpriority
             |    ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS price_quartile,
             |  round(cume_dist() OVER (PARTITION BY o_orderpriority
             |    ORDER BY o_totalprice, o_orderkey), 6) AS cd,
             |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             |    ORDER BY (CAST(o_orderdate AS DATE) - DATE '1992-01-01')
             |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS sum_30d
             |FROM orders""".stripMargin)),

    // ------------------------------------------------------------------
    // q43: SUBQUERY PREDICATES — correlated EXISTS / NOT EXISTS
    // (planned as semi/anti joins), IN, and the three-valued-logic
    // trap: NOT IN over a subquery containing NULLs matches NOTHING.
    // Spark plans the nullable case as a null-aware anti join
    // (single-column NAAJ → broadcast hash join, not a nested loop);
    // identical SQL runs on both engines via temp views.
    QDef(
      "q43_subquery_exists",
      (s, d) => {
        ord(s, d).createOrReplaceTempView("g_q43_orders")
        cust(s, d).createOrReplaceTempView("g_q43_customer")
        s.sql("""
          |SELECT 'exists_urgent' AS test, CAST(count(*) AS BIGINT) AS n
          |FROM g_q43_customer c
          |WHERE EXISTS (SELECT 1 FROM g_q43_orders o
          |              WHERE o.o_custkey = c.c_custkey
          |                AND o.o_orderpriority = '1-URGENT')
          |UNION ALL
          |SELECT 'not_exists_urgent', CAST(count(*) AS BIGINT)
          |FROM g_q43_customer c
          |WHERE NOT EXISTS (SELECT 1 FROM g_q43_orders o
          |                  WHERE o.o_custkey = c.c_custkey
          |                    AND o.o_orderpriority = '1-URGENT')
          |UNION ALL
          |SELECT 'in_big_spenders', CAST(count(*) AS BIGINT)
          |FROM g_q43_customer
          |WHERE c_custkey IN (SELECT o_custkey FROM g_q43_orders
          |                    WHERE o_totalprice > 300000)
          |UNION ALL
          |SELECT 'not_in_nullfree', CAST(count(*) AS BIGINT)
          |FROM g_q43_customer
          |WHERE c_custkey NOT IN (SELECT o_custkey FROM g_q43_orders
          |                        WHERE o_totalprice > 300000)
          |UNION ALL
          |SELECT 'not_in_with_null', CAST(count(*) AS BIGINT)
          |FROM g_q43_customer
          |WHERE c_custkey NOT IN (SELECT CASE WHEN o_totalprice > 300000
          |                               THEN o_custkey ELSE NULL END
          |                        FROM g_q43_orders)
          |""".stripMargin)
      },
      Some("""SELECT 'exists_urgent' AS test, CAST(count(*) AS BIGINT) AS n
             |FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |              WHERE o.o_custkey = c.c_custkey
             |                AND o.o_orderpriority = '1-URGENT')
             |UNION ALL
             |SELECT 'not_exists_urgent', CAST(count(*) AS BIGINT)
             |FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o
             |                  WHERE o.o_custkey = c.c_custkey
             |                    AND o.o_orderpriority = '1-URGENT')
             |UNION ALL
             |SELECT 'in_big_spenders', CAST(count(*) AS BIGINT)
             |FROM customer
             |WHERE c_custkey IN (SELECT o_custkey FROM orders
             |                    WHERE o_totalprice > 300000)
             |UNION ALL
             |SELECT 'not_in_nullfree', CAST(count(*) AS BIGINT)
             |FROM customer
             |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
             |                        WHERE o_totalprice > 300000)
             |UNION ALL
             |SELECT 'not_in_with_null', CAST(count(*) AS BIGINT)
             |FROM customer
             |WHERE c_custkey NOT IN (SELECT CASE WHEN o_totalprice > 300000
             |                               THEN o_custkey ELSE NULL END
             |                        FROM orders)""".stripMargin)),

    // ------------------------------------------------------------------
    // q44: PIVOT — long-to-wide reshaping (the OLAP crosstab): per
    // source, the documents table's language counts rotate into one
    // column per language, plus a row total. Spark's groupBy().pivot()
    // with an EXPLICIT value list keeps the plan single-pass (a
    // pivot_values scan-to-discover would add a job); the whole thing
    // is ONE hash aggregation with map-side partials — pivot columns
    // are just conditional-count aggregates, so the shape scales like
    // any groupBy. The oracle states the same reshaping as portable
    // conditional aggregation (DuckDB's PIVOT syntax would work too;
    // FILTER-style CASE counts are the engine-neutral formulation).
    QDef(
      "q44_pivot",
      (s, d) => Tables.documents(s, d)
        // fold every lang OUTSIDE the explicit pivot list (including
        // NULL) into one 'other' bucket so `total` is a true count(*)
        // — summing only the five listed columns would silently
        // undercount the moment a sixth lang enters the corpus, while
        // the oracle's count(*) keeps growing (a guaranteed future
        // hash mismatch). Still ONE hash aggregation: the extra
        // bucket is just a sixth conditional count.
        .withColumn("lang_b",
          when(col("lang").isin("de", "en", "es", "fr", "zh"), col("lang"))
            .otherwise(lit("other")))
        .groupBy("source")
        .pivot("lang_b", Seq("de", "en", "es", "fr", "zh", "other"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .withColumn("total",
          col("de") + col("en") + col("es") + col("fr") + col("zh") +
            col("other"))
        .drop("other"),
      Some("""SELECT source,
             |  CAST(count(*) FILTER (lang = 'de') AS BIGINT) AS de,
             |  CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS en,
             |  CAST(count(*) FILTER (lang = 'es') AS BIGINT) AS es,
             |  CAST(count(*) FILTER (lang = 'fr') AS BIGINT) AS fr,
             |  CAST(count(*) FILTER (lang = 'zh') AS BIGINT) AS zh,
             |  CAST(count(*) AS BIGINT) AS total
             |FROM documents GROUP BY source""".stripMargin)),

    // ------------------------------------------------------------------
    // q45: the GLOBAL rank family — no PARTITION BY, heavy ties
    // (5 priorities / ~2.4k dates over 150k rows at sf0.1). Spark's
    // WindowExec would run each as ONE task (AllTuples); the
    // GlobalRank rewrite (plans/GlobalRank.scala, round 15) plans all
    // five as range-partitioned two-pass ranks with driver-side
    // tie-chain offsets. FIVE separate window specs on purpose:
    // rank-family functions sharing one spec collapse into a single
    // multi-expression Window, which the rewrite's scope guard skips.
    // percent_rank/cume_dist hashes are exact: both engines divide
    // the same integers in IEEE doubles (one correctly-rounded op).
    QDef(
      "q45_global_rank",
      (s, d) => {
        ord(s, d)
          .withColumn("prio_rank",
            rank().over(Window.orderBy(col("o_orderpriority"))))
          .withColumn("date_drank",
            dense_rank().over(Window.orderBy(col("o_orderdate"))))
          .withColumn("price_pct",
            percent_rank().over(Window.orderBy(col("o_totalprice"), col("o_orderkey"))))
          .withColumn("cust_cume",
            cume_dist().over(Window.orderBy(col("o_custkey"))))
          .withColumn("key_tile",
            ntile(7).over(Window.orderBy(col("o_orderkey"))))
          .select("o_orderkey", "prio_rank", "date_drank", "price_pct",
            "cust_cume", "key_tile")
      },
      Some("""SELECT o_orderkey,
             |  CAST(rank() OVER (ORDER BY o_orderpriority) AS INT) AS prio_rank,
             |  CAST(dense_rank() OVER (ORDER BY o_orderdate) AS INT) AS date_drank,
             |  percent_rank() OVER (ORDER BY o_totalprice, o_orderkey) AS price_pct,
             |  cume_dist() OVER (ORDER BY o_custkey) AS cust_cume,
             |  CAST(ntile(7) OVER (ORDER BY o_orderkey) AS INT) AS key_tile
             |FROM orders""".stripMargin)),

    // ------------------------------------------------------------------
    // q46: GLOBAL lag/lead — frameless offset windows with no
    // PARTITION BY. WindowExec would run each in ONE task; the
    // GlobalRank rewrite plans both via the two-pass operator whose
    // lightweight pass additionally ships ≤n boundary input values
    // per partition (plans/GlobalRank.scala doOffset). Two separate
    // specs on purpose (shared-spec functions collapse into one
    // multi-expression Window the scope guard skips); lead carries an
    // explicit non-NULL default so the default path is hash-covered.
    QDef(
      "q46_global_offset",
      (s, d) => {
        ord(s, d).createOrReplaceTempView("g_ord46")
        s.sql("""SELECT o_orderkey,
                |  lag(o_totalprice, 1) OVER (ORDER BY o_orderkey) AS prev_price,
                |  lead(o_orderdate, 2, DATE '1990-01-01')
                |    OVER (ORDER BY o_orderdate, o_orderkey) AS next2_date
                |FROM g_ord46""".stripMargin)
      },
      Some("""SELECT o_orderkey,
             |  lag(o_totalprice, 1) OVER (ORDER BY o_orderkey) AS prev_price,
             |  lead(o_orderdate, 2, DATE '1990-01-01')
             |    OVER (ORDER BY o_orderdate, o_orderkey) AS next2_date
             |FROM orders""".stripMargin))
  )
}
