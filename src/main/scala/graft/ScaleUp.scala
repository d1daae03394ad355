package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cli.GraftSession

/** sf1.0 testdata synthesis (measurement only — VERDICT r8 ask #2).
  *
  * The test data comes at sf0.001/0.01/0.1, so without this main
  * every scale claim would rest on sf0.1. This main materializes a
  * ~10× corpus under an output dir (default /tmp/sf1.0) so the full
  * SparkEntry sweep can run once at sf~1.0 and prove the plans stay
  * linear. NOT an oracle input — correctness stays pinned at sf0.01.
  *
  * Construction: `factor` copies of each sf0.1 fact table, key
  * domains offset per copy so joins stay 1:N (a verbatim union would
  * multiply join fan-out by factor² instead of factor). `region` /
  * `nation` keep their fixed TPC-H cardinality, so every remapped
  * nationkey reference stays in range. Two realism fixes:
  *
  *  - `documents.text` gets a per-copy letter rotation (translate()
  *    over a rotated alphabet): verbatim copies would hand the dedup
  *    operators factor-sized exact/near-dup clusters everywhere,
  *    turning the LSH verify stage superlinear for an artifactual
  *    reason (bucket pair count grows k² in cluster size k). Rotated
  *    text keeps length/token-shape statistics while making each
  *    copy's shingle set disjoint from the others.
  *  - `embeddings.embedding` components rotate by `i` positions per
  *    copy: a rotation preserves the norm and every within-copy
  *    cosine but points each copy of a vector in an unrelated
  *    direction, so LSH/IVF bucket occupancy scales ~linearly. (A
  *    first cut nudged one component instead; the 10 near-clones of
  *    every vector then shared buckets, candidate pairs grew ×100
  *    for ×10 data, and p09/p14 measured ~12.5× — an artifact of the
  *    synthesis, not the plans.)
  */
object ScaleUp {
  private val Alpha = "abcdefghijklmnopqrstuvwxyz"

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "/tmp/sf1.0"
    val factor = if (args.length > 2) args(2).toInt else 10
    // The text rotation (i % 26) and embedding rotation (i % dim) are
    // only collision-free below their modulus: at factor 27 copy 26
    // would carry copy 0's text verbatim, silently reintroducing the
    // factor-sized exact-dup clusters the rotation exists to prevent
    // (a superlinear LSH measurement would then look like a plan
    // defect). Fail loudly instead of skewing measurements.
    require(factor >= 1 && factor <= 26,
      s"factor must be in [1, 26] (got $factor): the per-copy text/embedding " +
        "rotations repeat past 26 copies and would reintroduce exact-dup clusters")

    val spark = GraftSession.build(s"local[${Runtime.getRuntime.availableProcessors()}]")
    spark.conf.set("spark.sql.shuffle.partitions", 32L)

    def tbl(n: String): DataFrame = spark.read.parquet(s"$srcDir/$n.parquet")

    // key-domain width per table: next power of ten above the max key,
    // so remapped keys are disjoint per copy and stay readable
    def domain(df: DataFrame, key: String): Long = {
      val mx = df.agg(max(col(key).cast("long"))).head.getLong(0)
      var d = 1L; while (d <= mx) d *= 10; d
    }

    val cust  = tbl("customer");   val custD  = domain(cust, "c_custkey")
    val supp  = tbl("supplier");   val suppD  = domain(supp, "s_suppkey")
    val part  = tbl("part");       val partD  = domain(part, "p_partkey")
    val ords  = tbl("orders");     val ordD   = domain(ords, "o_orderkey")
    val line  = tbl("lineitem")
    val evts  = tbl("events");     val evtD   = domain(evts, "event_id")
    val userD = domain(evts, "user_id")
    val docs  = tbl("documents");  val docD   = domain(docs, "doc_id")
    val embs  = tbl("embeddings"); val vecD   = domain(embs, "vec_id")

    /** union of `factor` key-shifted copies (built as one plan — the
      * writer parallelizes over copies × input splits) */
    def copies(df: DataFrame)(remap: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => remap(df, i)).reduce(_ unionAll _)

    def shiftKey(d: Long, i: Int)(c: org.apache.spark.sql.Column) =
      (c + lit(d * i)).cast("long")

    val out: Seq[(String, DataFrame)] = Seq(
      "region" -> tbl("region"),
      "nation" -> tbl("nation"),
      "customer" -> copies(cust) { (df, i) =>
        df.withColumn("c_custkey", shiftKey(custD, i)(col("c_custkey")))
      },
      "supplier" -> copies(supp) { (df, i) =>
        df.withColumn("s_suppkey", shiftKey(suppD, i)(col("s_suppkey")))
      },
      "part" -> copies(part) { (df, i) =>
        df.withColumn("p_partkey", shiftKey(partD, i)(col("p_partkey")))
      },
      "orders" -> copies(ords) { (df, i) =>
        df.withColumn("o_orderkey", shiftKey(ordD, i)(col("o_orderkey")))
          .withColumn("o_custkey", shiftKey(custD, i)(col("o_custkey")))
      },
      "lineitem" -> copies(line) { (df, i) =>
        df.withColumn("l_orderkey", shiftKey(ordD, i)(col("l_orderkey")))
          .withColumn("l_partkey", shiftKey(partD, i)(col("l_partkey")))
          .withColumn("l_suppkey", shiftKey(suppD, i)(col("l_suppkey")))
      },
      "events" -> copies(evts) { (df, i) =>
        df.withColumn("event_id", shiftKey(evtD, i)(col("event_id")))
          .withColumn("user_id", shiftKey(userD, i)(col("user_id")))
      },
      "documents" -> copies(docs) { (df, i) =>
        val rot = Alpha.drop(i % 26) + Alpha.take(i % 26)
        df.withColumn("doc_id", shiftKey(docD, i)(col("doc_id")))
          .withColumn("text",
            translate(col("text"), Alpha + Alpha.toUpperCase,
              rot + rot.toUpperCase))
      },
      "embeddings" -> copies(embs) { (df, i) =>
        df.withColumn("vec_id", shiftKey(vecD, i)(col("vec_id")))
          .withColumn("embedding", expr(
            s"""CAST(concat(
               |  slice(embedding, $i % size(embedding) + 1,
               |        size(embedding) - $i % size(embedding)),
               |  slice(embedding, 1, $i % size(embedding)))
               |AS ARRAY<FLOAT>)""".stripMargin))
      }
    )

    out.foreach { case (name, df) =>
      val t0 = System.nanoTime()
      df.coalesce(8).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      val n = spark.read.parquet(s"$outDir/$name.parquet").count()
      println(f"[scaleup] $name%-10s rows=$n%9d  ${(System.nanoTime()-t0)/1e9}%.1f s")
    }
    spark.stop()
  }
}
