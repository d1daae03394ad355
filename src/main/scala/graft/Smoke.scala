package graft

import graft.cli.GraftSession

/** Local smoke runner mirroring the driver's t1 check:
  * SparkEntry.entry must return >0 rows on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("local[8]")
    val df = SparkEntry.entry(spark)
    df.show(20, truncate = false)
    println(s"[smoke] entry rows = ${df.count()}")
    spark.stop()
  }
}
