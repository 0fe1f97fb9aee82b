package graft

/** Mirrors the driver's t1 smoke: run SparkEntry.entry and require rows>0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(10, truncate = false)
    println(s"[smoke] entry rows = $n")
    assert(n > 0, "entry returned no rows")
    spark.stop()
  }
}
