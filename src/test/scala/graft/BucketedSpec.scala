package graft

import graft.sources.Bucketed
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed co-located join: same results, and — the point — the join
  * runs without a shuffle (no Exchange under the SortMergeJoin). */
class BucketedSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("joining two tables bucketed on the key needs no exchange") {
    import spark.implicits._
    val left = (1 to 1000).map(i => (i.toLong % 50, i.toLong)).toDF("k", "lv")
    val right = (1 to 300).map(i => (i.toLong % 50, i.toLong * 10)).toDF("k", "rv")
    Bucketed.write(left, "bkt_left", "k", 8)
    Bucketed.write(right, "bkt_right", "k", 8)
    try {
      val l = spark.table("bkt_left")
      val r = spark.table("bkt_right")
      // disable broadcast so the bucketed SMJ path is what's planned
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = l.join(r, Seq("k"))
        joined.collect()
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"), s"plan had an exchange:\n$plan")
        assert(joined.count() ==
          left.join(right, Seq("k")).count())
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_left")
      spark.sql("DROP TABLE IF EXISTS bkt_right")
    }
  }
}
