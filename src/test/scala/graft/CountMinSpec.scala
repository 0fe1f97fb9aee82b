package graft

import graft.functions.TextOps
import graft.functions.expressions.{CmsEstimate, CmsOps, CmsUnion, CountMinAgg}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Count-Min sketch contracts: the JVM row hash is bit-identical to
  * the portable md5 hash the oracle uses, sketch bytes are independent
  * of partitioning, merge equals one-shot, and estimates never
  * underestimate (with real overestimates once values outnumber the
  * 256-cell width). */
class CountMinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("JVM rowHash is bit-identical to portableHash(v || ':' || r)") {
    import spark.implicits._
    val vals = Seq("alpha", "beta gamma", "", "ünïcode✓", "x" * 100, "123")
    val rows = vals.flatMap(v => (0 until CmsOps.Depth).map(r => (v, r)))
    val viaSpark = rows.toDF("v", "r")
      .select(TextOps.portableHash(concat_ws(":", col("v"), col("r"))))
      .collect().map(_.getLong(0))
    val viaJvm = rows.map { case (v, r) => CmsOps.rowHash(v, r) }
    assert(viaSpark.toSeq == viaJvm, "JVM/Catalyst hash parity broken")
  }

  test("sketch bytes are partition-order-free and merge equals one-shot") {
    import spark.implicits._
    val data = (0 until 5000).map(i => s"tok${i % 400}")
    def sketchOf(parts: Int, slice: Seq[String]): Array[Byte] =
      slice.toDF("t").repartition(parts)
        .agg(CountMinAgg(col("t"))).collect().head.getAs[Array[Byte]](0)
    val one = sketchOf(1, data)
    val many = sketchOf(13, data)
    assert(java.util.Arrays.equals(one, many),
      "sketch bytes differ across partitionings")

    val (a, b) = data.splitAt(1717)
    val merged = CmsOps.serialize(CmsOps.mergeInto(
      CmsOps.deserialize(sketchOf(3, a)), CmsOps.deserialize(sketchOf(5, b))))
    assert(java.util.Arrays.equals(one, merged),
      "merged half-sketches differ from the one-shot sketch")

    // the same merge through the cms_union expression; the repartition
    // keeps the optimizer from evaluating it into the local relation
    val unioned = Seq((sketchOf(3, a), sketchOf(5, b))).toDF("x", "y")
      .repartition(1).select(CmsUnion(col("x"), col("y")))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(one, unioned),
      "cms_union of the half-sketches differs from the one-shot sketch")
  }

  test("never underestimates; overestimates exist above width cells") {
    import spark.implicits._
    // 400 distinct values over 256 cells per row: pigeonhole forces
    // collisions in every row, so some min-over-rows must overestimate
    val df = (0 until 5000).map(i => s"tok${i % 400}").toDF("t")
    val exact = df.groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sketch = df.agg(CountMinAgg(col("t"))).collect()
      .head.getAs[Array[Byte]](0)
    val est = exact.keys.map(v => v ->
      CmsOps.estimate(sketch, org.apache.spark.unsafe.types.UTF8String.fromString(v))).toMap
    exact.foreach { case (v, n) =>
      assert(est(v) >= n, s"CMS underestimated $v: ${est(v)} < $n")
    }
    assert(est.exists { case (v, e) => e > exact(v) },
      "fixture should force at least one collision overestimate")
  }

  test("SQL surface: cms_sketch + cms_estimate resolve through extensions") {
    import spark.implicits._
    Seq("a", "b", "a", "c", "a").toDF("t").createOrReplaceTempView("cms_in")
    val out = spark.sql(
      """SELECT cms_estimate(s, 'a') AS ea, cms_estimate(s, 'zz') AS ez
        |FROM (SELECT cms_sketch(t) AS s FROM cms_in)""".stripMargin).head()
    assert(out.getLong(0) >= 3L)
    assert(out.getLong(1) >= 0L)
    // column API agrees with SQL
    val viaCol = Seq("a", "b", "a", "c", "a").toDF("t")
      .agg(CountMinAgg(col("t")).as("s"))
      .select(CmsEstimate(col("s"), lit("a"))).head().getLong(0)
    assert(viaCol == out.getLong(0))
    // cms_union in SQL: sketch + itself doubles the estimate
    val doubled = spark.sql(
      """SELECT cms_estimate(cms_union(s, s), 'a') AS e
        |FROM (SELECT cms_sketch(t) AS s FROM cms_in)""".stripMargin)
      .head().getLong(0)
    assert(doubled == 2 * out.getLong(0))
  }
}
