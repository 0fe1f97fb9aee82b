package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native `l2_fp` expression: bit-equal to its higher-order-function
  * formulation, null-safe, and loud on long overflow. */
class ScaleOpsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("native l2_fp is bit-equal to the HOF formulation (and null-safe)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      (i.toLong,
        Seq.fill(64)(((rnd.nextDouble() * 2 - 1) * (1L << 20)).toLong),
        Seq.fill(64)(((rnd.nextDouble() * 2 - 1) * (1L << 20)).toLong))
    }.toDF("id", "a", "b")
    val both = rows.select(
      graft.functions.expressions.L2DistanceFp(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0L), _ + _).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    // SQL registration + null/length-mismatch behavior
    rows.limit(1).createOrReplaceTempView("l2_fp_t")
    val viaSql = spark.sql(
      "SELECT l2_fp(a, b) = aggregate(zip_with(a, b, (x, y) -> (x-y)*(x-y)), 0L, (s, v) -> s + v) FROM l2_fp_t")
      .head.getBoolean(0)
    assert(viaSql)
    assert(spark.sql("SELECT l2_fp(array(1L), array(1L, 2L))").head.isNullAt(0))
    assert(spark.sql("SELECT l2_fp(CAST(NULL AS ARRAY<BIGINT>), array(1L))")
      .head.isNullAt(0))
  }

  test("l2_fp fails loudly on long overflow instead of wrapping") {
    // SQL exposure means arbitrary array<bigint> input: inputs outside
    // the internal |q| <= 2^20 quantization contract must raise, never
    // return a silently wrapped wrong distance
    // constant inputs fold at the driver (raw ArithmeticException);
    // data-driven inputs surface it wrapped in a SparkException
    val e = intercept[Throwable] {
      spark.sql(s"SELECT l2_fp(array(${Long.MaxValue}L), array(-2L))").collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes(e).exists(_.isInstanceOf[ArithmeticException]),
      s"expected ArithmeticException in cause chain, got $e")
  }
}
