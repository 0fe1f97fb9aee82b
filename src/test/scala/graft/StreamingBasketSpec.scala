package graft

import graft.queries.AnalyticsQueries
import graft.streaming.BasketStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted market-basket stores
  * ([[graft.streaming.BasketStream]]): a build must serve EXACTLY the
  * batch queries' outputs, each table in one publish, and an over-cap
  * basket must store only its capped pairs.
  */
object StreamingBasketSpec {
  case class Line(o: Long, i: Long)
}

class StreamingBasketSpec extends AnyFunSuite {
  import StreamingBasketSpec.Line

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private val prefix = "basketspec_"

  private def lines: DataFrame =
    graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("i"))

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  private def stored(table: String): DataFrame =
    graft.sources.BucketedUpsert.read(spark, prefix + table)

  test("built stores == batch copurchase_cosine / basket_rules; cap holds") {
    import spark.implicits._
    BasketStream.drop(spark, prefix)
    try {
      BasketStream.build(lines, prefix, buckets = 4)
      FirstGeneration.check(spark, Seq(BasketStream.PairsTable, BasketStream.ItemsTable,
        BasketStream.TotalsTable).map(prefix + _))

      val pairs = stored(BasketStream.PairsTable)
        .filter(col("c") >= AnalyticsQueries.BasketMinSupport)
      val items = stored(BasketStream.ItemsTable)
      val cosine = AnalyticsQueries.basketCosine(pairs, items)
      assert(rowsOf(cosine) ==
        rowsOf(SparkEntry.queries("copurchase_cosine")(spark, sf)))
      assert(rowsOf(AnalyticsQueries.basketRules(pairs, items,
        stored(BasketStream.TotalsTable).select(col("n_orders").as("nord")))) ==
        rowsOf(SparkEntry.queries("basket_rules")(spark, sf)))
      assert(cosine.count() > 0)

      // OVER-CAP basket (capBasketItems is shared by the batch memo and
      // the build): a basket 3x the item cap must store only the capped
      // C(64,2) pair rows
      val cap = AnalyticsQueries.BasketItemCap
      // item ids in a range disjoint from the fixture's part keys so
      // the pair count below isolates the mega-basket's own rows
      val mega = (1L to 3L * cap)
        .map(i => Line(999002L, 1000000L + i)).toDF("o", "i")
      BasketStream.drop(spark, prefix)
      BasketStream.build(lines.union(mega), prefix, buckets = 4)
      val megaPairs = stored(BasketStream.PairsTable)
        .filter(col("c") > 0)
        .join(mega.select(col("i").as("i1")), Seq("i1"), "left_semi")
        .count()
      assert(megaPairs <= cap.toLong * (cap - 1) / 2,
        s"store absorbed $megaPairs mega-basket pairs — cap not applied")
    } finally {
      BasketStream.drop(spark, prefix)
      graft.Memo.clearAll()
    }
  }
}
