package graft.streaming

import graft.queries.AnalyticsQueries
import graft.sources.BucketedUpsert
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The persisted market-basket count stores behind `GRAFT BUILD
  * BASKET`: pair counts, item counts and the basket count of one
  * `[o, i]` line frame, each materialized once by [[build]] into a
  * [[BucketedUpsert]] store. The pairs are every co-purchased pair
  * (no min-support cut), so `copurchase_cosine` / `basket_rules`
  * over the stored tables equal the batch queries over the same lines
  * once a reader applies [[AnalyticsQueries.BasketMinSupport]]
  * (asserted in StreamingBasketSpec and GraftViewsSpec).
  */
object BasketStream {

  val PairsTable = "mb_pairs"   // (i1, i2, c), bucketed by i1
  val ItemsTable = "mb_items"   // (i, n), bucketed by i
  val TotalsTable = "mb_totals" // (k, n_orders), one row, k = 0
  val DefaultBuckets = 32

  /** Aggregate `lines` (`[o, i]`) and materialize each store once:
    * one distinct + the basket-keyed self-join for the pairs. Items
    * route through [[AnalyticsQueries.capBasketItems]], the batch
    * memo's own cap, so the stores keep exactly the items the batch
    * queries keep. The caller drops the prefix first: a store that
    * already exists keeps its other generation. */
  def build(lines: DataFrame, prefix: String = "", buckets: Int = DefaultBuckets): Unit = {
    val bi = AnalyticsQueries.capBasketItems(lines)
    BucketedUpsert.materialize(
      bi.select(col("o"), col("i").as("i1"))
        .join(bi.select(col("o"), col("i").as("i2")), Seq("o"))
        .filter(col("i1") < col("i2"))
        .groupBy(col("i1"), col("i2"))
        .agg(count(lit(1)).as("c")),
      prefix + PairsTable, "i1", buckets)
    BucketedUpsert.materialize(bi.groupBy(col("i")).agg(count(lit(1)).as("n")),
      prefix + ItemsTable, "i", buckets)
    BucketedUpsert.materialize(
      bi.agg(countDistinct(col("o")).as("n_orders"))
        .select(lit(0L).as("k"), col("n_orders")),
      prefix + TotalsTable, "k", 1)
  }

  def drop(spark: SparkSession, prefix: String = ""): Unit =
    Seq(PairsTable, ItemsTable, TotalsTable)
      .foreach(t => BucketedUpsert.drop(spark, prefix + t))
}
