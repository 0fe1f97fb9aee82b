package graft.streaming

import graft.queries.AnalyticsQueries
import graft.sources.BucketedUpsert
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of the market-basket stores — the ingest
  * path of `copurchase_cosine` / `basket_rules`. The batch queries
  * self-join the whole basket table; at 100 TB the viable shape is
  * this one: each arriving micro-batch of COMPLETED baskets
  * aggregates its own pair counts, item counts, and basket count
  * (O(batch·basket²)) and merges them additively into three
  * [[BucketedUpsert]] stores — only touched buckets rewrite.
  *
  * Caller contract: a basket (order) arrives WHOLE inside one
  * micro-batch — the completed-orders CDC feed, not the raw line
  * stream. Pair counts are linear in baskets but quadratic within
  * one, so a basket split across batches would under-count its
  * cross-batch pairs; with whole baskets the accumulated counts are
  * EXACTLY the one-shot aggregation of the union (asserted against
  * the batch queries in StreamingBasketSpec).
  *
  * Counts only grow: there is no delete, so the serve side cuts pairs
  * at min-support (`c` ≥ [[MinSupport]]) and nothing else. Replay
  * safety: additive merges record the foreachBatch batchId per store;
  * a redelivered batch is a no-op.
  *
  * Serving reuses [[AnalyticsQueries.basketCosine]] /
  * [[AnalyticsQueries.basketRules]] verbatim — the scoring math
  * exists once, so streaming state and the batch oracles cannot
  * drift.
  */
object BasketStream {

  val PairsTable = "mb_pairs"   // (i1, i2, c), bucketed by i1
  val ItemsTable = "mb_items"   // (i, n), bucketed by i
  val TotalsTable = "mb_totals" // (k, n_orders), one row, k = 0
  /** Denormalized SERVING index: every pair twice, bucketed by the
    * query item — the doubled-row layout is what makes an
    * "also-bought" lookup a bucket-file probe ([[recsTopK]]) instead
    * of a table scan, the PostingsStore term-bucket recipe applied to
    * item-item recs. Maintained by the same additive merges as the
    * analytic pair table. */
  val RecsTable = "mb_recs"     // (q, r, c), bucketed by q
  val DefaultBuckets = 32

  /** Serve-side min-support — an ALIAS of the batch constant
    * ([[AnalyticsQueries.BasketMinSupport]], also interpolated into
    * the oracle CTE), so the streaming==batch cut can only move in
    * lockstep. */
  val MinSupport: Int = AnalyticsQueries.BasketMinSupport

  private def additive: (String, Column, Column) => Column =
    (_, ex, dl) => coalesce(ex, lit(0L)) + coalesce(dl, lit(0L))

  /** Create the three empty stores (idempotent; adopts a same-name
    * store left on disk by an earlier process). */
  def init(spark: SparkSession, prefix: String = "",
           buckets: Int = DefaultBuckets): Unit = {
    import spark.implicits._
    def mk(table: String, df: DataFrame, key: String, b: Int): Unit =
      if (!BucketedUpsert.adopt(spark, table))
        BucketedUpsert.materialize(df, table, key, b)
    mk(prefix + PairsTable,
      Seq.empty[(Long, Long, Long)].toDF("i1", "i2", "c"), "i1", buckets)
    mk(prefix + ItemsTable,
      Seq.empty[(Long, Long)].toDF("i", "n"), "i", buckets)
    mk(prefix + TotalsTable,
      Seq.empty[(Long, Long)].toDF("k", "n_orders"), "k", 1)
    mk(prefix + RecsTable,
      Seq.empty[(Long, Long, Long)].toDF("q", "r", "c"), "q", buckets)
  }

  def drop(spark: SparkSession, prefix: String = ""): Unit =
    Seq(PairsTable, ItemsTable, TotalsTable, RecsTable)
      .foreach(t => BucketedUpsert.drop(spark, prefix + t))

  /** The batch's own (pairs, items, totals) delta frames from a
    * `[o, i]` line frame — one distinct + the basket-keyed self-join,
    * map-side combined. Items route through
    * [[AnalyticsQueries.capBasketItems]]: the hash-rank is a function
    * of (o, i) alone, so with whole baskets per batch (the caller
    * contract above) the stream keeps EXACTLY the items the batch memo
    * keeps.
    *
    * Contract-violation blast radius (ADVICE r18): if a caller splits
    * one ORDER KEY across micro-batches, the cap amplifies the
    * violation rather than merely under-counting — each fragment is
    * capped independently, so an over-cap basket can contribute up to
    * 64 items PER FRAGMENT (a different, larger item subset than the
    * batch memo's 64-of-the-union) and its cross-fragment pairs are
    * never formed. Re-ingesting an already-seen order key therefore
    * silently invalidates the stream==batch parity under the cap; the
    * parity guarantee is conditional on whole-basket batching, which
    * StreamingBasketSpec's feeds honor and any new caller must too.
    * There is deliberately no seen-order assertion here: it would
    * need a per-order-key state table touched by every batch — a
    * second keyed exchange per micro-batch purely for diagnostics. */
  private def deltas(batch: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val bi = AnalyticsQueries.capBasketItems(batch)
    val pairs = bi.select(col("o"), col("i").as("i1"))
      .join(bi.select(col("o"), col("i").as("i2")), Seq("o"))
      .filter(col("i1") < col("i2"))
      .groupBy(col("i1"), col("i2"))
      .agg(count(lit(1)).as("c"))
    val items = bi.groupBy(col("i")).agg(count(lit(1)).as("n"))
    val totals = bi.agg(countDistinct(col("o")).as("n_orders"))
      .select(lit(0L).as("k"), col("n_orders"))
    (pairs, items, totals)
  }

  private def merge(spark: SparkSession, d: (DataFrame, DataFrame, DataFrame),
                    prefix: String, buckets: Int,
                    batchId: Option[Long]): Unit = {
    BucketedUpsert.upsert(spark, prefix + PairsTable, d._1,
      Seq("i1", "i2"), "i1", buckets, merge = additive, batchId = batchId)
    BucketedUpsert.upsert(spark, prefix + ItemsTable, d._2,
      Seq("i"), "i", buckets, merge = additive, batchId = batchId)
    BucketedUpsert.upsert(spark, prefix + TotalsTable, d._3,
      Seq("k"), "k", 1, merge = additive, batchId = batchId)
    val recs = d._1.select(col("i1").as("q"), col("i2").as("r"), col("c"))
      .union(d._1.select(col("i2"), col("i1"), col("c")))
    BucketedUpsert.upsert(spark, prefix + RecsTable, recs,
      Seq("q", "r"), "q", buckets, merge = additive, batchId = batchId)
  }

  /** Merge one micro-batch of complete `[o, i]` basket lines. */
  def upsertBatch(spark: SparkSession, batch: DataFrame,
                  prefix: String = "", buckets: Int = DefaultBuckets,
                  batchId: Option[Long] = None): Unit =
    merge(spark, deltas(batch), prefix, buckets, batchId)

  private def served(spark: SparkSession, prefix: String):
      (DataFrame, DataFrame, DataFrame) = (
    BucketedUpsert.read(spark, prefix + PairsTable)
      .filter(col("c") >= MinSupport),
    BucketedUpsert.read(spark, prefix + ItemsTable),
    BucketedUpsert.read(spark, prefix + TotalsTable)
      .select(col("n_orders").as("nord")))

  /** Item-item cosine from the accumulated stores — must equal the
    * batch `copurchase_cosine` over the union of ingested baskets. */
  def cosine(spark: SparkSession, prefix: String = ""): DataFrame = {
    val (pairs, items, _) = served(spark, prefix)
    AnalyticsQueries.basketCosine(pairs, items)
  }

  /** Association rules from the accumulated stores — must equal the
    * batch `basket_rules` over the union of ingested baskets. */
  def rules(spark: SparkSession, prefix: String = ""): DataFrame = {
    val (pairs, items, totals) = served(spark, prefix)
    AnalyticsQueries.basketRules(pairs, items, totals)
  }

  /** "Customers who bought `item` also bought …": top-k co-purchased
    * items by pair count. The read touches ONLY the bucket files the
    * item hashes into (BucketedUpsert.readKeys on the doubled recs
    * table) — O(1) bucket files per lookup at any store size, the
    * serve-path contract (pruning asserted in StreamingBasketSpec).
    * Count-ranked with an item-id tie-break: deterministic, and the
    * scoring the batch pair frame implies for a single-item context.
    *
    * `buckets` defaults to the store's CATALOG-recorded bucket count
    * (the generation marker written at materialize time) — a lookup
    * against a store built with a non-default count (GRAFT BUILD
    * BASKET ... BUCKETS 4) works without the caller tracking the
    * number. Pass Some(b) only to ASSERT an expected layout; a
    * mismatch fails fast in readKeys rather than probing the wrong
    * bucket files. */
  def recsTopK(spark: SparkSession, item: Long, k: Int,
               prefix: String = "",
               buckets: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val resolved = BucketedUpsert.activeGen(spark, prefix + RecsTable)
      .flatMap(g => BucketedUpsert.catalogBuckets(spark, g))
      .orElse(buckets)
      .getOrElse(DefaultBuckets)
    buckets.foreach(b => require(b == resolved,
      s"recsTopK: caller expects $b buckets but '${prefix + RecsTable}' " +
        s"is bucketed into $resolved"))
    BucketedUpsert.readKeys(spark, prefix + RecsTable,
        Seq(item).toDF("q"), "q", resolved)
      .filter(col("q") === item && col("c") >= MinSupport)
      .orderBy(col("c").desc, col("r")).limit(k)
      .select(col("r").as("item"), col("c").as("support_cnt"))
  }
}
