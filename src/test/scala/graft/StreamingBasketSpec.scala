package graft

import graft.streaming.BasketStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming market-basket maintenance
  * ([[graft.streaming.BasketStream]]): whole-basket micro-batches must
  * accumulate to EXACTLY the batch queries' outputs, a redelivered
  * batch must be a no-op, and an over-cap basket must store only its
  * capped pairs.
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

  test("chunked basket stream == batch copurchase_cosine / basket_rules; replay no-op; delete == re-aggregate") {
    import spark.implicits._
    BasketStream.drop(spark, prefix)
    BasketStream.init(spark, prefix, buckets = 4)
    try {
      // whole baskets per chunk: orders hash to 3 disjoint batches
      val all = lines.as[Line].collect().toSeq
      val batches = all.groupBy(_.o % 3).toSeq.sortBy(_._1).map(_._2)
      // one micro-batch id per chunk, as a stream's foreachBatch passes it
      batches.zipWithIndex.foreach { case (b, id) =>
        BasketStream.upsertBatch(spark, b.toDF(), prefix, 4, Some(id.toLong))
      }

      assert(rowsOf(BasketStream.cosine(spark, prefix)) ==
        rowsOf(SparkEntry.queries("copurchase_cosine")(spark, sf)))
      assert(rowsOf(BasketStream.rules(spark, prefix)) ==
        rowsOf(SparkEntry.queries("basket_rules")(spark, sf)))
      assert(BasketStream.cosine(spark, prefix).count() > 0)

      // serving index: top-k recs for a sample item equal the batch
      // pair frame's implied ranking, from a BUCKET-PRUNED read
      val sample = SparkEntry.queries("copurchase_cosine")(spark, sf)
        .orderBy(col("support_cnt").desc, col("i1")).select("i1")
        .as[Long].head()
      val batchRecs = {
        val p = SparkEntry.queries("copurchase_cosine")(spark, sf)
          .select(col("i1"), col("i2"), col("support_cnt"))
        p.filter(col("i1") === sample)
          .select(col("i2").as("item"), col("support_cnt"))
          .union(p.filter(col("i2") === sample)
            .select(col("i1"), col("support_cnt")))
          .orderBy(col("support_cnt").desc, col("item")).limit(5)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      }
      // Some(4) ASSERTS the catalog-resolved layout matches the build
      val served = BasketStream.recsTopK(spark, sample, 5, prefix,
        buckets = Some(4))
      assert(served.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        == batchRecs, "served recs must equal the batch-implied top-k")
      // the lookup must read ONE bucket's files, not the table
      val bucketsTouched = served.inputFiles
        .flatMap(f => graft.sources.BucketedUpsert
          .bucketIdOf(f.split('/').last)).distinct
      assert(bucketsTouched.length == 1,
        s"rec lookup must prune to the item's bucket: $bucketsTouched")

      // redelivered batch id is a no-op on every store
      val extra = Seq(Line(999001L, 1L), Line(999001L, 2L)).toDF("o", "i")
      BasketStream.upsertBatch(spark, extra, prefix, 4, Some(77L))
      val after1 = rowsOf(BasketStream.cosine(spark, prefix))
      BasketStream.upsertBatch(spark, extra, prefix, 4, Some(77L))
      assert(rowsOf(BasketStream.cosine(spark, prefix)) == after1)

      // OVER-CAP basket through the stream (r18: capBasketItems is
      // shared by batch and stream): ingest a basket 3x the item cap
      // — the store must absorb only the capped C(64,2) pair rows
      val cap = graft.queries.AnalyticsQueries.BasketItemCap
      // item ids in a range disjoint from the fixture's part keys so
      // the pair count below isolates the mega-basket's own rows
      val mega = (1L to 3L * cap)
        .map(i => Line(999002L, 1000000L + i)).toDF("o", "i")
      BasketStream.upsertBatch(spark, mega, prefix, 4, Some(79L))
      val megaPairs = graft.sources.BucketedUpsert
        .read(spark, prefix + BasketStream.PairsTable)
        .filter(col("c") > 0)
        .join(mega.select(col("i").as("i1")), Seq("i1"), "left_semi")
        .count()
      assert(megaPairs <= cap.toLong * (cap - 1) / 2,
        s"stream absorbed $megaPairs mega-basket pairs — cap not applied")
    } finally {
      BasketStream.drop(spark, prefix)
      graft.Memo.clearAll()
    }
  }
}
