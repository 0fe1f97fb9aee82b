package graft

import graft.operators.NgramLm
import graft.streaming.LmCountsStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming LM count maintenance ([[graft.streaming.LmCountsStream]]):
  * additive per-batch merges must accumulate to EXACTLY the one-shot
  * `NgramLm.train` counts of the union corpus (counts are linear in
  * the corpus, so any batch split converges bit-identically), scoring
  * from the store must equal batch scoring, and a redelivered
  * micro-batch must be a no-op (batchId guard on every store).
  */
object StreamingLmSpec {
  case class Doc(doc_id: Long, text: String)
}

class StreamingLmSpec extends AnyFunSuite {
  import StreamingLmSpec.Doc

  private lazy val spark = SparkTestSession.spark

  private def corpus: Seq[Doc] = {
    val words = Seq("scan", "join", "filter", "agg", "sort", "table", "spill")
    (0L until 30L).map { i =>
      val n = 4 + (i % 13).toInt
      Doc(i, (0 until n)
        .map(j => words(((i * 29 + j * 11) % words.size).toInt)).mkString(" "))
    }
  }

  test("accumulated counts == one-shot training; store scoring == batch scoring") {
    import spark.implicits._
    val prefix = "lmspec_"
    LmCountsStream.drop(spark, prefix)
    LmCountsStream.init(spark, prefix, buckets = 4)
    try {
      val batches = corpus.grouped(11).toSeq // 11 + 11 + 8, uneven on purpose
      // one micro-batch id per chunk, as a stream's foreachBatch passes it
      batches.zipWithIndex.foreach { case (b, id) =>
        LmCountsStream.upsertBatch(spark, b.toDF(), prefix, 4, Some(id.toLong))
      }

      val ref = NgramLm.train(corpus.toDF("doc_id", "text"))
      val got = LmCountsStream.readCounts(spark, prefix)
      def rows3(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          .sortBy(t => (t._1, t._2))
      def rows2(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      assert(rows3(got.bigrams).sameElements(rows3(ref.bigrams)))
      assert(rows2(got.contexts).sameElements(rows2(ref.contexts)))
      assert(rows2(got.unigrams).sameElements(rows2(ref.unigrams)))
      assert(got.totals.collect().map(_.getLong(0)).toSeq ==
        ref.totals.collect().map(_.getLong(0)).toSeq)

      // store scoring == batch scoring on a mixed eval frame
      val eval = Seq(Doc(100L, "scan join filter agg"),
        Doc(101L, "zz yy xx")).toDF("doc_id", "text")
      def scored(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1)
      assert(scored(LmCountsStream.score(spark, eval, prefix))
        .sameElements(scored(NgramLm.score(eval, ref))))
      assert(scored(NgramLm.score(eval, ref))
        .find(_._1 == 101L).get._3 == NgramLm.OovBitsFp)

      // redelivered batch (same caller + batch id) is a no-op: the
      // first direct call applies and records the id, the second —
      // the at-least-once redelivery — must skip on every store
      val extra = Seq(Doc(200L, "spill sort spill sort"))
        .toDF("doc_id", "text")
      LmCountsStream.upsertBatch(spark, extra, prefix, 4, Some(99L))
      val after1 = rows3(LmCountsStream.readCounts(spark, prefix).bigrams)
      assert(!after1.sameElements(rows3(ref.bigrams))) // first call applied
      LmCountsStream.upsertBatch(spark, extra, prefix, 4, Some(99L))
      val g2 = LmCountsStream.readCounts(spark, prefix)
      assert(rows3(g2.bigrams).sameElements(after1))
      assert(g2.totals.collect().head.getLong(0) ==
        ref.totals.collect().head.getLong(0) + 4L)
    } finally LmCountsStream.drop(spark, prefix)
  }
}
