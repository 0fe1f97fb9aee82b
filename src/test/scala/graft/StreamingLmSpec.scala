package graft

import graft.operators.NgramLm
import graft.streaming.LmCountsStream
import org.scalatest.funsuite.AnyFunSuite

/** The persisted LM count stores ([[graft.streaming.LmCountsStream]]):
  * a build must store EXACTLY the one-shot `NgramLm.train` counts of
  * its corpus, each table in one publish, and scoring from the store
  * must equal batch scoring.
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

  test("built counts == one-shot training; store scoring == batch scoring") {
    import spark.implicits._
    val prefix = "lmspec_"
    LmCountsStream.drop(spark, prefix)
    try {
      LmCountsStream.build(corpus.toDF(), prefix, buckets = 4)
      FirstGeneration.check(spark, Seq(LmCountsStream.BigramTable, LmCountsStream.ContextTable,
        LmCountsStream.UnigramTable, LmCountsStream.TotalsTable).map(prefix + _))

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
      assert(scored(NgramLm.score(eval, got))
        .sameElements(scored(NgramLm.score(eval, ref))))
      assert(scored(NgramLm.score(eval, ref))
        .find(_._1 == 101L).get._3 == NgramLm.OovBitsFp)
    } finally LmCountsStream.drop(spark, prefix)
  }
}
