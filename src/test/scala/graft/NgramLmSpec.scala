package graft

import graft.functions.FixedPointOps
import graft.operators.NgramLm
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Fixed-point log2 surrogate + stupid-backoff bigram LM invariants
  * (the hash-gate determinism arguments behind `lm_perplexity_fp`). */
class NgramLmSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** Driver-side reference of log2LinFp — plain Long arithmetic. */
  private def refLog2Fp(x: Long): Long = {
    val il = 63 - java.lang.Long.numberOfLeadingZeros(x)
    il * FixedPointOps.FpScale +
      ((x * FixedPointOps.FpScale) >> il) - FixedPointOps.FpScale
  }

  test("log2LinFp: exact at powers of two, monotone, matches reference") {
    import spark.implicits._
    val xs = ((1L to 300L) ++ Seq(1L << 20, (1L << 20) + 1, 1L << 42,
      (1L << 43) - 1, 999999937L)).toDF("x")
    val got = xs.select(col("x"),
      FixedPointOps.log2LinFp(col("x")).as("l")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (x, l) => assert(l == refLog2Fp(x), s"x=$x") }
    // exact k·S at powers of two
    (0 to 42).foreach { k =>
      assert(got.getOrElse(1L << k, refLog2Fp(1L << k)) ==
        k.toLong * FixedPointOps.FpScale || !got.contains(1L << k))
    }
    assert(got(1L) == 0L)
    assert(got(1L << 20) == 20L * FixedPointOps.FpScale)
    // strictly monotone over the contiguous range
    (2L to 300L).foreach(x => assert(got(x) > got(x - 1), s"x=$x"))
  }

  test("log2LinFp stays within 0.09 bits of true log2") {
    (1L to 4096L).foreach { x =>
      val approx = refLog2Fp(x).toDouble / FixedPointOps.FpScale
      val err = approx - math.log(x.toDouble) / math.log(2.0)
      assert(err <= 1e-9 && err >= -0.0861, s"x=$x err=$err")
    }
  }

  test("LM: seen text scores below backoff scores below OOV") {
    import spark.implicits._
    val train = Seq(
      (0L, "the quick fox jumps over the lazy dog"),
      (1L, "the quick fox sleeps under the lazy dog"),
      (2L, "a quick dog jumps over a lazy fox")).toDF("doc_id", "text")
    val c = NgramLm.train(train)
    val eval = Seq(
      (10L, "the quick fox jumps over the lazy dog"), // all bigrams seen
      (11L, "dog the over fox quick a"),              // seen words, unseen order
      (12L, "zz yy xx ww vv uu")                      // pure OOV
    ).toDF("doc_id", "text")
    val got = NgramLm.score(eval, c).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(10L) < got(11L) && got(11L) < got(12L))
    assert(got(12L) == NgramLm.OovBitsFp) // every bigram hits the OOV arm
    // in-distribution text stays under ~4 bits/bigram on this corpus
    assert(got(10L) < 4L * FixedPointOps.FpScale)
  }

  test("LM score is partitioning-invariant (bit-deterministic)") {
    import spark.implicits._
    val d = Tables.documentsOrSynth(spark)
    val c1 = NgramLm.train(d)
    val s1 = NgramLm.score(d, c1).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val dr = d.repartition(7)
    val c2 = NgramLm.train(dr)
    val s2 = NgramLm.score(dr.repartition(3), c2).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(s1.sameElements(s2))
  }

  test("PMI collocations: support floor and independence cut both bite") {
    import spark.implicits._
    // planted structure: "ice cream" — 6 exclusive co-occurrences
    // (high PMI, above support); "salt lake" — exclusive but support
    // 4 < 5 (cut by the floor); "u v" — support 5 but u and v each
    // appear 40 times across other contexts (PMI < 0, cut by the
    // independence test); 70 scatter docs of support-1 pairs.
    val docs =
      (1 to 6).map(i => (100L + i, "ice cream")) ++
        (1 to 4).map(i => (200L + i, "salt lake")) ++
        (1 to 5).map(i => (300L + i, "u v")) ++
        (1 to 35).map(i => (400L + i, s"u f$i")) ++
        (1 to 35).map(i => (500L + i, s"g$i v"))
    val dir = java.nio.file.Files.createTempDirectory("pmi_fix")
    dir.toFile.deleteOnExit()
    docs.toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("documents.parquet").toString)
    val got = SparkEntry.queries("collocations_pmi_fp")(spark, dir.toString)
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // N = 12 + 8 + 10 + 70 + 70 = 170 tokens;
    // pmi(ice,cream) = lg(6) + lg(170) − lg(6) − lg(6) = lg(170) − lg(6)
    val want = ("ice", "cream", 6L, refLog2Fp(170L) - refLog2Fp(6L))
    assert(got.toSeq == Seq(want),
      s"keep set must be exactly the planted collocation, got ${got.toSeq}")
    graft.Memo.clearAll()
  }

  private object Tables {
    def documentsOrSynth(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      val words = Seq("scan", "join", "filter", "agg", "sort", "table")
      (0L until 40L).map { i =>
        val n = 5 + (i % 17).toInt
        val text = (0 until n)
          .map(j => words(((i * 31 + j * 7) % words.size).toInt)).mkString(" ")
        (i, text)
      }.toDF("doc_id", "text")
    }
  }
}
