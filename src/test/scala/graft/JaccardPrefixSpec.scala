package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The prefix-filter Jaccard plan (t = 0.8) vs the inverted-index
  * plan: the prefix lemma says candidate generation from the
  * n − ⌈t·n⌉ + 1 rarest shingles loses NO pair with J ≥ t, so the
  * prefix plan's rows must equal the full plan's rows filtered to the
  * same threshold.
  */
class JaccardPrefixSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.01"

  /** Temp corpora are deleted RECURSIVELY after the suite —
    * deleteOnExit() on a non-empty directory is a no-op (it only
    * removes empty dirs), so the parquet fixtures of the 8 randomized
    * trials would otherwise accumulate on disk (ADVICE r17). */
  private val tmpDirs = scala.collection.mutable.ListBuffer.empty[java.nio.file.Path]

  private def tmpDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tmpDirs += d
    d
  }

  override def afterAll(): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    tmpDirs.foreach { d =>
      if (Files.exists(d)) {
        val walk = Files.walk(d)
        val all =
          try walk.iterator().asScala.toSeq finally walk.close()
        all.sortBy(-_.getNameCount).foreach(p => Files.deleteIfExists(p))
      }
    }
    super.afterAll()
  }

  test("prefix-filter plan equals the inverted-index plan at its threshold") {
    val prefix = SparkEntry.queries("dedup_jaccard_prefix")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = SparkEntry.queries("dedup_ngram_jaccard")(spark, sf)
      .filter(col("jaccard") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(prefix == full,
      s"prefix filter must be lossless: only-in-full=${full -- prefix}, " +
        s"only-in-prefix=${prefix -- full}")
    assert(full.nonEmpty, "fixture must contain strong-duplicate pairs")
  }

  test("prefix lemma edge: a pair at exactly the threshold survives") {
    import spark.implicits._
    // J must land EXACTLY on 0.8: |A| = |B| = 9 trigram shingles
    // (11 tokens each), 8 shared => J = 8/(9+9-8) = 0.8. Prefix keeps
    // n − ⌈0.8n⌉ + 1 = 9 − 8 + 1 = 2 rarest shingles per doc: the
    // df=1 unique tail trigram plus the smallest df=2 shared one —
    // the shared prefix element is what surfaces the pair.
    val a = (1 to 11).map(i => s"w$i").mkString(" ")          // w1..w11
    val b = ((1 to 10).map(i => s"w$i") :+ "zz").mkString(" ") // last differs
    val fixture = Seq((1L, a), (2L, b))
    val dir = tmpDir("ppj_fix")
    fixture.toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("documents.parquet").toString)
    // force the PREFIX plan: the adaptive pick would choose the
    // inverted-index plan on this thin fixture, and this case exists
    // to pin the prefix lemma's boundary behavior
    val got = queries.TextQueries
      .jaccardStrongPairs(spark, dir.toString, plan = Some("prefix"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 0.8)),
      s"threshold-exact pair must survive the prefix filter: ${got.toSeq}")
    graft.Memo.clearAll()
  }

  test("adaptive regime pick: thin-df corpus → inverted-index, boilerplate-heavy → prefix") {
    import spark.implicits._
    import queries.TextQueries
    // thin shape: every doc its own vocabulary — df ≈ 1 everywhere,
    // explode amplification ≈ 0 → the simple plan
    val thin = (0 until 40).map(d =>
      (d.toLong, (0 until 12).map(i => s"t${d}_$i").mkString(" ")))
    // boilerplate shape: 40 docs sharing one 12-token template — every
    // shingle has df = 40 (> the 8×-per-row budget under the df-50
    // cap) → quadratic explode → the prefix plan
    val boiler = (0 until 40).map(d =>
      (d.toLong, (0 until 12).map(i => s"tpl_$i").mkString(" ")))
    def regimeOf(rows: Seq[(Long, String)]): String = {
      val sh = rows.toDF("doc_id", "text")
        .select(col("doc_id"),
          explode(graft.functions.TextOps.shingles(
            graft.functions.TextOps.tokens(col("text")))).as("s"))
      TextQueries.jaccardRegime(
        sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= 50))
    }
    assert(regimeOf(thin) == "inverted",
      "a thin df profile must pick the inverted-index plan")
    assert(regimeOf(boiler) == "prefix",
      "a boilerplate-heavy df profile must pick the prefix-filter plan")
  }

  test("both plans return identical rows on a mixed corpus") {
    import spark.implicits._
    // near-dup pairs + template docs: exercises candidate generation
    // under both plans on the same data
    val rows =
      (0 until 20).map(d => (d.toLong, (0 until 12).map(i => s"tpl_$i").mkString(" "))) ++
      Seq((100L, (1 to 11).map(i => s"w$i").mkString(" ")),
        (101L, ((1 to 10).map(i => s"w$i") :+ "zz").mkString(" ")))
    val dir = tmpDir("ppj_mixed")
    rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("documents.parquet").toString)
    def run(plan: String): Set[(Long, Long, Double)] = queries.TextQueries
      .jaccardStrongPairs(spark, dir.toString, plan = Some(plan))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val p = run("prefix"); val i = run("inverted")
    assert(p == i, s"plans must agree: only-prefix=${p -- i}, only-inverted=${i -- p}")
    assert(p.nonEmpty, "mixed fixture must contain strong duplicates")
    graft.Memo.clearAll()
  }

  test("randomized corpora: prefix and inverted plans agree on every trial") {
    // The r17 rewrite folded the prefix's set-size count into the rank
    // window; pin the lemma across shapes the fixed fixtures don't
    // enumerate — random base docs with 0-2-token mutated copies (J
    // lands on both sides of 0.8 depending on doc length), a shared
    // template block for df pressure, and a fixed seed for
    // reproducibility. Both plans run over the SAME written corpus, so
    // any divergence is the candidate generation, not the data.
    import spark.implicits._
    val rnd = new scala.util.Random(17L)
    for (trial <- 1 to 8) {
      val vocab = (0 until 30).map(i => s"v$i")
      val bases = (0 until 4).map { b =>
        (0 until (8 + rnd.nextInt(8))).map(_ => vocab(rnd.nextInt(vocab.size)))
      }
      val docs = bases.zipWithIndex.flatMap { case (toks, b) =>
        val copies = (0 until rnd.nextInt(3)).map { c =>
          val mutated = toks.zipWithIndex.map { case (t, i) =>
            if (rnd.nextInt(10) == 0) s"m${b}_${c}_$i" else t
          }
          (100L * b + c + 1, mutated.mkString(" "))
        }
        (100L * b, toks.mkString(" ")) +: copies
      } ++ (0 until 10).map(d =>
        (1000L + d, (0 until 10).map(i => s"tpl_$i").mkString(" ")))
      val dir = tmpDir(s"ppj_rnd$trial")
      docs.toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
        .parquet(dir.resolve("documents.parquet").toString)
      def run(plan: String): Set[(Long, Long, Double)] = queries.TextQueries
        .jaccardStrongPairs(spark, dir.toString, plan = Some(plan))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val p = run("prefix"); val i = run("inverted")
      assert(p == i, s"trial $trial diverged: only-prefix=${p -- i}, " +
        s"only-inverted=${i -- p}\n docs=$docs")
      graft.Memo.clearAll()
    }
  }
}
