package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A corpus rewritten in place under the same path: every memoized
  * query must return the rows a cold (forget-then-query) run returns,
  * without `Memo.clearAll`. Covers a persisted-store memo (the BM25
  * postings behind the two fixed-point retrieval queries), the
  * per-user aggregate spine, the shingle → minhash-pairs chain (with
  * its signature frame cached inside the build), a signature frame
  * cached by a query over the shingle memo (dedup_incremental) and the
  * decoded vector frame. */
class FreshCorpusSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val src = "/root/testdata/sf0.01"
  // dedup_incremental runs before dedup_minhash_lsh: on the rewritten
  // corpus its first touch re-stamps only the shingle memo, while the
  // signature frame it reads is still the one the pairs entry cached
  // over the old shingles
  private val Queries = Seq("bm25_prf_fp", "bm25_known_item_fp",
    "a1_count_dedup", "dedup_incremental", "dedup_minhash_lsh", "embed_quantize")

  /** Two thirds of each source table, a different third left out per
    * `version`, swapped in the way another process rewrites a corpus:
    * staged elsewhere, then moved under the path. (A Spark write to the
    * path itself would refresh the session's cached plans over it.) */
  private def writeCorpus(dir: Path, version: Int): Unit = {
    val stage = Files.createTempDirectory("fresh_stage")
    Seq("documents" -> "doc_id", "events" -> "event_id", "embeddings" -> "vec_id")
      .foreach { case (t, id) =>
        spark.read.parquet(s"$src/$t.parquet")
          .filter(pmod(col(id), lit(3)) =!= version)
          .coalesce(1).write.parquet(stage.resolve(s"$t.parquet").toString)
        FileUtils.deleteDirectory(dir.resolve(s"$t.parquet").toFile)
        Files.move(stage.resolve(s"$t.parquet"), dir.resolve(s"$t.parquet"))
      }
    FileUtils.deleteDirectory(stage.toFile)
  }

  private def rows(dir: Path): Map[String, Seq[String]] =
    Queries.map(q => q -> SparkEntry.queries(q)(spark, dir.toString)
      .collect().map(_.toString).sorted.toSeq).toMap

  test("a corpus rewritten in place serves fresh rows from every memo") {
    val dir = Files.createTempDirectory("fresh_corpus")
    try {
      writeCorpus(dir, 0)
      val before = rows(dir)
      writeCorpus(dir, 1)
      val warm = rows(dir)
      Memo.forget()
      val cold = rows(dir)
      Queries.foreach { q =>
        assert(cold(q).nonEmpty, s"$q: empty on the rewritten corpus")
        assert(cold(q) != before(q), s"$q: the rewrite must change its rows")
      }
      val stale = Queries.filter(q => warm(q) != cold(q))
      assert(stale.isEmpty, s"served rows of the replaced corpus: ${stale.mkString(", ")}")
    } finally {
      Memo.clearAll()
      FileUtils.deleteDirectory(dir.toFile)
    }
  }
}
