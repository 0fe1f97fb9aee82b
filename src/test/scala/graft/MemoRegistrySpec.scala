package graft

import graft.config.DefaultConfig
import graft.sources.{PostingsStore, StoreSentinel}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The session-memo registry contract: the warm-up names the
  * benchmark keys its `memo.*_s` metrics on, what `clearAll` releases,
  * and what `forget` keeps. */
class MemoRegistrySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("memoWarmers names the benchmark's memos, in order") {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("perfbench/src/main/scala/perfbench/Registry.scala")), "UTF-8")
    val block = """(?s)val Memos: Seq\[String\] = Seq\((.*?)\)""".r
      .findFirstMatchIn(src).get.group(1)
    val benchMemos = "\"([a-z_]+)\"".r.findAllMatchIn(block).map(_.group(1)).toSeq
    assert(benchMemos.size == 12)
    assert(SparkEntry.memoWarmers.map(_._1) == benchMemos)
  }

  test("clearAll releases every entry, lock and cached frame") {
    Memo.forget() // start from an empty registry
    SparkEntry.memoWarmers.foreach { case (_, warm) => warm(spark, sf) }
    operators.AccessService.serveFrames(spark, sf, DefaultConfig.config)
    queries.TextQueries.postingsPrefix(spark, sf)
    // a signature frame cached outside any build, over the shingle memo
    SparkEntry.queries("dedup_incremental")(spark, sf).count()
    val frames = Memo.frames
    // agg, shingles, minhash signatures + pairs, labels, ngram ab +
    // shared, winnow, vecs, 3 + 4 LM counts, 2 basket, 3 serve, loose
    assert(frames.size == 22)
    assert(frames.forall(_.storageLevel != StorageLevel.NONE))
    assert(Memo.sessions >= 1)
    Memo.clearAll()
    assert(Memo.sessions == 0, "no entries or locks may survive clearAll")
    frames.foreach(f => assert(f.storageLevel == StorageLevel.NONE,
      s"still cached after clearAll: ${f.queryExecution.logical.simpleString(80)}"))
    val p = queries.TextQueries.postingsPrefixName(sf)
    assert(!StoreSentinel.matches(spark, queries.TextQueries.bpePrefixName(sf),
      StoreSentinel.corpusSignature(sf, "documents.parquet")),
      "clearAll drops the persisted stores behind the entries")
    assert(!StoreSentinel.matches(spark, p,
      StoreSentinel.corpusSignature(sf, "documents.parquet")))
  }

  test("forget releases the in-memory entries and keeps the stores adoptable") {
    Memo.forget()
    val p = queries.TextQueries.postingsPrefix(spark, sf)
    SparkEntry.queries("a1_count_dedup")(spark, sf).count()
    val frames = Memo.frames
    assert(frames.nonEmpty)
    Memo.forget()
    assert(Memo.sessions == 0)
    assert(frames.forall(_.storageLevel == StorageLevel.NONE))
    assert(StoreSentinel.matches(spark, p,
      StoreSentinel.corpusSignature(sf, "documents.parquet")))
    assert(PostingsStore.adopt(spark, p), "forget must leave the store adoptable")
    Memo.clearAll()
  }
}
