package graft

import graft.config.DefaultConfig
import graft.operators.EventAggregates
import graft.sources.Tables
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The session-memo eviction hook: after clearAll(), the memoized
  * frames are no longer cached (probed by plan equality via
  * Dataset.storageLevel — Spark's CacheManager matches any equal
  * plan), and re-querying rebuilds from source — the fixture-rewrite
  * staleness scenario the hook exists for. */
class CachesSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("clearAll unpersists the memoized spine and re-query rebuilds") {
    val dir = "/root/testdata/sf0.001"
    // populate memos across the query families
    SparkEntry.queries("a1_count_dedup")(spark, dir).count()
    SparkEntry.queries("dedup_minhash_lsh")(spark, dir).count()
    // a plan EQUAL to the memoized per-user spine reports its cache level
    def spineLevel = EventAggregates
      .perUser(Tables.events(spark, dir), DefaultConfig.config.aggregates)
      .storageLevel
    assert(spineLevel != StorageLevel.NONE,
      "the aggregate spine should be cached after a warm query")
    Memo.clearAll()
    assert(spineLevel == StorageLevel.NONE,
      "clearAll must unpersist the memoized spine")
    // queries still run — memos rebuild on demand
    assert(SparkEntry.queries("a1_count_dedup")(spark, dir).count() > 0)
    Memo.clearAll()
  }
}
