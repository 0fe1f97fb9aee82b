package graft

import graft.sources.{BucketedUpsert, PostingsStore, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted BM25 postings index vs the per-query corpus scan:
  * incremental builds converge to the one-shot build, the indexed
  * probe is bit-identical to bm25_search, and — the point of
  * persisting — a probe reads only the query terms' bucket files,
  * never the corpus. */
object PostingsStoreSpec {
  case class Doc(doc_id: Long, text: String)
}

class PostingsStoreSpec extends AnyFunSuite {
  import PostingsStoreSpec.Doc

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def docs: DataFrame =
    Tables.documents(spark, sf).select(col("doc_id"), col("text"))

  private def postingsSet(prefix: String): Set[(String, Long, Long, Long)] =
    BucketedUpsert.read(spark, PostingsStore.postingsTable(prefix)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  private def statsRow(prefix: String): (Long, Long) = {
    val r = PostingsStore.stats(spark, prefix).collect()
    assert(r.length == 1, s"stats must be one row, got ${r.length}")
    (r.head.getLong(0), r.head.getLong(1))
  }

  test("indexed probe is bit-identical to the per-query bm25_search plan") {
    val got = SparkEntry.queries("bm25_indexed")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).sorted
    val want = SparkEntry.queries("bm25_search")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).sorted
    assert(got.sameElements(want),
      s"indexed diverges: got=${got.take(3).toSeq} want=${want.take(3).toSeq}")
  }

  test("streamed incremental build converges to the one-shot build") {
    import spark.implicits._
    val (inc, full) = ("bm25_inc", "bm25_full")
    Seq(inc, full).foreach(PostingsStore.drop(spark, _))
    try {
      PostingsStore.init(spark, inc, buckets = 8)
      PostingsStore.init(spark, full, buckets = 8)
      PostingsStore.upsertBatch(spark, docs, full, 8)

      val rows = docs.as[Doc].collect()
      // one micro-batch id per chunk, as a stream's foreachBatch passes it
      rows.grouped(math.max(1, rows.length / 3)).zipWithIndex.foreach { case (c, id) =>
        PostingsStore.upsertBatch(spark, c.toSeq.toDF(), inc, 8, Some(id.toLong))
      }

      assert(postingsSet(inc) == postingsSet(full))
      assert(statsRow(inc) == statsRow(full))
      assert(statsRow(inc)._1 == rows.length, "every doc counted exactly once")
    } finally Seq(inc, full).foreach(PostingsStore.drop(spark, _))
  }

  test("replayed batch and re-sent documents are no-ops (stats stay exact)") {
    import spark.implicits._
    val prefix = "bm25_replay"
    PostingsStore.drop(spark, prefix)
    try {
      PostingsStore.init(spark, prefix, buckets = 8)
      val half = docs.filter(col("doc_id") < 250)
      PostingsStore.upsertBatch(spark, half, prefix, 8, Some(0L))
      val (p0, s0) = (postingsSet(prefix), statsRow(prefix))
      // exact redelivery (same batch id, different payload): guard skips
      PostingsStore.upsertBatch(spark, docs.filter(col("doc_id") >= 250),
        prefix, 8, Some(0L))
      assert(postingsSet(prefix) == p0 && statsRow(prefix) == s0,
        "replay guard must skip the merge")
      // re-sent docs under a NEW batch id: membership filter drops them
      // BEFORE the additive stats merge — no double count
      PostingsStore.upsertBatch(spark, half, prefix, 8, Some(1L))
      assert(postingsSet(prefix) == p0 && statsRow(prefix) == s0,
        "re-ingest must not duplicate postings or stats")
    } finally PostingsStore.drop(spark, prefix)
  }

  test("retention delete equals a fresh build without the deleted docs") {
    val (del, ref) = ("bm25_del", "bm25_ref")
    Seq(del, ref).foreach(PostingsStore.drop(spark, _))
    try {
      PostingsStore.init(spark, del, buckets = 8)
      PostingsStore.init(spark, ref, buckets = 8)
      PostingsStore.upsertBatch(spark, docs, del, 8)
      val keep = docs.filter(col("doc_id") % 3 =!= 0)
      val drop = docs.filter(col("doc_id") % 3 === 0)
      PostingsStore.upsertBatch(spark, keep, ref, 8)
      PostingsStore.deleteDocs(spark, drop, del, 8, Some(0L))
      assert(postingsSet(del) == postingsSet(ref),
        "postings after delete must equal the never-ingested build")
      assert(statsRow(del) == statsRow(ref),
        "stats must decrement to the never-ingested values")
      // replayed tombstone batch: per-store guards + membership make
      // it a no-op (stats cannot double-decrement)
      PostingsStore.deleteDocs(spark, drop, del, 8, Some(0L))
      assert(statsRow(del) == statsRow(ref))
      // deleting under a new batch id is also a no-op: membership gone
      PostingsStore.deleteDocs(spark, drop, del, 8, Some(1L))
      assert(postingsSet(del) == postingsSet(ref) && statsRow(del) == statsRow(ref))
    } finally Seq(del, ref).foreach(PostingsStore.drop(spark, _))
  }

  test("probe reads only the query terms' bucket files, not the corpus") {
    val prefix = "bm25_prune"
    PostingsStore.drop(spark, prefix)
    try {
      PostingsStore.init(spark, prefix, buckets = 16)
      PostingsStore.upsertBatch(spark, docs, prefix, 16)
      val marker = PostingsStore.postingsTable(prefix) + "__"
      def bucketsOf(files: Seq[String]): Set[Int] = files
        .filter(_.contains(marker))
        .flatMap(f => BucketedUpsert.bucketIdOf(f.split('/').last)).toSet
      val all = bucketsOf(BucketedUpsert
        .read(spark, PostingsStore.postingsTable(prefix)).inputFiles.toSeq)
      assert(all.size > 4, s"need a multi-bucket store to prove pruning: $all")

      val terms = Seq("join", "scan", "filter")
      val probe = PostingsStore.postingsFor(spark, terms, prefix, 16)
      val probed = bucketsOf(probe.inputFiles.toSeq)
      assert(probed.nonEmpty && probed.size <= terms.size,
        s"${terms.size} terms must scan <=${terms.size} postings buckets, " +
          s"scanned $probed of $all")
      assert(!probe.inputFiles.exists(_.contains("documents.parquet")),
        "probe must not re-scan the source corpus")
    } finally PostingsStore.drop(spark, prefix)
  }
}
