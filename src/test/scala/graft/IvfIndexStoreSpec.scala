package graft

import graft.sources.{BucketedUpsert, IvfIndexStore, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted IVF index vs the per-query IVF plan: a build publishes
  * each table once, probes are bit-identical to ivfTopKWith, and — the
  * point of persisting at all — a probe reads only the probed cells'
  * bucket files, never the corpus. The PQ codes merge per batch:
  * incremental encodes converge to the one-shot encode, and replays
  * and re-sent ids are no-ops. */
object IvfIndexStoreSpec {
  case class Vec(vec_id: Long, emb: Seq[Double])
}

class IvfIndexStoreSpec extends AnyFunSuite {
  import IvfIndexStoreSpec.Vec

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def vecs: DataFrame =
    Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

  private def pivots: DataFrame =
    vecs.filter(col("vec_id") < 16)
      .select(col("vec_id").as("pid"), col("emb").as("pemb"))

  private def cellSet(prefix: String): Set[(Long, Long)] =
    IvfIndexStore.read(spark, prefix).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet

  test("memo build publishes one generation; probes match ivfTopKWith") {
    val p = graft.queries.EmbeddingQueries.ivfPrefixName(sf)
    // force a build: no sentinel, no store, no memo entry
    graft.sources.StoreSentinel.dropStore(spark, p, IvfIndexStore.drop)
    Memo.forget()
    assert(graft.queries.EmbeddingQueries.ivfIndexPrefix(spark, sf) == p)
    FirstGeneration.check(spark,
      Seq(IvfIndexStore.pivotsTable(p), IvfIndexStore.cellsTable(p)))
    assert(cellSet(p).size == vecs.count(), "every vector indexed exactly once")

    // probes against the built index are bit-identical to the
    // per-query inline-assignment plan
    val queries = vecs.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val got = IvfIndexStore.topK(spark, queries, p, k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).sorted
    val want = graft.queries.EmbeddingQueries
      .ivfTopKWith(vecs, pivots, col("vec_id") < 20, k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).sorted
    assert(got.sameElements(want), s"probe diverges: got=${got.take(3).toSeq} want=${want.take(3).toSeq}")
  }

  test("probe reads only the probed cells' bucket files, not the corpus") {
    import spark.implicits._
    val prefix = "ivf_prune"
    IvfIndexStore.drop(spark, prefix)
    try {
      IvfIndexStore.build(spark, pivots, vecs, prefix, buckets = 16)
      val cellsMarker = IvfIndexStore.cellsTable(prefix) + "__"
      def bucketsOf(files: Seq[String]): Set[Int] = files
        .filter(_.contains(cellsMarker))
        .flatMap(f => BucketedUpsert.bucketIdOf(f.split('/').last)).toSet
      val allBuckets = bucketsOf(IvfIndexStore.read(spark, prefix).inputFiles.toSeq)
      assert(allBuckets.size > 4, s"need a multi-bucket store to prove pruning: $allBuckets")

      // a LITERAL one-vector query frame: the probe plan then touches
      // no source table at all — only pivots + the probed cell buckets
      val one = vecs.filter(col("vec_id") === 0).as[Vec].head()
      val queries = Seq((0L, one.emb)).toDF("query_id", "qemb")
      val probe = IvfIndexStore.topK(spark, queries, prefix, k = 3, nProbe = 2, buckets = 16)
      val probedBuckets = bucketsOf(probe.inputFiles.toSeq)
      assert(probedBuckets.nonEmpty && probedBuckets.size <= 2,
        s"nProbe=2 must scan <=2 cell buckets, scanned $probedBuckets of $allBuckets")
      assert(!probe.inputFiles.exists(_.contains("embeddings.parquet")),
        "probe must not re-scan the source corpus")
      assert(probe.count() == 3)
    } finally IvfIndexStore.drop(spark, prefix)
  }

  test("incremental PQ codes equal the one-shot encode; probe matches the in-query plan") {
    import spark.implicits._
    val (inc, full) = ("pq_inc", "pq_full")
    Seq(inc, full).foreach(IvfIndexStore.drop(spark, _))
    try {
      // codebooks train ONCE on the full corpus in both stores (the
      // frozen-codebook contract); only code encoding is incremental
      IvfIndexStore.initPq(spark, vecs, inc, buckets = 8)
      IvfIndexStore.initPq(spark, vecs, full, buckets = 8)
      IvfIndexStore.upsertPqBatch(spark, vecs, full, 8)

      val rows = vecs.as[Vec].collect()
      // one micro-batch id per chunk, as a stream's foreachBatch passes it
      rows.grouped(math.max(1, rows.length / 3)).zipWithIndex.foreach { case (c, id) =>
        IvfIndexStore.upsertPqBatch(spark, c.toSeq.toDF(), inc, 8, Some(id.toLong))
      }

      def codeSet(p: String): Set[(Long, Int, Long)] =
        BucketedUpsert.read(spark, IvfIndexStore.codesTable(p)).collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(codeSet(inc) == codeSet(full))
      assert(codeSet(inc).size == rows.length * graft.operators.PqFp.M,
        "every vector encoded exactly once per subspace")

      // a probe against the incrementally-encoded store is
      // bit-identical to the in-query train+encode+probe plan
      val queries = vecs.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
      val got = IvfIndexStore.pqTopK(spark, queries, inc, k = 3,
        rerank = 24, fullVecs = vecs)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).sorted
      val want = SparkEntry.queries("embed_ann_pq_fp")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).sorted
      assert(got.sameElements(want),
        s"PQ probe diverges: got=${got.take(3).toSeq} want=${want.take(3).toSeq}")
    } finally Seq(inc, full).foreach(IvfIndexStore.drop(spark, _))
  }

  test("redelivered batch is a no-op; re-sent vector keeps its first row") {
    import spark.implicits._
    val prefix = "pq_replay"
    IvfIndexStore.drop(spark, prefix)
    def codeSet: Set[(Long, Int, Long)] =
      BucketedUpsert.read(spark, IvfIndexStore.codesTable(prefix)).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    try {
      IvfIndexStore.initPq(spark, vecs, prefix, buckets = 8)
      IvfIndexStore.upsertPqBatch(spark, vecs.filter(col("vec_id") < 30), prefix, 8, Some(0L))
      val before = codeSet
      assert(before.nonEmpty)
      // exact redelivery (same batch id, different payload): guard skips
      IvfIndexStore.upsertPqBatch(spark, vecs.filter(col("vec_id") >= 30), prefix, 8, Some(0L))
      assert(codeSet == before, "replay guard must skip the merge")
      // re-sent ids with different floats under a NEW batch id:
      // first-writer-wins keeps every original code row
      val resent = vecs.filter(col("vec_id") < 30).as[Vec].collect()
        .map(v => Vec(v.vec_id, v.emb.reverse)).toSeq.toDF()
      IvfIndexStore.upsertPqBatch(spark, resent, prefix, 8, Some(1L))
      assert(codeSet == before, "re-ingest must keep the first codes")
    } finally IvfIndexStore.drop(spark, prefix)
  }
}
