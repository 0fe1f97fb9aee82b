package graft.streaming

import graft.operators.NgramLm
import graft.sources.BucketedUpsert
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of the stupid-backoff LM count stores —
  * the ingest path of `lm_perplexity_fp`. Batch `NgramLm.train`
  * recomputes the whole corpus; at 100 TB the viable shape is this
  * one: each arriving micro-batch aggregates its OWN bigram/context/
  * unigram/total counts (O(batch)) and merges them additively into
  * four [[BucketedUpsert]] stores keyed by token — only the buckets a
  * batch's tokens hash into are rewritten, everything else carries
  * forward by hard link. Counts are purely additive, so the
  * accumulated stores are EXACTLY the one-shot training counts of the
  * union corpus under any batch split (asserted in StreamingLmSpec)
  * — no approximation, no ordering sensitivity.
  *
  * Replay safety: additive merges are NOT replay-idempotent, so every
  * merge records the foreachBatch batchId and a redelivered batch is
  * skipped per store. The four merges are not atomic as a group — a
  * crash between them leaves some stores one batch ahead — but replay
  * converges: stores that recorded the id skip, the rest catch up.
  * Scoring between those instants sees a count set that is valid for
  * SOME prefix/suffix mix of batches; pipelines that need a
  * consistent cut should score from a quiesced stream (the same
  * caveat every multi-table streaming upsert carries).
  */
object LmCountsStream {

  val BigramTable = "lm_bigrams"    // (w1, w2, c12), bucketed by w1
  val ContextTable = "lm_contexts"  // (w1, c1)
  val UnigramTable = "lm_unigrams"  // (token, c2)
  val TotalsTable = "lm_totals"     // (k, n_tok), one row, k = 0
  val DefaultBuckets = 32

  private def additive: (String, Column, Column) => Column =
    (_, ex, dl) => coalesce(ex, lit(0L)) + coalesce(dl, lit(0L))

  /** Create the four empty stores (idempotent). A store left on disk by an
    * earlier process is ADOPTED (catalog re-registration from its
    * publish marker, [[BucketedUpsert.adopt]]) instead of shadowed —
    * a restarted stream resumes its accumulated state, and the
    * restored replay-guard properties keep redelivered batches
    * no-ops across the restart. */
  def init(spark: SparkSession, prefix: String = "",
           buckets: Int = DefaultBuckets): Unit = {
    import spark.implicits._
    def mk(table: String, df: DataFrame, key: String, b: Int): Unit =
      if (!BucketedUpsert.adopt(spark, table))
        BucketedUpsert.materialize(df, table, key, b)
    mk(prefix + BigramTable,
      Seq.empty[(String, String, Long)].toDF("w1", "w2", "c12"), "w1", buckets)
    mk(prefix + ContextTable,
      Seq.empty[(String, Long)].toDF("w1", "c1"), "w1", buckets)
    mk(prefix + UnigramTable,
      Seq.empty[(String, Long)].toDF("token", "c2"), "token", buckets)
    mk(prefix + TotalsTable,
      Seq.empty[(Long, Long)].toDF("k", "n_tok"), "k", 1)
  }

  def drop(spark: SparkSession, prefix: String = ""): Unit =
    Seq(BigramTable, ContextTable, UnigramTable, TotalsTable)
      .foreach(t => BucketedUpsert.drop(spark, prefix + t))

  /** Warm-restart adoption of an existing on-disk count set:
    * re-register ALL FOUR stores from their publish markers —
    * all-or-nothing, the [[graft.sources.PostingsStore.adopt]]
    * contract (the four tables are only mutually consistent as a
    * set). False means the caller owns drop + rebuild. */
  def adopt(spark: SparkSession, prefix: String = ""): Boolean =
    Seq(BigramTable, ContextTable, UnigramTable, TotalsTable)
      .forall(t => BucketedUpsert.adopt(spark, prefix + t))

  /** Merge one micro-batch of `[doc_id, text]` documents into the
    * count stores. O(batch) per store: the batch's counts aggregate
    * map-side first, and only the touched buckets rewrite. */
  def upsertBatch(spark: SparkSession, batch: DataFrame,
                  prefix: String = "", buckets: Int = DefaultBuckets,
                  batchId: Option[Long] = None): Unit = {
    val c = NgramLm.train(batch)
    BucketedUpsert.upsert(spark, prefix + BigramTable, c.bigrams,
      Seq("w1", "w2"), "w1", buckets, merge = additive, batchId = batchId)
    BucketedUpsert.upsert(spark, prefix + ContextTable, c.contexts,
      Seq("w1"), "w1", buckets, merge = additive, batchId = batchId)
    BucketedUpsert.upsert(spark, prefix + UnigramTable, c.unigrams,
      Seq("token"), "token", buckets, merge = additive, batchId = batchId)
    BucketedUpsert.upsert(spark, prefix + TotalsTable,
      c.totals.select(lit(0L).as("k"), col("n_tok")),
      Seq("k"), "k", 1, merge = additive, batchId = batchId)
  }

  /** Remove documents' contributions — the retention/GDPR path, the
    * decrement twin of [[upsertBatch]]: counts are LINEAR in the
    * corpus, so deletion is the additive merge of the departing docs'
    * NEGATED counts (PostingsStore.deleteDocs needs a membership
    * gate for this; the LM stores don't because they never key by
    * doc). Zeroed rows stay physically present until a compaction
    * but are invisible to scoring ([[readCounts]] filters to positive
    * counts). Caller contract: delete only documents that were
    * ingested — the stores don't track membership, and deleting an
    * unseen doc would leave (readCounts-invisible but wrong) negative
    * residue. */
  def deleteBatch(spark: SparkSession, docs: DataFrame,
                  prefix: String = "", buckets: Int = DefaultBuckets,
                  batchId: Option[Long] = None): Unit = {
    val c = NgramLm.train(docs)
    def neg(df: DataFrame, cnt: String): DataFrame =
      df.withColumn(cnt, -col(cnt))
    BucketedUpsert.upsert(spark, prefix + BigramTable, neg(c.bigrams, "c12"),
      Seq("w1", "w2"), "w1", buckets, merge = additive, batchId = batchId)
    BucketedUpsert.upsert(spark, prefix + ContextTable, neg(c.contexts, "c1"),
      Seq("w1"), "w1", buckets, merge = additive, batchId = batchId)
    BucketedUpsert.upsert(spark, prefix + UnigramTable, neg(c.unigrams, "c2"),
      Seq("token"), "token", buckets, merge = additive, batchId = batchId)
    BucketedUpsert.upsert(spark, prefix + TotalsTable,
      neg(c.totals, "n_tok").select(lit(0L).as("k"), col("n_tok")),
      Seq("k"), "k", 1, merge = additive, batchId = batchId)
  }

  /** The accumulated counts as a [[NgramLm.Counts]] — drop-in for
    * `NgramLm.score`, which is how the store serves. Filtered to
    * POSITIVE counts so rows zeroed by [[deleteBatch]] behave exactly
    * as if they were never ingested (a zero count reaching the
    * scorer's log would be undefined). */
  def readCounts(spark: SparkSession, prefix: String = ""): NgramLm.Counts =
    NgramLm.Counts(
      bigrams = BucketedUpsert.read(spark, prefix + BigramTable)
        .filter(col("c12") > 0),
      contexts = BucketedUpsert.read(spark, prefix + ContextTable)
        .filter(col("c1") > 0),
      unigrams = BucketedUpsert.read(spark, prefix + UnigramTable)
        .filter(col("c2") > 0),
      totals = BucketedUpsert.read(spark, prefix + TotalsTable)
        .select(col("n_tok")))

  /** Score a document frame against the accumulated counts. */
  def score(spark: SparkSession, docs: DataFrame,
            prefix: String = ""): DataFrame =
    NgramLm.score(docs, readCounts(spark, prefix))
}
