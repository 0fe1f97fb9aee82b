package graft.streaming

import graft.operators.NgramLm
import graft.sources.BucketedUpsert
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The persisted stupid-backoff LM count stores behind
  * `lm_perplexity_fp` and its siblings: four [[BucketedUpsert]] stores
  * keyed by token, built whole from one `[doc_id, text]` corpus by
  * [[build]] (`GRAFT BUILD LM`, `LmQueries`' sentinel-guarded store) and
  * adopted across processes by [[adopt]]. The stored counts are
  * exactly `NgramLm.train`'s over that corpus (asserted in
  * StreamingLmSpec), so scoring through [[readCounts]] equals scoring
  * the one-shot training counts. Every stored count is positive.
  */
object LmCountsStream {

  val BigramTable = "lm_bigrams"    // (w1, w2, c12), bucketed by w1
  val ContextTable = "lm_contexts"  // (w1, c1)
  val UnigramTable = "lm_unigrams"  // (token, c2)
  val TotalsTable = "lm_totals"     // (k, n_tok), one row, k = 0
  val DefaultBuckets = 32

  /** Train the counts of `docs` (`[doc_id, text]`) and materialize each
    * of the four stores once (an empty corpus totals 0 tokens, not
    * null). The caller drops the prefix first: a store that already
    * exists keeps its other generation. */
  def build(docs: DataFrame, prefix: String = "", buckets: Int = DefaultBuckets): Unit = {
    val c = NgramLm.train(docs)
    BucketedUpsert.materialize(c.bigrams, prefix + BigramTable, "w1", buckets)
    BucketedUpsert.materialize(c.contexts, prefix + ContextTable, "w1", buckets)
    BucketedUpsert.materialize(c.unigrams, prefix + UnigramTable, "token", buckets)
    BucketedUpsert.materialize(
      c.totals.select(lit(0L).as("k"), coalesce(col("n_tok"), lit(0L)).as("n_tok")),
      prefix + TotalsTable, "k", 1)
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

  /** The stored counts as a [[NgramLm.Counts]] — drop-in for
    * `NgramLm.score`, which is how the store serves. */
  def readCounts(spark: SparkSession, prefix: String = ""): NgramLm.Counts =
    NgramLm.Counts(
      bigrams = BucketedUpsert.read(spark, prefix + BigramTable),
      contexts = BucketedUpsert.read(spark, prefix + ContextTable),
      unigrams = BucketedUpsert.read(spark, prefix + UnigramTable),
      totals = BucketedUpsert.read(spark, prefix + TotalsTable)
        .select(col("n_tok")))
}
