package graft.sources

import graft.functions.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted index for lexical (BM25) retrieval — the
  * build-once/probe-many serving shape [[IvfIndexStore]] gives the
  * vector side, applied to term search. The per-query `bm25_search`
  * plan recomputes tf/df from the corpus at query time: correct for
  * one-shot batch scoring, but a serving user issues MANY queries
  * against ONE corpus, and at 100 TB each lookup would re-scan every
  * document's tokens. Here the token scan happens once per document —
  * at ingest — and a query reads ONLY its terms' bucket files.
  *
  * Tables under one prefix (all [[BucketedUpsert]] generation tables):
  *  - `<p>_postings (term, doc_id, tf, dl)` — one row per (term, doc),
  *    bucketed by term. Document length is DENORMALIZED onto each
  *    posting (the impact-ordered-postings trick): a probe then needs
  *    no second doc-table lookup, so it touches exactly the query
  *    terms' buckets.
  *  - `<p>_docs (doc_id, dl)` — membership/dedup table, bucketed by
  *    doc_id: an O(batch) probe filters re-sent documents out of a
  *    batch BEFORE any merge, which also makes the additive stats
  *    merge naturally idempotent across re-ingests.
  *  - `<p>_stats (sid=0, n_docs, sum_dl)` — single-row additive
  *    corpus statistics. `avgdl = sum_dl / n_docs` reproduces the
  *    one-shot `avg(dl)` bit-for-bit: dl values are integers, their
  *    double sum is exact below 2^53, and the final division is the
  *    same correctly-rounded op Spark's Average performs.
  *
  * Crash/replay contract (foreachBatch is at-least-once): every merge
  * carries the micro-batch id, so a redelivered batch skips stores it
  * already reached ([[BucketedUpsert]]'s (queryId, batchId) guard).
  * Store order is postings → stats → docs: the membership table is
  * written LAST, so a crash mid-batch can never leave a document
  * marked present whose postings or stats are missing — the replay
  * recomputes the same new-docs set and the per-store guards skip
  * exactly the merges that already landed.
  *
  * Documents are immutable once ingested (re-sent ids are no-ops) and
  * never removed — the IvfIndexStore contract; a corpus rebuild is a
  * new prefix.
  * Reference analogue: the point-lookup serve path
  * (`/root/reference/app.py:63-79`) got the same treatment via
  * GrantStore — precompute on write, O(keys) on read.
  */
object PostingsStore {

  val DefaultBuckets = 16

  private[graft] def postingsTable(p: String): String = p + "_postings"
  private[graft] def docsTable(p: String): String = p + "_docs"
  private[graft] def statsTable(p: String): String = p + "_stats"

  /** Create the empty tables (idempotent). */
  def init(spark: SparkSession, prefix: String,
           buckets: Int = DefaultBuckets): Unit = {
    import spark.implicits._
    if (!spark.catalog.tableExists(postingsTable(prefix)))
      BucketedUpsert.materialize(
        Seq.empty[(String, Long, Long, Long)].toDF("term", "doc_id", "tf", "dl"),
        postingsTable(prefix), "term", buckets)
    if (!spark.catalog.tableExists(docsTable(prefix)))
      BucketedUpsert.materialize(
        Seq.empty[(Long, Long)].toDF("doc_id", "dl"),
        docsTable(prefix), "doc_id", buckets)
    if (!spark.catalog.tableExists(statsTable(prefix)))
      BucketedUpsert.materialize(
        Seq.empty[(Long, Long, Long)].toDF("sid", "n_docs", "sum_dl"),
        statsTable(prefix), "sid", 1)
  }

  def drop(spark: SparkSession, prefix: String): Unit =
    Seq(postingsTable(prefix), docsTable(prefix), statsTable(prefix))
      .foreach(BucketedUpsert.drop(spark, _))

  /** Warm-restart adoption of an existing on-disk index: re-register
    * ALL THREE tables from their publish markers
    * ([[BucketedUpsert.adopt]]) — all-or-nothing, because the tables
    * are only mutually consistent as a set (postings → stats → docs
    * write order). False means the caller owns drop + rebuild. */
  def adopt(spark: SparkSession, prefix: String): Boolean =
    Seq(postingsTable(prefix), docsTable(prefix), statsTable(prefix))
      .forall(BucketedUpsert.adopt(spark, _))

  /** Ingest one batch of `(doc_id, text)` documents: tokenize once,
    * merge O(batch-terms) postings rows, bump the corpus stats. */
  def upsertBatch(spark: SparkSession, batch0: DataFrame, prefix: String,
                  buckets: Int = DefaultBuckets,
                  batchId: Option[Long] = None): Unit = {
    val batch = batch0.select(col("doc_id"), col("text"))
      .dropDuplicates("doc_id")
    // membership probe: O(batch) bucket files of the docs table —
    // re-sent documents leave the batch here, which is what keeps the
    // additive stats merge idempotent across re-ingests
    val present = BucketedUpsert.readKeys(spark, docsTable(prefix),
      batch.select(col("doc_id")), "doc_id", buckets)
      .select(col("doc_id"))
    val fresh = batch.join(present, Seq("doc_id"), "left_anti").persist()
    try {
      if (fresh.isEmpty) return
      val dl = fresh.select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("dl"))
      val posts = fresh
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .join(dl, Seq("doc_id"))
        .select(col("term"), col("doc_id"), col("tf"), col("dl"))
      BucketedUpsert.upsert(spark, postingsTable(prefix), posts,
        Seq("term", "doc_id"), "term", buckets,
        merge = (_, ex, dlt) => coalesce(ex, dlt), batchId = batchId)
      val statsDelta = dl.agg(count(lit(1)).cast("long").as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
        .select(lit(0L).as("sid"), col("n_docs"), col("sum_dl"))
      BucketedUpsert.upsert(spark, statsTable(prefix), statsDelta,
        Seq("sid"), "sid", 1,
        merge = (_, ex, dlt) => coalesce(ex, lit(0L)) + coalesce(dlt, lit(0L)),
        batchId = batchId)
      // membership marker LAST (see crash/replay contract above)
      BucketedUpsert.upsert(spark, docsTable(prefix), dl,
        Seq("doc_id"), "doc_id", buckets,
        merge = (_, ex, dlt) => coalesce(ex, dlt), batchId = batchId)
    } finally fresh.unpersist()
  }

  /** The postings of exactly `terms`: a bucket-pruned read of the
    * terms' bucket files ([[BucketedUpsert.readKeys]]) with same-bucket
    * ride-alongs filtered out. O(#terms) file reads, corpus-size-free. */
  def postingsFor(spark: SparkSession, terms: Seq[String], prefix: String,
                  buckets: Int = DefaultBuckets): DataFrame = {
    import spark.implicits._
    require(terms.nonEmpty, "postingsFor: at least one term required")
    BucketedUpsert.readKeys(spark, postingsTable(prefix),
      terms.toDF("term"), "term", buckets)
      .filter(col("term").isin(terms: _*))
  }

  /** The single-row corpus statistics `(n_docs, sum_dl)`. */
  def stats(spark: SparkSession, prefix: String): DataFrame =
    BucketedUpsert.read(spark, statsTable(prefix))
      .select(col("n_docs"), col("sum_dl"))

  /** The FULL postings view `(term, doc_id, tf, dl)` — the
    * already-aggregated (term, doc) frame, for consumers that need
    * corpus-wide term statistics (global df, per-doc signature terms).
    * One bucketed-parquet scan of pre-aggregated rows where the
    * per-query formulation re-tokenized the corpus and re-shuffled the
    * (doc, token) pairs on every run. */
  def postings(spark: SparkSession, prefix: String): DataFrame =
    BucketedUpsert.read(spark, postingsTable(prefix))

  /** [[postingsFor]] with a DATA-DEPENDENT term frame (one `term`
    * column): same bucket-pruned read, for term sets computed by the
    * query itself (signature terms, PRF expansions). Same superset
    * contract as [[BucketedUpsert.readKeys]] — same-bucket ride-alongs
    * come back, the caller's equi-join against its term set drops
    * them. Pass a small, materialized frame: the keys are collected
    * once for bucket pruning and re-read by the join. */
  def postingsForTerms(spark: SparkSession, terms: DataFrame, prefix: String,
                       buckets: Int = DefaultBuckets): DataFrame =
    BucketedUpsert.readKeys(spark, postingsTable(prefix),
      terms.select(col("term")), "term", buckets)
}
