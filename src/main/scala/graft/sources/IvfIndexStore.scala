package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF (inverted-file) ANN index — the build-once/probe-many
  * shape the per-query variant (EmbeddingQueries.ivfTopKWith) lacks:
  * there, the FULL corpus re-assigns to cells inside every probe; at
  * 100 TB that is a corpus scan per query batch. Here [[build]]
  * materializes the assignment once into a cell-bucketed store, and a
  * probe reads ONLY the bucket files its nProbe cells hash into
  * ([[BucketedUpsert.readKeys]]) — O(cells probed), not O(corpus).
  *
  * Tables under one prefix:
  *  - `<p>_pivots (pid, pemb)` — the coarse quantizer (trained
  *    offline, e.g. EmbeddingQueries.kmeansPivots on a sample, or any
  *    deterministic pivot set). Tiny; broadcast at probe and
  *    assignment time.
  *  - `<p>_cells (cell, vec_id, emb)` — one row per indexed vector,
  *    bucketed by its nearest-pivot cell.
  *  - `<p>_codebooks`, `<p>_codes` — the PQ half ([[initPq]],
  *    [[upsertPqBatch]]): codes merge per batch, first writer wins.
  *
  * Changing the pivot set or the vectors means rebuilding the index —
  * exactly the FAISS IVF contract. Probing with the same pivots,
  * nProbe and tie-breaks as ivfTopKWith reproduces its output
  * bit-for-bit (oracle `embed_ann_indexed` hashes equal to
  * `embed_ann_ivf`'s SQL; asserted in IvfIndexStoreSpec).
  */
object IvfIndexStore {

  val DefaultBuckets = 16

  private[graft] def pivotsTable(p: String): String = p + "_pivots"
  private[graft] def cellsTable(p: String): String = p + "_cells"
  private def codebooksTable(p: String): String = p + "_codebooks"
  private[graft] def codesTable(p: String): String = p + "_codes"

  private def cosine(a: Column, b: Column): Column =
    graft.functions.expressions.CosineSimilarity(a, b)

  /** Materialize the pivot set, then every vector of `vecs` `(vec_id,
    * emb)` assigned to its nearest pivot, each table once. The caller
    * drops the prefix first: a store that already exists keeps its
    * other generation. */
  def build(spark: SparkSession, pivots: DataFrame, vecs: DataFrame, prefix: String,
            buckets: Int = DefaultBuckets): Unit = {
    BucketedUpsert.materialize(
      pivots.select(col("pid"), col("pemb")), pivotsTable(prefix), "pid", 1)
    BucketedUpsert.materialize(
      assign(spark, vecs.select(col("vec_id"), col("emb")), prefix),
      cellsTable(prefix), "cell", buckets)
  }

  def drop(spark: SparkSession, prefix: String): Unit =
    Seq(pivotsTable(prefix), cellsTable(prefix),
      codebooksTable(prefix), codesTable(prefix))
      .foreach(BucketedUpsert.drop(spark, _))

  /** Warm-restart adoption of an existing on-disk IVF index (pivots +
    * cells, all-or-nothing — a cell store is only meaningful under
    * the pivot set it was assigned against). See
    * [[BucketedUpsert.adopt]]; false means drop + rebuild. */
  def adopt(spark: SparkSession, prefix: String): Boolean =
    Seq(pivotsTable(prefix), cellsTable(prefix))
      .forall(BucketedUpsert.adopt(spark, _))

  /** [[adopt]] for the PQ half (codebooks + codes): codes are only
    * decodable against the codebooks they were encoded with. */
  def adoptPq(spark: SparkSession, prefix: String): Boolean =
    Seq(codebooksTable(prefix), codesTable(prefix))
      .forall(BucketedUpsert.adopt(spark, _))

  /** Nearest-pivot cell assignment of a vector frame `(vec_id, emb)` —
    * the SAME ranking (cosine desc, pid tiebreak) as ivfTopKWith's
    * inline assignment, against the stored pivot table. Bounded
    * broadcast nested-loop by design: |pivots| rows on the broadcast
    * side. */
  private def assign(spark: SparkSession, vecs: DataFrame,
                     prefix: String): DataFrame =
    vecs.crossJoin(broadcast(BucketedUpsert.read(spark, pivotsTable(prefix))))
      .withColumn("psim", cosine(col("emb"), col("pemb")))
      .withColumn("prn", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("psim").desc, col("pid"))))
      .filter(col("prn") === 1)
      .select(col("pid").as("cell"), col("vec_id"), col("emb"))

  /** The materialized index: `(cell, vec_id, emb)`. */
  def read(spark: SparkSession, prefix: String): DataFrame =
    BucketedUpsert.read(spark, cellsTable(prefix))

  /** Train-once PQ codebooks from `train` `(vec_id, emb)` and create
    * the empty code store — the FAISS serving contract: codebooks are
    * FROZEN at init (like the coarse pivots), codes are encoded
    * against them on ingest, and a probe reads codes without ever
    * re-encoding the corpus. Without this the 16× PQ compression
    * never pays off across queries — every embed_ann_pq_fp run
    * re-trained and re-encoded in-query. Changing codebooks means
    * rebuilding the code store (new prefix). */
  def initPq(spark: SparkSession, train: DataFrame, prefix: String,
             buckets: Int = DefaultBuckets): Unit = {
    import spark.implicits._
    import graft.operators.PqFp
    if (!spark.catalog.tableExists(codebooksTable(prefix))) {
      val sub = PqFp.subvectors(PqFp.quantize(train))
      BucketedUpsert.materialize(
        PqFp.trainCodebooks(sub, PqFp.defaultSeeds(sub)),
        codebooksTable(prefix), "s", 1)
    }
    if (!spark.catalog.tableExists(codesTable(prefix)))
      BucketedUpsert.materialize(
        Seq.empty[(Long, Int, Long)].toDF("vec_id", "s", "pid"),
        codesTable(prefix), "vec_id", buckets)
  }

  /** Encode one batch of vectors against the frozen codebooks and
    * merge O(batch) code rows (first-writer-wins: an id re-sent with
    * different floats keeps its first codes). M code rows per vector —
    * 4 small ints where the vector was 64 doubles: the 16× shipping
    * compression. */
  def upsertPqBatch(spark: SparkSession, vecs: DataFrame, prefix: String,
                    buckets: Int = DefaultBuckets,
                    batchId: Option[Long] = None): Unit = {
    import graft.operators.PqFp
    val cb = BucketedUpsert.read(spark, codebooksTable(prefix))
    val codes = PqFp
      .assign(PqFp.subvectors(PqFp.quantize(
        vecs.select(col("vec_id"), col("emb")))), cb)
      .select(col("vec_id"), col("s"), col("pid"))
    BucketedUpsert.upsert(spark, codesTable(prefix), codes,
      Seq("vec_id", "s"), "vec_id", buckets,
      merge = (_, existing, delta) => coalesce(existing, delta),
      batchId = batchId)
  }

  /** IVFADC-style probe over the PERSISTED codes: LUT against the
    * frozen codebooks (broadcast, M·|codebook| rows per query), ADC
    * over the code table (integer adds — the corpus is scanned as
    * 4 small ints per vector, not 64 doubles), exact integer re-rank
    * of the `rerank`-deep shortlist against `fullVecs` `(vec_id,
    * emb)` — at scale that refine source is the cell store's vectors.
    * Bit-identical to the in-query embed_ann_pq_fp plan when the
    * codebooks were trained on the same corpus (IvfIndexStoreSpec). */
  def pqTopK(spark: SparkSession, queries: DataFrame, prefix: String,
             k: Int, rerank: Int, fullVecs: DataFrame): DataFrame = {
    import graft.operators.PqFp
    val cb = BucketedUpsert.read(spark, codebooksTable(prefix))
    val qsub = PqFp.subvectors(PqFp.quantize(
      queries.select(col("query_id").as("vec_id"), col("qemb").as("emb"))))
      .select(col("vec_id").as("query_id"), col("s"), col("sq"))
    val codes = BucketedUpsert.read(spark, codesTable(prefix))
    val short = PqFp.adcShortlist(codes, PqFp.lut(qsub, cb), rerank)
    PqFp.rerankTopK(short, PqFp.quantize(fullVecs), k)
  }

  /** ANN top-k for a query frame `(query_id, qemb)`: rank the frozen
    * pivots per query, then scan ONLY the probed cells' bucket files
    * for candidates — the full corpus is never assigned, read, or
    * shuffled. Output schema and tie-breaks match ivfTopKWith, so a
    * probe against an index built over the same vectors and pivots is
    * bit-identical to the per-query variant. */
  def topK(spark: SparkSession, queries: DataFrame, prefix: String,
           k: Int, nProbe: Int, buckets: Int = DefaultBuckets): DataFrame = {
    val qcells = queries
      .crossJoin(broadcast(BucketedUpsert.read(spark, pivotsTable(prefix))))
      .withColumn("psim", cosine(col("qemb"), col("pemb")))
      .withColumn("prn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("psim").desc, col("pid"))))
      .filter(col("prn") <= nProbe)
      .select(col("query_id"), col("qemb"), col("pid").as("cell"))
    // bucket-pruned candidate read; the equi-join on cell also drops
    // same-bucket ride-along cells readKeys may return
    val cands = BucketedUpsert
      .readKeys(spark, cellsTable(prefix), qcells, "cell", buckets)
      .select(col("cell"), col("vec_id").as("neighbor_id"), col("emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    qcells.join(cands, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("qemb"), col("emb")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("sim"), 5).as("sim"))
  }
}
