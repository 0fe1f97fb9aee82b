package graft.queries

import graft.Memo
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float
  * vectors): brute-force cosine top-k as the exact baseline, and a
  * sign-bit LSH-bucketed variant as the scale path (bucket first, rank
  * within bucket — candidate set shrinks ~2^bits-fold, turning the
  * all-pairs O(N·M) scan into per-bucket joins that parallelize by
  * bucket key at 100 TB).
  *
  * All vector math is codegen'd Catalyst (`zip_with` + `aggregate`
  * folds in element order), cast to double so Spark and the DuckDB
  * oracle run identical IEEE sequences.
  */
object EmbeddingQueries extends QueryModule {

  /** Native codegen'd expression (CosineSimilarity); semantically
    * identical to the HOF formulation
    * `aggregate(zip_with(a,b,_*_),0,_+_) / (√·√)` but fused into one
    * generated loop. */
  private def cosine(a: Column, b: Column): Column =
    graft.functions.expressions.CosineSimilarity(a, b)

  /** Session-scoped memo of the parsed vector frame: every ANN query
    * reads exactly this `(vec_id, emb)` projection, and ANN serving
    * keeps its vectors memory-resident by design (FAISS-style) — one
    * float→double decode per (session, source) instead of one per
    * query. */
  private val vecs = memo("embed_vecs", Seq("embeddings.parquet"), warm = true) {
    (s, dir) =>
      // r22 note: a split-starved fanout of this memo (the documents-
      // table recipe) was measured and REVERTED — it parallelized the
      // big consumers' map-side math but cost every small/mid vecs
      // consumer a 32-partition cached read + 32-task stages per scan:
      // full-bench net −3.7 s across ~15 queries at sf0.1, and at
      // sf1_scaled embed_ann_recall/embed_ann_ivf_kmeans/
      // embed_knn_label_fp ran up to 2× slower. The ONE consumer where
      // the parallelism win survives the overhead (pqTopK's encode
      // path) fans out its own derived frame instead.
      Memo.cache(Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb")))
  }

  /** Pure prefix derivations (path-keyed; hex of hashCode is
    * unsigned and catalog-identifier-safe). */
  private[graft] def ivfPrefixName(dir: String): String =
    "ivfq_" + java.lang.Integer.toHexString(dir.hashCode)
  private[graft] def pqPrefixName(dir: String): String =
    "pqix_" + java.lang.Integer.toHexString(dir.hashCode)
  private def dropIndex(prefix: String => String)(s: SparkSession, dir: String): Unit =
    graft.sources.StoreSentinel.dropStore(s, prefix(dir), graft.sources.IvfIndexStore.drop)

  /** Session-scoped memo of the PERSISTED IVF index (IvfIndexStore):
    * probed read-only by every embed_ann_indexed run, the
    * build-once/probe-many contract the per-query ivfTopKWith lacks.
    * Build-once now spans PROCESSES: a completed same-corpus build
    * left on disk (StoreSentinel + adopt, see TextQueries'
    * postingsPrefix) is re-registered in O(1) catalog ops instead of
    * re-assigned from the corpus. The value is the store's prefix. */
  private[graft] val ivfIndexPrefix = memo("ivf_cells", Seq("embeddings.parquet"),
      dropStore = dropIndex(ivfPrefixName)) { (s, dir) =>
    val p = ivfPrefixName(dir)
    graft.sources.StoreSentinel.buildOrAdopt(s, p, dir, "embeddings.parquet",
        graft.sources.IvfIndexStore.adopt, graft.sources.IvfIndexStore.drop) {
      graft.sources.IvfIndexStore.init(s,
        vecs(s, dir).filter(col("vec_id") < 16)
          .select(col("vec_id").as("pid"), col("emb").as("pemb")), p)
      graft.sources.IvfIndexStore.upsertBatch(s, vecs(s, dir), p)
    }
  }

  /** Session-scoped memo of the PERSISTED PQ index (IvfIndexStore
    * codebooks + codes): train-once codebooks over the corpus, full
    * encode at build, then probed read-only by every
    * embed_ann_pq_indexed run — the FAISS train/encode/serve split,
    * warm-restartable like [[ivfIndexPrefix]]. */
  private[graft] val pqIndexPrefix = memo("pq_codes", Seq("embeddings.parquet"),
      dropStore = dropIndex(pqPrefixName)) { (s, dir) =>
    val p = pqPrefixName(dir)
    graft.sources.StoreSentinel.buildOrAdopt(s, p, dir, "embeddings.parquet",
        graft.sources.IvfIndexStore.adoptPq, graft.sources.IvfIndexStore.drop) {
      graft.sources.IvfIndexStore.initPq(s, vecs(s, dir), p)
      graft.sources.IvfIndexStore.upsertPqBatch(s, vecs(s, dir), p)
    }
  }

  /** `SPARK_GRAFT_PLANFULL` (plan-dump sessions only): dedup_semantic
    * skips its eager cell checkpoint so `explain` shows the two-level
    * assignment stages the LogicalRDD otherwise truncates out of every
    * dump (the ADVICE-r20 audit blind spot; VERDICT r21 #3). Results
    * are identical either way, but a timed or verified session must
    * never run with it, so it is gated like every sweep knob: a
    * session without `GRAFT_SWEEP_MODE=1` refuses it at first touch. */
  private[graft] def planFull(env: String => Option[String] = sys.env.get): Boolean =
    SweepKnobs.gate("SPARK_GRAFT_PLANFULL", env("SPARK_GRAFT_PLANFULL"),
      "dedup_semantic skips its cell checkpoint (plan dumps only)", env).isDefined
  private val PlanFull = planFull()

  /** Sign-bit LSH bucket: Σ 2^i · [emb_i > 0] over the first `bits`
    * dims — axis-aligned random-hyperplane LSH with deterministic
    * planes. Plane count is the recall/parallelism dial: more planes →
    * 2^bits smaller buckets (more parallelism, cheaper candidate sets)
    * but more near-neighbors split across a plane (lower recall). At
    * 100 TB, 8 planes → only 256 buckets → bucket skew; widen to
    * 12-16 planes AND turn on multi-probe to buy the recall back. */
  val LshBits = 8
  def bucketCol(emb: Column, bits: Int = LshBits): Column =
    (0 until bits).map(i =>
      when(element_at(emb, i + 1) > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)

  private def bucketSqlFor(bits: Int): String =
    (0 until bits).map(i =>
      s"(CASE WHEN emb[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END)")
      .mkString(" + ")
  private val bucketSql: String = bucketSqlFor(LshBits)

  /** Multi-probe LSH: probe the query's own bucket plus every bucket
    * at Hamming distance 1 (one sign-plane flip). A near neighbor that
    * straddles exactly one hyperplane — the dominant loss mode of
    * sign-bit LSH — is recovered at the cost of scanning bits+1 of the
    * 2^bits buckets (candidate work ×(bits+1), still exponentially
    * below the full scan). Probes are distinct buckets, so no candidate
    * dedup is needed. */
  def probeBuckets(bucket: Column, bits: Int = LshBits): Column =
    array(bucket +: (0 until bits).map(i =>
      bucket.bitwiseXOR(lit(1L << i))): _*)

  /** Bucketed ANN top-k, single- or multi-probe: candidates come only
    * from probed buckets, ranked by exact cosine. Since both variants
    * rank the same metric, multi-probe's candidate superset makes its
    * recall ≥ single-probe's by construction (measured against the
    * exact baseline in EmbeddingAnnSpec). */
  def annTopK(data: DataFrame, queryPred: Column, k: Int,
              bits: Int = LshBits, multiProbe: Boolean = false): DataFrame = {
    val e = data.withColumn("bucket", bucketCol(col("emb"), bits))
    val q0 = e.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"), col("bucket"))
    val q = if (multiProbe)
      q0.select(col("query_id"), col("qemb"),
        explode(probeBuckets(col("bucket"), bits)).as("bucket"))
    else q0
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    q.join(e.select(col("vec_id").as("neighbor_id"), col("emb"), col("bucket")),
        Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("qemb"), col("emb")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("sim"), 5).as("sim"))
  }

  /** IVF-flavored ANN: a coarse quantizer partitions vectors into
    * Voronoi cells around `nPivots` pivot vectors; queries probe their
    * `nProbe` nearest cells and rank candidates by exact cosine. The
    * pivots here are the first `nPivots` vectors by id — a
    * deterministic, oracle-expressible stand-in for offline-trained
    * k-means centroids (at 100 TB you train centroids on a sample and
    * broadcast them; the assignment/probe plan is IDENTICAL). Probe
    * count is the recall dial: cells are data-adaptive (unlike sign-bit
    * LSH's fixed hyperplanes), so cell sizes stay balanced under
    * clustered data — the bucket-skew antidote.
    *
    * Plan note: the assignment step is a BroadcastNestedLoopJoin by
    * design — vector×pivot has no equi-key, and with nPivots rows on
    * the broadcast side it is a bounded O(N·C) scan that parallelizes
    * perfectly (the audit's BNLJ smell flag is a false positive here).
    *
    * Two pivot sources: `ivfTopK` uses the first `nPivots` vectors by
    * id (deterministic, oracle-expressible); `kmeansPivots` trains
    * real centroids. Both feed the same `ivfTopKWith` probe plan. */

  /** Sampled Lloyd's k-means coarse quantizer, pure DataFrame ops —
    * the production IVF training step: seed centroids are the first
    * `k` vectors by id (deterministic), each iteration assigns the
    * (hash-sampled) training set to its nearest centroid via a
    * bounded broadcast crossJoin and recomputes elementwise means
    * (posexplode → per-dimension avg → array rebuild). At 100 TB the
    * sample is what makes this tractable: train on
    * `hash(vec_id) % sampleMod == 0` (millions of rows), broadcast
    * the k centroids, assign the full corpus once. Clusters that lose
    * all members drop out (standard Lloyd's degeneracy; k shrinks).
    * Centroid means are cosine-compatible: cosine is scale-invariant,
    * so the arithmetic mean ranks like the spherical-k-means mean. */
  def kmeansPivots(data: DataFrame, k: Int = 16, iters: Int = 2,
                   sampleMod: Int = 1): DataFrame = {
    // cache only a sample WE created — caching (and later unpersisting)
    // the caller's own frame would evict a cache the caller owns
    val ownsSample = sampleMod > 1
    val sample = if (ownsSample)
      data.filter(pmod(hash(col("vec_id")), lit(sampleMod)) === 0).cache()
    else data
    var cents = sample.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("pid"), col("emb").as("pemb"))
    for (_ <- 0 until iters) {
      val assigned = sample.crossJoin(broadcast(cents))
        .withColumn("psim", cosine(col("emb"), col("pemb")))
        .withColumn("prn", row_number().over(
          Window.partitionBy(col("vec_id"))
            .orderBy(col("psim").desc, col("pid"))))
        .filter(col("prn") === 1)
        .select(col("pid"), col("emb"))
      cents = assigned
        .select(col("pid"), posexplode(col("emb")).as(Seq("pos", "x")))
        .groupBy(col("pid"), col("pos")).agg(avg(col("x")).as("m"))
        .groupBy(col("pid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("sm"))
        .select(col("pid"), expr("transform(sm, s -> s.m)").as("pemb"))
        // k rows; truncates the per-iteration lineage so round i+1's
        // broadcast doesn't recompute rounds 1..i
        .localCheckpoint(true)
    }
    // cents is eagerly checkpointed — the training sample's cache is
    // no longer referenced by any pending computation
    if (ownsSample) sample.unpersist()
    cents
  }

  /** IVF ANN against an explicit pivot/centroid frame `[pid, pemb]` —
    * the probe plan shared by the deterministic-pivot oracle variant
    * and the k-means-trained variant. */
  def ivfTopKWith(data: DataFrame, piv: DataFrame, queryPred: Column,
                  k: Int, nProbe: Int): DataFrame = {
    val assign = data.crossJoin(broadcast(piv))
      .withColumn("psim", cosine(col("emb"), col("pemb")))
      .withColumn("prn", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("psim").desc, col("pid"))))
    val cells = assign.filter(col("prn") === 1)
      .select(col("vec_id").as("neighbor_id"), col("emb"),
        col("pid").as("cell"))
    val probes = assign.filter(queryPred && col("prn") <= nProbe)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"),
        col("pid").as("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    probes.join(cells, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("qemb"), col("emb")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("sim"), 5).as("sim"))
  }

  /** Recall@3 floors for the float-trained ANN gates, set well below
    * the measured band so only a real index regression can trip
    * them. Measured at this HEAD: k-means IVF 0.82/0.83/0.88/1.00
    * and PQ(rerank=12) 0.42/0.45/0.40/1.00 at
    * sf0.001/0.01/0.1/sf1_scaled — the PQ band is the honest cost of
    * a 12-deep shortlist on the real (unclustered) embeddings table;
    * EmbeddingAnnSpec's ≥0.7 pin is on its separable synthetic
    * fixture and still holds. Margin sizing (r18 review): k-means
    * jitter is centroid-ulp — a couple of 1/60 hit flips — but PQ
    * training nondeterminism is NOT ulp-bounded: a near-tie in the
    * code-assignment rank can flip a whole codeword under a
    * different partition-order float sum, moving several shortlist
    * memberships at once. The PQ floor therefore sits 9 flips under
    * the band floor (0.40 → 0.25); a genuinely broken ADC/LUT path
    * lands at near-random recall (≈ k/corpus), far below either
    * floor, and the fine-grained bands stay pinned in
    * EmbeddingAnnSpec (including pqTopK's repartition-determinism
    * case). */
  private val KmeansIvfRecallFloor = 0.5
  private val PqRecallFloor = 0.25

  /** Expected anchor count for embed_hard_negatives' constant-budget
    * carve (per-BILLION rate = least(10⁹, this·10⁹ div n_vecs), the
    * corpus_cluster_balance recipe applied globally — 10⁹ rather than
    * the r20 per-mille, whose integer rate rounded to ZERO past
    * n_vecs > this·1000 and silently emptied the triplet set at
    * scale; ADVICE r20). A constant anchor budget is what makes
    * triplet-mining work LINEAR in corpus size — the r19 sf10 sweep
    * measured the former fixed-fraction carve at 14.2×/decade
    * (O(N²/160) candidate rows). Interpolated verbatim into the
    * oracle so both engines carve identically. */
  private[graft] val AnchorTarget = 200

  /** Exact brute-force top-3 cosine pairs for the `vec_id < 20` query
    * sample — the ground-truth side of every recall gate (the
    * embed_ann_recall exact block, factored). Deterministic: one
    * fused left-to-right dot product per pair, (sim DESC, id)
    * tie-break. */
  private def exactTop3Pairs(e: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    q.crossJoin(e.select(col("vec_id").as("neighbor_id"), col("emb")))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("qemb"), col("emb")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** The gated-check wrapper for float-trained ANN variants
    * (k-means IVF, PQ): per-query hits against [[exactTop3Pairs]]
    * collapse to ONE row — exact-side counts DuckDB recomputes
    * (brute-force top-3 is engine-portable, proven by
    * embed_ann_recall's hash-green per-query twin) plus the
    * recall-floor verdict the oracle asserts as its constant claim.
    * Per-query hits of a float-trained index are deterministic only
    * to centroid ulp, but one flipped hit moves aggregate recall by
    * 1/60 — the floor sits several flips below the measured band. */
  private def recallGate(e: DataFrame, got: DataFrame,
                         floor: Double): DataFrame =
    exactTop3Pairs(e)
      .join(got.select(col("query_id"), col("neighbor_id"))
          .withColumn("hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left_outer")
      .agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_exact_pairs"),
        count(col("hit")).as("n_hits"))
      .select(col("n_queries"), col("n_exact_pairs"),
        (col("n_hits") >= col("n_exact_pairs") * floor)
          .as("meets_recall_floor"))

  /** Shared oracle text for the recall gates: DuckDB rebuilds the
    * exact brute-force top-3 (the embed_ann_recall px/exact CTEs) and
    * asserts the floor claim. */
  private val recallGateSql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |px AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
      |              list_dot_product(q.emb, n.emb)
      |                / (sqrt(list_dot_product(q.emb, q.emb))
      |                   * sqrt(list_dot_product(n.emb, n.emb))) AS sim
      |       FROM e q JOIN e n ON n.vec_id <> q.vec_id
      |       WHERE q.vec_id < 20),
      |exact AS (SELECT query_id, neighbor_id
      |          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |                                             ORDER BY sim DESC, neighbor_id) AS rnk
      |                FROM px) t WHERE rnk <= 3)
      |SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
      |       CAST(count(*) AS BIGINT) AS n_exact_pairs,
      |       TRUE AS meets_recall_floor
      |FROM exact""".stripMargin

  def ivfTopK(data: DataFrame, queryPred: Column, k: Int,
              nPivots: Int = 16, nProbe: Int = 2): DataFrame =
    ivfTopKWith(data,
      data.filter(col("vec_id") < nPivots)
        .select(col("vec_id").as("pid"), col("emb").as("pemb")),
      queryPred, k, nProbe)

  /** Product quantization ANN (Jégou et al., TPAMI '11): split each
    * D-dim vector into `m` disjoint subvectors, learn a `kCode`-word
    * codebook per subspace (id-seeded Lloyd's, same determinism story
    * as kmeansPivots), encode every vector as `m` code ids, and rank
    * candidates by ASYMMETRIC distance — the query's exact subvectors
    * against codewords, via a lookup-table join instead of touching
    * raw neighbor vectors.
    *
    * Scale shape: storage per vector falls D floats → m small ints
    * (+ one m×kCode codebook broadcast — KB-sized); the ADC pass is
    * codes ⨝ broadcast LUT on (sub, cid) + one (query, neighbor) sum —
    * a blocked matrix multiply whose big side carries CODES, never
    * embeddings. Reconstructed norms ride the same join (disjoint
    * subspaces ⇒ |x̂|² = Σ_sub |c_sub|²), so approximate cosine needs
    * no second pass. At 100 TB you'd IVF-prune candidates first and
    * ADC only probed cells; the LUT plan is identical.
    *
    * `rerank > 0` is the production IVFADC+R shape (Jégou et al.
    * §V): ADC ranks a `rerank`-sized shortlist cheaply, then ONLY
    * those candidates fetch raw vectors for an exact-cosine re-rank —
    * quantization error decides membership of a generous shortlist,
    * never the final order. Pure ADC (rerank=0) collapses fine
    * distinctions inside a tight cluster (neighbors sharing all m
    * codes tie), so top-k-exact recall needs the re-rank pass; the
    * spec measures both modes.
    *
    * Float caveat: codebook means and the per-pair m-term sum carry
    * ulp-order wobble → scores rounded to 5 decimals before ranking,
    * rows-check gate (like embed_ann_ivf_kmeans), recall pinned in
    * EmbeddingAnnSpec. */
  def pqTopK(data: DataFrame, queryPred: Column, k: Int,
             m: Int = 4, kCode: Int = 16, iters: Int = 1,
             rerank: Int = 0): DataFrame = {
    val dim = data.select(size(col("emb")).as("d")).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subLen = dim / m
    val dot = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)
    val subArr = array((0 until m).map(i =>
      expr(s"slice(emb, ${i * subLen + 1}, $subLen)")): _*)
    // Split-starved fanout of the subvector frame ONLY (not the shared
    // vecs memo — see its r22 note): the sf fixtures are one parquet
    // split, so the N·m encode/LUT dot products downstream would run
    // on one core of however many the session has. Guarded: a frame
    // that already holds ≥ cores partitions (any real corpus) skips
    // the exchange. Measured at sf1_scaled: embed_ann_pq 6.3 → 3.2 s.
    val dp = data.sparkSession.sparkContext.defaultParallelism
    val subs0 = data.select(col("vec_id"), posexplode(subArr).as(Seq("sub", "semb")))
    val subs = (if (subs0.rdd.getNumPartitions < dp)
      subs0.repartition(dp, col("vec_id")) else subs0)
      .localCheckpoint(true)
    // codebook: id-seeded, refined by `iters` Lloyd rounds per subspace
    var cb = subs.filter(col("vec_id") < kCode)
      .select(col("sub"), col("vec_id").as("cid"), col("semb").as("cemb"))
    for (_ <- 0 until iters) {
      val assigned = subs.join(broadcast(cb), Seq("sub"))
        // nearest by L2: argmin |s-c|² = argmax s·c − |c|²/2
        .withColumn("score",
          dot(col("semb"), col("cemb")) - dot(col("cemb"), col("cemb")) / 2)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("vec_id"), col("sub"))
            .orderBy(col("score").desc, col("cid"))))
        .filter(col("rn") === 1)
      cb = assigned
        .select(col("sub"), col("cid"), posexplode(col("semb")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("cid"), col("pos")).agg(avg(col("x")).as("mu"))
        .groupBy(col("sub"), col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mu")))).as("sm"))
        .select(col("sub"), col("cid"), expr("transform(sm, s -> s.mu)").as("cemb"))
        // kCode·m rows; cuts the per-round lineage like kmeansPivots
        .localCheckpoint(true)
    }
    val cbn = cb.withColumn("cnorm2", dot(col("cemb"), col("cemb")))
    // encode: one code id per (vector, subspace)
    val codes = subs.join(broadcast(cbn), Seq("sub"))
      .withColumn("score", dot(col("semb"), col("cemb")) - col("cnorm2") / 2)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id"), col("sub"))
          .orderBy(col("score").desc, col("cid"))))
      .filter(col("rn") === 1)
      .select(col("vec_id").as("neighbor_id"), col("sub"), col("cid"),
        col("cnorm2"))
      // m ints per vector. Cutting lineage here (and at the LUT) is
      // what keeps the ADC stage's serialized task plan small: without
      // it every downstream stage re-embeds the scan→posexplode→
      // window encode subtree (×2: codes and LUT share `subs`), and
      // the bench logged "broadcasting large task binary 2.1 MiB" per
      // ADC stage — pure scheduler overhead shipped to every executor.
      .localCheckpoint(true)
    // r22 note: an explicit repartition(defaultParallelism) of the
    // checkpointed code frame (to spread the ADC join off the single
    // AQE-coalesced partition) was measured ~1 s SLOWER steady-state
    // at sf0.1 and reverted — the extra exchange + 32-task scheduling
    // outweighs the small ADC work here, and at scale the frame
    // arrives multi-partition anyway.
    // query LUT: exact subvector · every codeword, plus exact |q|
    val qnorm = data.filter(queryPred)
      .select(col("vec_id").as("query_id"),
        sqrt(dot(col("emb"), col("emb"))).as("qn"))
      .localCheckpoint(true)
    val lut = subs.join(data.filter(queryPred).select(col("vec_id")), Seq("vec_id"))
      .select(col("vec_id").as("query_id"), col("sub"), col("semb"))
      .join(broadcast(cbn.select(col("sub"), col("cid"), col("cemb"))), Seq("sub"))
      .withColumn("pdot", dot(col("semb"), col("cemb")))
      .select(col("query_id"), col("sub"), col("cid"), col("pdot"))
      // queries×m×kCode rows — LUT-sized by definition
      .localCheckpoint(true)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    val adc = codes.join(broadcast(lut), Seq("sub", "cid"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("pdot")).as("adot"), sum(col("cnorm2")).as("rnorm2"))
      .join(broadcast(qnorm), Seq("query_id"))
      .withColumn("sim", round(col("adot") / (col("qn") * sqrt(col("rnorm2"))), 5))
      .withColumn("rnk", row_number().over(w))
    if (rerank <= 0)
      adc.filter(col("rnk") <= k)
        .select(col("query_id"), col("neighbor_id"), col("rnk"), col("sim"))
    else {
      // exact-cosine re-rank of the ADC shortlist: two bounded
      // equi-joins fetch raw vectors for queries × shortlist only
      val short = adc.filter(col("rnk") <= math.max(k, rerank))
        .select(col("query_id"), col("neighbor_id"))
      short
        .join(data.select(col("vec_id").as("query_id"), col("emb").as("qemb")),
          Seq("query_id"))
        .join(data.select(col("vec_id").as("neighbor_id"), col("emb")),
          Seq("neighbor_id"))
        .withColumn("sim", round(cosine(col("qemb"), col("emb")), 5))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select(col("query_id"), col("neighbor_id"), col("rnk"), col("sim"))
    }
  }

  /** Oracle for BOTH IVF variants (per-query `embed_ann_ivf` and the
    * persisted-index `embed_ann_indexed`): same pivots, same nProbe,
    * same tie-breaks ⇒ the index must reproduce the inline plan's
    * output bit-for-bit — one SQL text, two hash-matched queries. */
  /** Vectors quantized to floor(x·2^20) longs — the exact fixed-point
    * representation every `*_fp` embedding query ranks on (×2^20 is a
    * power-of-two float op; |x|<1 keeps products inside long/double
    * exactness). */
  private def fpQuantized(s: SparkSession, dir: String): DataFrame =
    vecs(s, dir).select(col("vec_id"),
      transform(col("emb"), x => floor(x * (1L << 20)).cast("long")).as("q"))

  /** One integer Lloyd round over a quantized `(vec_id, q)` frame:
    * seeds = vec_id < 16, centroid update = per-dimension order-free
    * integer `sum div count`, assignment = integer squared-L2 with
    * (d, pid) tie-break. Returns (trained centroids `(pid, cq)`,
    * assignments `(vec_id, q, cell)`). Bit-deterministic under any
    * partitioning; DuckDB replays it as [[fpCellsCte]]. Plan shape:
    * k-row broadcast crossJoins (bounded BNLJ), one shuffle for the
    * (cell, dim) partial sums. */
  /** `ckptCells=false` keeps the assignment frame LAZY for callers
    * whose dominant downstream work streams over `cells` itself
    * (embed_knn_label_fp's 30M-pair candidate L2 loop) — there the
    * materialized single-partition RDD serializes the heavy loop and
    * an sf1 A/B measured it 1.8 s SLOWER than re-deriving the
    * assignment per consumer; the other callers (hard_negatives,
    * cluster_balance, ivf_fp) measured faster WITH it. */
  private[queries] def fpLloydCells(e: DataFrame,
      ckptCells: Boolean = true): (DataFrame, DataFrame) = {
    def l2(a: Column, b: Column): Column =
      graft.functions.expressions.L2DistanceFp(a, b)
    def assign(cent: DataFrame): DataFrame =
      e.crossJoin(broadcast(cent))
        .withColumn("d", l2(col("q"), col("cq")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("d"), col("pid"))))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("q"), col("pid").as("cell"))
    val c0 = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("pid"), col("q").as("cq"))
    // c1 is 16 rows but its lineage is a full assignment pass
    // (corpus × 16 L2 argmax) + the (cell, dim) partial-sum shuffle;
    // every caller consumes it at least twice (broadcast probe side +
    // inside the cells lineage), so materialize the 16 rows once.
    // Likewise cells: corpus_cluster_balance and embed_hard_negatives
    // each feed it to 2-3 consumers, and without the checkpoint every
    // consumer re-ran BOTH Lloyd assignment passes (kmeansPivots'
    // per-round lesson, applied to the shared quantizer).
    val c1 = assign(c0)
      .select(col("cell"), posexplode(col("q")).as(Seq("i", "v")))
      .groupBy(col("cell"), col("i"))
      .agg(expr("sum(v) div count(1)").as("cv"))
      .groupBy(col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("i"), col("cv")))),
        s => s.getField("cv")).as("cq"))
      .select(col("cell").as("pid"), col("cq"))
      .localCheckpoint(true)
    val cells = assign(c1)
    (c1, if (ckptCells) cells.localCheckpoint(true) else cells)
  }

  /** DuckDB replay of [[fpLloydCells]]: CTEs `e` (quantized), `c0`
    * (seeds), `c1` (trained centroids `(pid, cq)`), `cells`
    * (assignments `(vec_id, q, cell)`). Shared by every oracle that
    * rides the fp-trained quantizer. */
  private[queries] val fpCellsCte: String =
    """e AS (
      |  SELECT vec_id,
      |         list_transform(embedding::DOUBLE[],
      |                        x -> CAST(floor(x * 1048576) AS BIGINT)) AS q
      |  FROM embeddings),
      |c0 AS (SELECT vec_id AS pid, q AS cq FROM e WHERE vec_id < 16),
      |d1 AS (SELECT e.vec_id, e.q, c.pid,
      |              CAST(list_dot_product(CAST(e.q AS DOUBLE[]), CAST(e.q AS DOUBLE[]))
      |                   - 2 * list_dot_product(CAST(e.q AS DOUBLE[]), CAST(c.cq AS DOUBLE[]))
      |                   + list_dot_product(CAST(c.cq AS DOUBLE[]), CAST(c.cq AS DOUBLE[])) AS BIGINT) AS d
      |       FROM e CROSS JOIN c0 c),
      |a1 AS (SELECT vec_id, q, pid AS cell FROM (
      |         SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, pid) AS rn
      |         FROM d1) WHERE rn = 1),
      |u AS (SELECT cell, i, CAST(sum(q[i]) AS BIGINT) // count(*) AS cv
      |      FROM a1 CROSS JOIN range(1, 65) t(i)
      |      GROUP BY cell, i),
      |c1 AS (SELECT cell AS pid, list(cv ORDER BY i) AS cq FROM u GROUP BY cell),
      |d2 AS (SELECT e.vec_id, e.q, c.pid,
      |              CAST(list_dot_product(CAST(e.q AS DOUBLE[]), CAST(e.q AS DOUBLE[]))
      |                   - 2 * list_dot_product(CAST(e.q AS DOUBLE[]), CAST(c.cq AS DOUBLE[]))
      |                   + list_dot_product(CAST(c.cq AS DOUBLE[]), CAST(c.cq AS DOUBLE[])) AS BIGINT) AS d
      |       FROM e CROSS JOIN c1 c),
      |cells AS (SELECT vec_id, q, pid AS cell FROM (
      |            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, pid) AS rn
      |            FROM d2) WHERE rn = 1)""".stripMargin

  private val ivfProbeSql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |piv AS (SELECT vec_id AS pid, emb AS pemb FROM e WHERE vec_id < 16),
      |a AS (SELECT e.vec_id, e.emb, p.pid,
      |             list_dot_product(e.emb, p.pemb)
      |               / (sqrt(list_dot_product(e.emb, e.emb))
      |                  * sqrt(list_dot_product(p.pemb, p.pemb))) AS psim
      |      FROM e CROSS JOIN piv p),
      |r0 AS (SELECT *, row_number() OVER (PARTITION BY vec_id
      |                                    ORDER BY psim DESC, pid) AS prn
      |       FROM a),
      |cells AS (SELECT vec_id AS neighbor_id, emb, pid AS cell
      |          FROM r0 WHERE prn = 1),
      |qp AS (SELECT vec_id AS query_id, emb AS qemb, pid AS cell
      |       FROM r0 WHERE vec_id < 20 AND prn <= 2),
      |p AS (SELECT qp.query_id, n.neighbor_id,
      |             list_dot_product(qp.qemb, n.emb)
      |               / (sqrt(list_dot_product(qp.qemb, qp.qemb))
      |                  * sqrt(list_dot_product(n.emb, n.emb))) AS sim
      |      FROM qp JOIN cells n
      |        ON qp.cell = n.cell AND n.neighbor_id <> qp.query_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |                                   ORDER BY sim DESC, neighbor_id) AS rnk
      |      FROM p)
      |SELECT query_id, neighbor_id, rnk, round(sim, 5) AS sim
      |FROM r WHERE rnk <= 3""".stripMargin

  /** The fixed-point PQ oracle — DuckDB replays training, ADC and
    * re-rank as one unrolled CTE. Shared verbatim by embed_ann_pq_fp
    * (in-query training/encode) and embed_ann_pq_indexed (persisted
    * codebooks/codes) — the two must hash-match. */
  private val pqFpSql: String =
    """WITH e AS (
             |  SELECT vec_id,
             |         list_transform(embedding::DOUBLE[],
             |                        x -> CAST(floor(x * 1048576) AS BIGINT)) AS q
             |  FROM embeddings),
             |sub AS (SELECT vec_id, t.s,
             |               list_slice(q, t.s * 16 + 1, t.s * 16 + 16) AS sq
             |        FROM e CROSS JOIN range(0, 4) t(s)),
             |c0 AS (SELECT s, vec_id AS pid, sq AS cq FROM sub WHERE vec_id < 16),
             |d1 AS (SELECT sub.vec_id, sub.s, sub.sq, c.pid,
             |              CAST(list_dot_product(CAST(sub.sq AS DOUBLE[]), CAST(sub.sq AS DOUBLE[]))
             |                   - 2 * list_dot_product(CAST(sub.sq AS DOUBLE[]), CAST(c.cq AS DOUBLE[]))
             |                   + list_dot_product(CAST(c.cq AS DOUBLE[]), CAST(c.cq AS DOUBLE[])) AS BIGINT) AS d
             |       FROM sub JOIN c0 c ON sub.s = c.s),
             |a1 AS (SELECT vec_id, s, sq, pid FROM (
             |         SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, pid) AS rn
             |         FROM d1) WHERE rn = 1),
             |u AS (SELECT s, pid, i, CAST(sum(sq[i]) AS BIGINT) // count(*) AS cv
             |      FROM a1 CROSS JOIN range(1, 17) t(i)
             |      GROUP BY s, pid, i),
             |c1 AS (SELECT s, pid, list(cv ORDER BY i) AS cq FROM u GROUP BY s, pid),
             |d2 AS (SELECT sub.vec_id, sub.s, c.pid,
             |              CAST(list_dot_product(CAST(sub.sq AS DOUBLE[]), CAST(sub.sq AS DOUBLE[]))
             |                   - 2 * list_dot_product(CAST(sub.sq AS DOUBLE[]), CAST(c.cq AS DOUBLE[]))
             |                   + list_dot_product(CAST(c.cq AS DOUBLE[]), CAST(c.cq AS DOUBLE[])) AS BIGINT) AS d
             |       FROM sub JOIN c1 c ON sub.s = c.s),
             |codes AS (SELECT vec_id, s, pid FROM (
             |            SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, pid) AS rn
             |            FROM d2) WHERE rn = 1),
             |qsub AS (SELECT vec_id AS query_id, s, sq FROM sub WHERE vec_id < 20),
             |lut AS (SELECT q.query_id, q.s, c.pid,
             |               CAST(list_dot_product(CAST(q.sq AS DOUBLE[]), CAST(q.sq AS DOUBLE[]))
             |                    - 2 * list_dot_product(CAST(q.sq AS DOUBLE[]), CAST(c.cq AS DOUBLE[]))
             |                    + list_dot_product(CAST(c.cq AS DOUBLE[]), CAST(c.cq AS DOUBLE[])) AS BIGINT) AS d
             |        FROM qsub q JOIN c1 c ON q.s = c.s),
             |adc AS (SELECT l.query_id, cd.vec_id, CAST(sum(l.d) AS BIGINT) AS adc
             |        FROM codes cd JOIN lut l ON cd.s = l.s AND cd.pid = l.pid
             |        WHERE cd.vec_id <> l.query_id
             |        GROUP BY l.query_id, cd.vec_id),
             |short AS (SELECT query_id, vec_id AS neighbor_id FROM (
             |            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rn
             |            FROM adc) WHERE rn <= 24),
             |r AS (SELECT sh.query_id, sh.neighbor_id,
             |             CAST(list_dot_product(CAST(eq.q AS DOUBLE[]), CAST(eq.q AS DOUBLE[]))
             |                  - 2 * list_dot_product(CAST(eq.q AS DOUBLE[]), CAST(en.q AS DOUBLE[]))
             |                  + list_dot_product(CAST(en.q AS DOUBLE[]), CAST(en.q AS DOUBLE[])) AS BIGINT) AS d_fp
             |      FROM short sh
             |      JOIN e eq ON sh.query_id = eq.vec_id
             |      JOIN e en ON sh.neighbor_id = en.vec_id),
             |rr AS (SELECT *, row_number() OVER (PARTITION BY query_id
             |                                    ORDER BY d_fp, neighbor_id) AS rnk
             |       FROM r)
             |SELECT query_id, neighbor_id, rnk, d_fp FROM rr WHERE rnk <= 3""".stripMargin

  val all: Seq[Q] = Seq(

    // SemDeDup-shaped semantic dedup: partition the corpus into
    // Voronoi cells around the IVF pivots, compare vectors ONLY within
    // their cell, and drop any vector semantically dominated (cosine ≥
    // τ) by a lower-id cellmate — keep-best canonical selection, the
    // embedding-space analogue of dedup_keep_best. The cluster scoping
    // is the technique's point at 100 TB. r21 takes the batch form
    // BELOW the r20 N^1.5 balance point with a TWO-LEVEL assignment
    // index (the hierarchical/coarse-quantizer move IVF uses —
    // VERDICT r20 #1a): ncells = c² fine cells with c = ⌊∛(N/4)⌋
    // (floored at 4, so ncells ≥ 16 as before), the first c pivots
    // double as COARSE pivots, every fine pivot hangs off its nearest
    // coarse pivot (coarse pivots self-parent by definition, so no
    // coarse group is empty), and a vector resolves its cell in two
    // argmax hops: nearest coarse pivot (N·c rows), then nearest fine
    // pivot within that coarse group (N·(ncells/c) ≈ N·c rows). With
    // ncells = (N/4)^(2/3), assignment 2N·c and within-cell pairs
    // N·(N/ncells) BOTH land at Θ(N^(4/3)) — vs N^1.5 for the flat
    // one-level scan (sf10 measured 23.8 s → see BENCHNOTES r21).
    // Every formula is interpolated verbatim into the oracle: the
    // integer cube root is cbrt+floor with an exact integer
    // correction (CASE over y-1/y/y+1, so a ±1 ulp cbrt disagreement
    // between engines cannot change c), both argmax hops are
    // row_number() over (psim DESC, pid ASC) in the oracle and the
    // equivalent map-side-combinable max_by(pid, struct(psim, -pid))
    // here, and the fused sequential cosine loop is IEEE-identical in
    // both engines, so the ≥ τ gate and the exact output hash-match.
    Q("dedup_semantic",
      (s, dir) => {
        val v = vecs(s, dir)
        // c = max(4, ⌊∛(N div 4)⌋), exact integer cube root: floor of
        // a double cbrt can sit one off the true root, so correct it
        // with integer comparisons (portable — DuckDB replays the
        // same CASE; a double cast there would ROUND where Spark
        // truncates, which is why floor() carries the conversion).
        val nc = Tables.embeddings(s, dir)
          .agg(expr("count(1) div 4").as("x"))
          .withColumn("y",
            expr("cast(floor(cbrt(cast(x as double))) as bigint)"))
          .select(expr(
            """greatest(4L, CASE WHEN (y+1)*(y+1)*(y+1) <= x THEN y+1
              |               WHEN y*y*y <= x THEN y
              |               ELSE y-1 END)""".stripMargin).as("c"))
        val piv = v.crossJoin(broadcast(nc))
          .filter(col("vec_id") < col("c") * col("c"))
          .select(col("vec_id").as("pid"), col("emb").as("pemb"),
            (col("vec_id") < col("c")).as("is_coarse"))
        val coarse = piv.filter(col("is_coarse"))
          .select(col("pid").as("cpid"), col("pemb").as("cemb"))
        // fine pivot → parent coarse pivot. Coarse pivots self-parent
        // BY DEFINITION (not via the argmax): guarantees every coarse
        // group contains its own pivot, so a vector's level-1 winner
        // always has fine candidates. ncells·c rows — index-sized.
        val parent = piv.filter(!col("is_coarse"))
          .crossJoin(broadcast(coarse))
          .withColumn("psim", cosine(col("pemb"), col("cemb")))
          .groupBy(col("pid"))
          .agg(expr("max_by(cpid, struct(psim, -cpid))").as("parent"))
          .unionByName(coarse.select(col("cpid").as("pid"),
            col("cpid").as("parent")))
        // level 1: nearest coarse pivot — N·c exploded rows, collapsed
        // map-side by the same argmax-as-aggregate recipe as r20
        // (max_by ≡ row_number over (psim DESC, pid ASC) = 1). The
        // aggregations carry METADATA ONLY (vec_id, psim, pid — guide
        // §8: decide with small rows, move the payload once): an r21
        // first(emb) draft shipped the 64-double payload through every
        // argmax buffer, and the sort-fallback aggregation over those
        // ~1 KB rows — not the row count — dominated the sf10 profile
        // (stage wall 111 s, 2.7k CPU-s, 316 s GC).
        val vcMeta = v.crossJoin(broadcast(coarse))
          .withColumn("psim", cosine(col("emb"), col("cemb")))
          .groupBy(col("vec_id"))
          .agg(expr("max_by(cpid, struct(psim, -cpid))").as("parent"))
        // level 2: nearest fine pivot WITHIN the winning coarse group —
        // the candidate explode is metadata-sized ((vec_id, pid),
        // N·(ncells/c) rows instead of the flat N·ncells), the vector
        // payload is attached by ONE vec_id-keyed join (vcMeta comes
        // out of its aggregate already hash-partitioned by vec_id, so
        // only the cached v side exchanges — and the final attach
        // reuses that same exchange), and the pivot payload rides a
        // broadcast. The eager localCheckpoint then pins the
        // assignment so the three consumers (both pair-join sides and
        // the verdict frame) don't re-run the exploded argmax — the
        // Triangles edge-lineage recipe; the checkpoint is
        // corpus-proportional (one row per vector).
        // shuffled-hash hints: every join whose stream or build carries
        // the 64-double payload skips the sort-merge sort passes (a
        // payload row through a sort buffer is ~1 KB of copy + GC per
        // pass; the per-partition build tables are a few MB)
        val fine = vcMeta
          .join(broadcast(parent), Seq("parent"))
          .join(v.hint("shuffle_hash"), Seq("vec_id"))
          .join(broadcast(piv.select(col("pid"), col("pemb"))), Seq("pid"))
          .withColumn("psim", cosine(col("emb"), col("pemb")))
          .groupBy(col("vec_id"))
          .agg(expr("max_by(pid, struct(psim, -pid))").as("cell"))
        // PlanFull skips the eager checkpoint (see planFull)
        val cellsRaw = v.join(fine.hint("shuffle_hash"), Seq("vec_id"))
          .select(col("vec_id"), col("emb"), col("cell"))
        val cells = if (PlanFull) cellsRaw else cellsRaw.localCheckpoint(true)
        // one explicit cell-keyed repartition feeds BOTH pair-join
        // sides: the two sides differ only in their aliases, so the
        // underlying exchange subtree is byte-identical and AQE
        // resolves the second side to a ReusedExchange AT RUNTIME —
        // the 64-double payload crosses the wire once, not twice
        // (guide §2.4). The reuse is invisible in a pre-execution
        // explain (VERDICT r21 #3); the executed plan shows it —
        // plans/r22/dedup_semantic_executed.txt, "ReusedExchange (12)
        // [Reuses operator id: 8]".
        val cellsP = cells.repartition(col("cell"))
        val a = cellsP.select(col("cell"), col("vec_id").as("v1"), col("emb").as("e1"))
        val b = cellsP.select(col("cell"), col("vec_id").as("v2"), col("emb").as("e2"))
        val dom = a.join(b.hint("shuffle_hash"), Seq("cell"))
          .filter(col("v1") < col("v2"))
          .withColumn("sim", cosine(col("e1"), col("e2")))
          .filter(col("sim") >= 0.3)
          .groupBy(col("v2")).agg(min(col("v1")).as("dup_of"))
          .select(col("v2").as("vec_id"), col("dup_of"))
        cells.select(col("vec_id"), col("cell"))
          .join(dom, Seq("vec_id"), "left")
          .select(col("vec_id"), col("cell"), col("dup_of"),
            col("dup_of").isNull.as("kept"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
             |nc0 AS (SELECT count(*) // 4 AS x FROM embeddings),
             |nc1 AS (SELECT x, CAST(floor(cbrt(CAST(x AS DOUBLE))) AS BIGINT) AS y FROM nc0),
             |nc AS (SELECT greatest(4, CASE WHEN (y+1)*(y+1)*(y+1) <= x THEN y+1
             |                               WHEN y*y*y <= x THEN y
             |                               ELSE y-1 END) AS c FROM nc1),
             |piv AS (SELECT vec_id AS pid, emb AS pemb FROM e, nc
             |        WHERE vec_id < nc.c * nc.c),
             |coarse AS (SELECT pid AS cpid, pemb AS cemb FROM piv, nc
             |           WHERE pid < nc.c),
             |pp AS (SELECT p.pid, c.cpid,
             |              list_dot_product(p.pemb, c.cemb)
             |                / (sqrt(list_dot_product(p.pemb, p.pemb))
             |                   * sqrt(list_dot_product(c.cemb, c.cemb))) AS psim
             |       FROM piv p CROSS JOIN coarse c, nc WHERE p.pid >= nc.c),
             |parent AS (
             |  SELECT pid, cpid AS parent FROM (
             |    SELECT *, row_number() OVER (PARTITION BY pid
             |                                 ORDER BY psim DESC, cpid) AS rn
             |    FROM pp) WHERE rn = 1
             |  UNION ALL SELECT cpid AS pid, cpid AS parent FROM coarse),
             |v1 AS (SELECT e.vec_id, e.emb, c.cpid,
             |              list_dot_product(e.emb, c.cemb)
             |                / (sqrt(list_dot_product(e.emb, e.emb))
             |                   * sqrt(list_dot_product(c.cemb, c.cemb))) AS psim
             |       FROM e CROSS JOIN coarse c),
             |vc AS (SELECT vec_id, emb, cpid AS parent FROM (
             |         SELECT *, row_number() OVER (PARTITION BY vec_id
             |                                      ORDER BY psim DESC, cpid) AS rn
             |         FROM v1) WHERE rn = 1),
             |f1 AS (SELECT v.vec_id, v.emb, pr.pid,
             |              list_dot_product(v.emb, p.pemb)
             |                / (sqrt(list_dot_product(v.emb, v.emb))
             |                   * sqrt(list_dot_product(p.pemb, p.pemb))) AS psim
             |       FROM vc v JOIN parent pr ON v.parent = pr.parent
             |       JOIN piv p ON pr.pid = p.pid),
             |cells AS (SELECT vec_id, emb, pid AS cell FROM (
             |            SELECT *, row_number() OVER (PARTITION BY vec_id
             |                                         ORDER BY psim DESC, pid) AS rn
             |            FROM f1) WHERE rn = 1),
             |dom AS (SELECT y.vec_id AS vec_id, min(x.vec_id) AS dup_of
             |        FROM cells x JOIN cells y
             |          ON x.cell = y.cell AND x.vec_id < y.vec_id
             |        WHERE list_dot_product(x.emb, y.emb)
             |                / (sqrt(list_dot_product(x.emb, x.emb))
             |                   * sqrt(list_dot_product(y.emb, y.emb))) >= 0.3
             |        GROUP BY y.vec_id)
             |SELECT c.vec_id, c.cell, d.dup_of, d.dup_of IS NULL AS kept
             |FROM cells c LEFT JOIN dom d ON c.vec_id = d.vec_id""".stripMargin)),

    // Semantic decontamination: flag training docs whose EMBEDDING is
    // near a held-out eval doc's — the cosine-space complement of
    // decontaminate_overlap's n-gram check (paraphrased leakage shares
    // no 8-gram but sits right next to the benchmark in embedding
    // space). Same split convention (id % 10 == 0 = eval). Scale
    // shape: the EVAL side — the small one by construction, benchmark
    // suites are thousands of docs however big the corpus is — takes
    // the multi-probe expansion (bits+1 probes/vec, recovering
    // neighbors one sign-plane away), and the corpus side computes its
    // bucket once and equi-joins on it: shuffle keyed by bucket, never
    // corpus × eval, and AQE broadcasts the expanded eval frame when
    // it is small enough. Output covers EVERY train vec (flag +
    // hit count + max cosine), so the gate hashes the negatives too.
    Q("decontaminate_semantic",
      (s, dir) => {
        val e = vecs(s, dir)
        val ev = e.filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("eval_id"), col("emb").as("eemb"),
            explode(probeBuckets(bucketCol(col("emb")))).as("bucket"))
        val tr = e.filter(col("vec_id") % 10 =!= 0)
          .withColumn("bucket", bucketCol(col("emb")))
        // probe buckets are distinct and a train vec has ONE bucket, so
        // each (train, eval) pair joins at most once — count(*) would
        // do; countDistinct documents the pair-level semantics
        val hits = tr.join(ev, Seq("bucket"))
          .withColumn("sim", cosine(col("emb"), col("eemb")))
          .filter(col("sim") >= 0.3)
          .groupBy(col("vec_id"))
          .agg(countDistinct(col("eval_id")).as("n_eval_hits"),
            max(round(col("sim"), 5)).as("max_sim"))
        tr.select(col("vec_id"))
          .join(hits, Seq("vec_id"), "left_outer")
          .select(col("vec_id"),
            coalesce(col("n_eval_hits"), lit(0L)).as("n_eval_hits"),
            col("max_sim"),
            (coalesce(col("n_eval_hits"), lit(0L)) > 0).as("contaminated"))
      },
      Some {
        val probes = (s"b0" +: (0 until LshBits).map(i =>
          s"xor(b0, ${1L << i})")).mkString(", ")
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
           |ev0 AS (SELECT vec_id AS eval_id, emb AS eemb, $bucketSql AS b0
           |        FROM e WHERE vec_id % 10 = 0),
           |ev AS (SELECT eval_id, eemb, unnest([$probes]) AS bucket FROM ev0),
           |tr AS (SELECT vec_id, emb, $bucketSql AS bucket
           |       FROM e WHERE vec_id % 10 <> 0),
           |h AS (SELECT tr.vec_id,
           |             count(DISTINCT ev.eval_id) AS n_eval_hits,
           |             max(round(list_dot_product(tr.emb, ev.eemb)
           |                   / (sqrt(list_dot_product(tr.emb, tr.emb))
           |                      * sqrt(list_dot_product(ev.eemb, ev.eemb))), 5))
           |               AS max_sim
           |      FROM tr JOIN ev ON tr.bucket = ev.bucket
           |      WHERE list_dot_product(tr.emb, ev.eemb)
           |              / (sqrt(list_dot_product(tr.emb, tr.emb))
           |                 * sqrt(list_dot_product(ev.eemb, ev.eemb))) >= 0.3
           |      GROUP BY tr.vec_id)
           |SELECT tr.vec_id,
           |       coalesce(h.n_eval_hits, 0) AS n_eval_hits,
           |       h.max_sim,
           |       coalesce(h.n_eval_hits, 0) > 0 AS contaminated
           |FROM tr LEFT JOIN h ON tr.vec_id = h.vec_id""".stripMargin
      }),

    // Brute-force cosine top-5 for a fixed query set — the exact ANN
    // baseline every approximate variant is measured against
    Q("embed_cosine_topk",
      (s, dir) => {
        val e = vecs(s, dir)
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("neighbor_id"))
        q.crossJoin(e.select(col("vec_id").as("neighbor_id"), col("emb")))
          .filter(col("neighbor_id") =!= col("query_id"))
          .withColumn("sim", cosine(col("qemb"), col("emb")))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5)
          .select(col("query_id"), col("neighbor_id"), col("rnk"),
            round(col("sim"), 5).as("sim"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
             |p AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             |             list_dot_product(q.emb, n.emb)
             |               / (sqrt(list_dot_product(q.emb, q.emb))
             |                  * sqrt(list_dot_product(n.emb, n.emb))) AS sim
             |      FROM e q JOIN e n ON n.vec_id <> q.vec_id
             |      WHERE q.vec_id < 5),
             |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
             |                                   ORDER BY sim DESC, neighbor_id) AS rnk
             |      FROM p)
             |SELECT query_id, neighbor_id, rnk, round(sim, 5) AS sim
             |FROM r WHERE rnk <= 5""".stripMargin)),

    // LSH bucket histogram — the partition layout of the scale path
    Q("embed_lsh_buckets",
      (s, dir) => vecs(s, dir)
        .select(bucketCol(col("emb")).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_vecs")),
      Some(s"""WITH e AS (SELECT embedding::DOUBLE[] AS emb FROM embeddings)
              |SELECT $bucketSql AS bucket, count(*) AS n_vecs
              |FROM e GROUP BY 1""".stripMargin)),

    // Embedding-cosine near-dup (the dedup-variant framing of ANN):
    // LSH-bucketed candidate pairs, exact cosine, threshold. At 100 TB
    // the bucket join bounds the quadratic step exactly like MinHash
    // banding does for text.
    Q("dedup_embedding_cosine",
      (s, dir) => {
        val e = vecs(s, dir).withColumn("bucket", bucketCol(col("emb")))
        val a = e.select(col("bucket"), col("vec_id").as("v1"), col("emb").as("e1"))
        val b = e.select(col("bucket"), col("vec_id").as("v2"), col("emb").as("e2"))
        a.join(b, Seq("bucket"))
          .filter(col("v1") < col("v2"))
          .withColumn("sim", cosine(col("e1"), col("e2")))
          .filter(col("sim") >= 0.3)
          .select(col("v1"), col("v2"), round(col("sim"), 5).as("sim"))
      },
      Some(s"""WITH e AS (SELECT vec_id, emb, $bucketSql AS bucket
              |           FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings) t),
              |p AS (SELECT a.vec_id AS v1, b.vec_id AS v2,
              |             list_dot_product(a.emb, b.emb)
              |               / (sqrt(list_dot_product(a.emb, a.emb))
              |                  * sqrt(list_dot_product(b.emb, b.emb))) AS sim
              |      FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
              |SELECT v1, v2, round(sim, 5) AS sim
              |FROM p WHERE sim >= 0.3""".stripMargin)),

    // Bucketed ANN: rank only within the query's bucket — approximate
    // (recall < 1) but join-pruned; the plan that survives scale-out
    Q("embed_ann_bucketed",
      (s, dir) => annTopK(vecs(s, dir), col("vec_id") < 20, k = 3),
      Some(s"""WITH e AS (SELECT vec_id, emb, $bucketSql AS bucket
              |           FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings) t),
              |p AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
              |             list_dot_product(q.emb, n.emb)
              |               / (sqrt(list_dot_product(q.emb, q.emb))
              |                  * sqrt(list_dot_product(n.emb, n.emb))) AS sim
              |      FROM e q JOIN e n ON q.bucket = n.bucket AND n.vec_id <> q.vec_id
              |      WHERE q.vec_id < 20),
              |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
              |                                   ORDER BY sim DESC, neighbor_id) AS rnk
              |      FROM p)
              |SELECT query_id, neighbor_id, rnk, round(sim, 5) AS sim
              |FROM r WHERE rnk <= 3""".stripMargin)),

    // Multi-probe ANN: same bucketed plan, but each query also probes
    // the `bits` buckets one sign-flip away — recovering neighbors that
    // straddle a single hyperplane (the recall/cost dial documented on
    // probeBuckets; recall ≥ single-probe by construction, measured in
    // EmbeddingAnnSpec)
    Q("embed_ann_multiprobe",
      (s, dir) => annTopK(vecs(s, dir), col("vec_id") < 20, k = 3,
        multiProbe = true),
      Some {
        val probes = "bucket" +: (0 until LshBits).map(i => s"xor(bucket, ${1L << i})")
        s"""WITH e AS (SELECT vec_id, emb, $bucketSql AS bucket
           |           FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings) t),
           |q AS (SELECT vec_id AS query_id, emb AS qemb,
           |             unnest([${probes.mkString(", ")}]) AS bucket
           |      FROM e WHERE vec_id < 20),
           |p AS (SELECT q.query_id, n.vec_id AS neighbor_id,
           |             list_dot_product(q.qemb, n.emb)
           |               / (sqrt(list_dot_product(q.qemb, q.qemb))
           |                  * sqrt(list_dot_product(n.emb, n.emb))) AS sim
           |      FROM q JOIN e n ON q.bucket = n.bucket AND n.vec_id <> q.query_id),
           |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
           |                                   ORDER BY sim DESC, neighbor_id) AS rnk
           |      FROM p)
           |SELECT query_id, neighbor_id, rnk, round(sim, 5) AS sim
           |FROM r WHERE rnk <= 3""".stripMargin
      }),

    // IVF ANN: Voronoi-cell coarse quantizer (deterministic pivots) +
    // nProbe=2 cell probing — the data-adaptive scale path alongside
    // the LSH variants (see ivfTopK scaladoc for the k-means story)
    Q("embed_ann_ivf",
      (s, dir) => ivfTopK(vecs(s, dir), col("vec_id") < 20, k = 3),
      Some(ivfProbeSql)),

    // Index-quality QC: recall@3 of the IVF probe against the exact
    // brute-force top-3 over the SAME query set — the metric an index
    // rollout gates on (probe more cells? retrain pivots?) measured
    // IN-ENGINE, the FAISS-benchmark loop as one query. Both sides are
    // deterministic (same tie-breaks, IEEE-identical fused cosine), so
    // even this evaluation sits under the exact hash gate. Scale: the
    // exact side is the expensive one by design — ground truth for a
    // SAMPLED query set (here 20), never the corpus; the hit check is
    // an equi-join on (query_id, neighbor_id).
    Q("embed_ann_recall",
      (s, dir) => {
        val e = vecs(s, dir)
        val ivf = ivfTopK(e, col("vec_id") < 20, k = 3)
          .select(col("query_id"), col("neighbor_id"))
          .withColumn("hit", lit(1))
        // ONE definition of the exact ground truth ([[exactTop3Pairs]],
        // shared with the kmeans/PQ recall gates — r18 review: an
        // inline copy here could silently drift its tie-break from
        // the gates' truth set)
        exactTop3Pairs(e)
          .join(ivf, Seq("query_id", "neighbor_id"), "left_outer")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("k"), count(col("hit")).as("n_hits"))
          .select(col("query_id"), col("n_hits"),
            round(col("n_hits").cast("double") / col("k"), 6).as("recall"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
             |piv AS (SELECT vec_id AS pid, emb AS pemb FROM e WHERE vec_id < 16),
             |a AS (SELECT e.vec_id, e.emb, p.pid,
             |             list_dot_product(e.emb, p.pemb)
             |               / (sqrt(list_dot_product(e.emb, e.emb))
             |                  * sqrt(list_dot_product(p.pemb, p.pemb))) AS psim
             |      FROM e CROSS JOIN piv p),
             |r0 AS (SELECT *, row_number() OVER (PARTITION BY vec_id
             |                                    ORDER BY psim DESC, pid) AS prn
             |       FROM a),
             |cells AS (SELECT vec_id AS neighbor_id, emb, pid AS cell
             |          FROM r0 WHERE prn = 1),
             |qp AS (SELECT vec_id AS query_id, emb AS qemb, pid AS cell
             |       FROM r0 WHERE vec_id < 20 AND prn <= 2),
             |pr AS (SELECT qp.query_id, n.neighbor_id,
             |              list_dot_product(qp.qemb, n.emb)
             |                / (sqrt(list_dot_product(qp.qemb, qp.qemb))
             |                   * sqrt(list_dot_product(n.emb, n.emb))) AS sim
             |       FROM qp JOIN cells n
             |         ON qp.cell = n.cell AND n.neighbor_id <> qp.query_id),
             |ivf AS (SELECT query_id, neighbor_id
             |        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
             |                                           ORDER BY sim DESC, neighbor_id) AS rnk
             |              FROM pr) t WHERE rnk <= 3),
             |px AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             |              list_dot_product(q.emb, n.emb)
             |                / (sqrt(list_dot_product(q.emb, q.emb))
             |                   * sqrt(list_dot_product(n.emb, n.emb))) AS sim
             |       FROM e q JOIN e n ON n.vec_id <> q.vec_id
             |       WHERE q.vec_id < 20),
             |exact AS (SELECT query_id, neighbor_id
             |          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
             |                                             ORDER BY sim DESC, neighbor_id) AS rnk
             |                FROM px) t WHERE rnk <= 3)
             |SELECT x.query_id, count(i.neighbor_id) AS n_hits,
             |       round(count(i.neighbor_id) / (1.0 * count(*)), 6) AS recall
             |FROM exact x LEFT JOIN ivf i
             |  ON x.query_id = i.query_id AND x.neighbor_id = i.neighbor_id
             |GROUP BY x.query_id""".stripMargin)),

    // The SAME probe against the PERSISTED index (IvfIndexStore):
    // cell assignments are materialized once per (session, source) and
    // maintained incrementally on ingest; the probe reads only the
    // probed cells' bucket files instead of re-assigning the corpus.
    // Shares embed_ann_ivf's oracle text — the two must hash-match.
    Q("embed_ann_indexed",
      (s, dir) => {
        val p = ivfIndexPrefix(s, dir)
        graft.sources.IvfIndexStore.topK(s,
          vecs(s, dir).filter(col("vec_id") < 20)
            .select(col("vec_id").as("query_id"), col("emb").as("qemb")),
          p, k = 3, nProbe = 2)
      },
      Some(ivfProbeSql)),

    // int8 scalar quantization: per-vector symmetric scale
    // (max|x|/127), quantize, measure reconstruction error — the 4×
    // storage/bandwidth compression a 100 TB embedding corpus ships
    // with (float32 → int8 + one scale per vector). Pure codegen'd
    // array arithmetic; recall impact of ranking on quantized vectors
    // is measured in EmbeddingAnnSpec.
    Q("embed_quantize",
      (s, dir) => {
        val e = vecs(s, dir)
        val scale = array_max(transform(col("emb"), x => abs(x))) / 127.0
        val q = transform(col("emb"), x => round(x / col("scale")).cast("int"))
        val err = zip_with(col("qemb"), col("emb"),
          (qi, xi) => qi * col("scale") - xi)
        e.withColumn("scale", scale)
          .withColumn("qemb", q)
          .withColumn("err", err)
          .select(col("vec_id"),
            round(col("scale"), 6).as("scale"),
            round(aggregate(col("err"), lit(0.0d), (a, x) => a + x * x)
              / size(col("emb")), 9).as("mse"),
            round(array_max(transform(col("err"), x => abs(x))), 6).as("max_err"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
             |s AS (SELECT vec_id, emb,
             |             list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale
             |      FROM e),
             |q AS (SELECT vec_id, scale,
             |             list_transform(emb, x -> round(x / scale)::INT) AS qemb, emb
             |      FROM s),
             |err AS (SELECT vec_id, scale,
             |               list_transform(range(1, len(emb) + 1),
             |                              i -> qemb[i] * scale - emb[i]) AS err,
             |               len(emb) AS d
             |        FROM q)
             |SELECT vec_id, round(scale, 6) AS scale,
             |       round(list_sum(list_transform(err, x -> x * x)) / d, 9) AS mse,
             |       round(list_max(list_transform(err, x -> abs(x))), 6) AS max_err
             |FROM err""".stripMargin)),

    // IVF with TRAINED centroids: sampled Lloyd's k-means (2 rounds,
    // deterministic seed) instead of id-ordered pivots — the
    // production quantizer. Floating-point mean accumulation makes
    // centroid LSBs run-dependent, so the neighbor lists never leave
    // the query: the registered output is the gated recall CHECK
    // ([[recallGate]]) against the exact brute-force top-3 — the
    // FAISS-rollout metric as the artifact itself. Neighbor-list
    // quality stays pinned in EmbeddingAnnSpec; the exact-ranked
    // fixed-point twin (embed_ann_ivf_fp) carries the full per-pair
    // hash gate.
    Q("embed_ann_ivf_kmeans",
      (s, dir) => {
        val v = vecs(s, dir)
        recallGate(v, ivfTopKWith(v, kmeansPivots(v, k = 16, iters = 2),
          col("vec_id") < 20, k = 3, nProbe = 2), KmeansIvfRecallFloor)
      },
      Some(recallGateSql)),

    // TRAINED-quantizer IVF under the EXACT hash gate: the k-means
    // float-LSB problem above disappears when the whole pipeline runs
    // in integer fixed point (the PageRank/DSIR recipe applied to
    // ANN). Vectors quantize to floor(x·2^20) longs (exact: ×2^20 is
    // a power-of-two float op, |x|<1 keeps every product under 2^46 —
    // inside both long and double exactness), one Lloyd round updates
    // centroids with order-free integer sums and truncating integer
    // division, and assignment/probe rank by integer squared-L2 with
    // id tie-breaks — bit-identical under any partitioning, so DuckDB
    // replays training AND probe as an unrolled CTE. At 100 TB the
    // plan is the kmeansPivots/ivfTopKWith shape: k-row broadcast
    // crossJoins (bounded BNLJ), one shuffle per Lloyd round for the
    // (cell, dim) partial sums, candidates only from probed cells.
    Q("embed_ann_ivf_fp",
      (s, dir) => {
        val e = fpQuantized(s, dir)
        def l2(a: Column, b: Column): Column =
          graft.functions.expressions.L2DistanceFp(a, b)
        val (c1, cells) = fpLloydCells(e)
        val qs = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("query_id"), col("q").as("qq"))
        val qcells = qs.crossJoin(broadcast(c1))
          .withColumn("d", l2(col("qq"), col("cq")))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("query_id")).orderBy(col("d"), col("pid"))))
          .filter(col("rn") <= 2)
          .select(col("query_id"), col("qq"), col("pid").as("cell"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("d_fp"), col("neighbor_id"))
        qcells.join(cells.select(col("cell"),
            col("vec_id").as("neighbor_id"), col("q")), Seq("cell"))
          .filter(col("neighbor_id") =!= col("query_id"))
          .withColumn("d_fp", l2(col("qq"), col("q")))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("query_id"), col("neighbor_id"), col("rnk"), col("d_fp"))
      },
      Some(s"""WITH $fpCellsCte,
             |qs AS (SELECT vec_id AS query_id, q AS qq FROM e WHERE vec_id < 20),
             |qd AS (SELECT qs.query_id, qs.qq, c.pid,
             |              CAST(list_dot_product(CAST(qs.qq AS DOUBLE[]), CAST(qs.qq AS DOUBLE[]))
             |                   - 2 * list_dot_product(CAST(qs.qq AS DOUBLE[]), CAST(c.cq AS DOUBLE[]))
             |                   + list_dot_product(CAST(c.cq AS DOUBLE[]), CAST(c.cq AS DOUBLE[])) AS BIGINT) AS d
             |       FROM qs CROSS JOIN c1 c),
             |qcells AS (SELECT query_id, qq, pid AS cell FROM (
             |             SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d, pid) AS rn
             |             FROM qd) WHERE rn <= 2),
             |cand AS (SELECT qc.query_id, cl.vec_id AS neighbor_id,
             |                CAST(list_dot_product(CAST(qc.qq AS DOUBLE[]), CAST(qc.qq AS DOUBLE[]))
             |                     - 2 * list_dot_product(CAST(qc.qq AS DOUBLE[]), CAST(cl.q AS DOUBLE[]))
             |                     + list_dot_product(CAST(cl.q AS DOUBLE[]), CAST(cl.q AS DOUBLE[])) AS BIGINT) AS d_fp
             |         FROM qcells qc JOIN cells cl ON qc.cell = cl.cell
             |         WHERE cl.vec_id <> qc.query_id),
             |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
             |                                   ORDER BY d_fp, neighbor_id) AS rnk
             |      FROM cand)
             |SELECT query_id, neighbor_id, rnk, d_fp FROM r WHERE rnk <= 3""".stripMargin)),

    // Product-quantization ANN: m=4 subspace codebooks, asymmetric-
    // distance shortlist via the LUT join + exact re-rank of the
    // shortlist (IVFADC+R, the production shape — see pqTopK
    // scaladoc). Float codebooks ⇒ the same gated recall CHECK as
    // embed_ann_ivf_kmeans: shortlist+re-rank top-3 scored against
    // the exact baseline, one verdict row under the hash gate.
    // Neighbor-list quality pinned in EmbeddingAnnSpec; the
    // fixed-point twin (embed_ann_pq_fp) carries the per-pair gate.
    Q("embed_ann_pq",
      (s, dir) => recallGate(vecs(s, dir),
        pqTopK(vecs(s, dir), col("vec_id") < 20, k = 3, rerank = 12),
        PqRecallFloor),
      Some(recallGateSql)),

    // PQ under the EXACT hash gate: the embed_ann_ivf_fp fixed-point
    // recipe generalized to product quantization. Subspace is a KEY
    // COLUMN (explode 4 ids, slice 16 dims each), so ONE k-means pass
    // trains all four codebooks together: integer seed centroids,
    // one Lloyd round of order-free integer sums + truncating
    // division, integer squared-L2 code assignment with pid
    // tie-breaks. ADC = the query's per-(subspace, centroid) LUT
    // joined to candidate codes on (s, pid) and summed — pure integer
    // adds — then the 24-deep shortlist re-ranks by exact integer L2
    // on the full vectors (ADC+R). Every step bit-deterministic under
    // any partitioning; DuckDB replays training, ADC and re-rank as
    // one unrolled CTE. The float-codebook variant above stays
    // rows-checked for contrast.
    Q("embed_ann_pq_fp",
      (s, dir) => {
        import graft.operators.PqFp
        val e = PqFp.quantize(vecs(s, dir))
        val sub = PqFp.subvectors(e)
        val c1 = PqFp.trainCodebooks(sub, PqFp.defaultSeeds(sub))
        val codes = PqFp.assign(sub, c1).select(col("vec_id"), col("s"), col("pid"))
        val qsub = sub.filter(col("vec_id") < 20)
          .select(col("vec_id").as("query_id"), col("s"), col("sq"))
        val short = PqFp.adcShortlist(codes, PqFp.lut(qsub, c1), rerank = 24)
        PqFp.rerankTopK(short, e, k = 3)
      },
      Some(pqFpSql)),

    // The SAME PQ probe against the PERSISTED index (IvfIndexStore
    // codebooks + codes): codebooks trained once at build, codes
    // encoded at ingest and merged next to the cell assignments, the
    // probe joins the query LUT to stored codes WITHOUT re-training
    // or re-encoding anything — IVFADC serving. Shares
    // embed_ann_pq_fp's oracle text — the two must hash-match.
    Q("embed_ann_pq_indexed",
      (s, dir) => {
        val p = pqIndexPrefix(s, dir)
        // the +R refine leg reads the PERSISTED cell store's vectors
        // (ivfIndexPrefix shares this corpus), so every byte the probe
        // touches — codebooks, codes, refine vectors — is store-served
        val refine = graft.sources.IvfIndexStore
          .read(s, ivfIndexPrefix(s, dir))
          .select(col("vec_id"), col("emb"))
        graft.sources.IvfIndexStore.pqTopK(s,
          vecs(s, dir).filter(col("vec_id") < 20)
            .select(col("vec_id").as("query_id"), col("emb").as("qemb")),
          p, k = 3, rerank = 24, fullVecs = refine)
      },
      Some(pqFpSql)),

    // Embedding outlier detection for corpus QC: cosine of each
    // vector to its SOURCE's centroid, bottom-5 per source flagged —
    // the garbage-embedding screen a curation pipeline runs before
    // CLUSTER-BALANCED corpus sampling (the SemDeDup/DoReMi-adjacent
    // curation move: sample an equal number of items per semantic
    // cluster so dominant clusters — boilerplate, one mega-domain —
    // can't monopolize the training mix). Clusters come from the SAME
    // fp-trained quantizer embed_ann_ivf_fp serves with, so the whole
    // query sits under the exact hash gate: per-cell target rate is
    // integer per-billion least(10⁹, 20·10⁹ div n_cell), membership is
    // the portable-hash carve (corpus_sample's recipe) — reproducible
    // across runs, engines and cluster sizes, NO per-cell windows (a
    // rank-based exact-k cap would sort every stratum; the rate form
    // is one scan + a k-row broadcast join, the shape that holds at
    // 100 TB where cells hold billions of rows each).
    Q("corpus_cluster_balance",
      (s, dir) => {
        val (_, cells) = fpLloydCells(fpQuantized(s, dir))
        val n = cells.groupBy(col("cell"))
          .agg(count(lit(1)).as("n_vecs"))
        // per-BILLION rate (r21, ADVICE r20): the former per-mille
        // rate rounded to ZERO for any cell beyond 20·1000 rows —
        // exactly the at-scale regime the rate carve exists for — so
        // a mega-cell silently contributed nothing. 10^9 granularity
        // keeps sub-per-mille rates expressible (the 60-bit portable
        // hash has headroom) and the expected per-cell sample stays
        // ~20 for ANY cell size; the oracle replays the same integers.
        val r = n.withColumn("rate_pb",
          least(lit(1000000000L), expr("(20 * 1000000000L) div n_vecs")))
        val samp = cells.join(broadcast(r), Seq("cell"))
          .withColumn("in_sample",
            graft.functions.TextOps.portableHash(
              col("vec_id").cast("string")) % 1000000000L < col("rate_pb"))
          .groupBy(col("cell"))
          .agg(count(when(col("in_sample"), lit(1))).as("n_sampled"))
        r.join(samp, Seq("cell"))
          .select(col("cell"), col("n_vecs"), col("rate_pb"), col("n_sampled"))
      },
      Some(s"""WITH $fpCellsCte,
              |n AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
              |      FROM cells GROUP BY cell),
              |r AS (SELECT cell, n_vecs,
              |             least(1000000000, (CAST(20 AS BIGINT) * 1000000000) // n_vecs) AS rate_pb FROM n),
              |sm AS (SELECT c.cell,
              |              count(CASE WHEN ('0x' || substr(md5(CAST(c.vec_id AS VARCHAR)), 1, 15))::BIGINT
              |                              % 1000000000 < r.rate_pb THEN 1 END) AS n_sampled
              |       FROM cells c JOIN r ON c.cell = r.cell GROUP BY c.cell)
              |SELECT r.cell, r.n_vecs, r.rate_pb, sm.n_sampled
              |FROM r JOIN sm ON r.cell = sm.cell""".stripMargin)),

    // CONTRASTIVE TRIPLET MINING (the embedding-training data op:
    // for each sampled anchor, the nearest SAME-label neighbor is the
    // positive and the nearest DIFFERENT-label neighbor the negative;
    // `hard` marks margin violations d_neg < d_pos — the pairs a
    // contrastive fine-tune learns most from). Candidates come from
    // the anchor's 2 probed fp-quantizer cells — the ANN-scoped
    // mining shape, and at 100 TB the cells are the persisted
    // IvfIndexStore so mining never rescans the corpus. Anchors are a
    // CONSTANT-COUNT portable-hash carve (~[[AnchorTarget]] expected,
    // the corpus_cluster_balance per-billion rate recipe applied
    // globally; rate rides the ONE-ROW broadcast count frame — the
    // tfidf scalar shape): the r19 sf10 sweep measured the former
    // fixed-FRACTION carve (vec_id % 20) at 14.2×/decade — anchors
    // ~N and cell size ~N/16 made candidates O(N²/160) — while a
    // constant anchor budget bounds candidates to
    // AnchorTarget × 2 probed cell sizes, linear in N. Mining a
    // budgeted sample is also the product semantics: a contrastive
    // fine-tune consumes a fixed-size triplet set, not 5% of a
    // 100 TB corpus. Integer L2 end to end ⇒ exact hash gate;
    // anchors missing a same- or different-label candidate in their
    // probed cells drop out (inner join on both legs, replayed by the
    // oracle).
    Q("embed_hard_negatives",
      (s, dir) => {
        val e = fpQuantized(s, dir)
        def l2(a: Column, b: Column): Column =
          graft.functions.expressions.L2DistanceFp(a, b)
        val (c1, cells) = fpLloydCells(e)
        val lab = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label"))
        val nv = Tables.embeddings(s, dir)
          .agg(count(lit(1)).as("n_vecs"))
        // per-BILLION rate (r21, ADVICE r20): per-mille rounded to 0
        // past n_vecs > AnchorTarget·1000, silently emptying the
        // triplet set in exactly the at-scale regime the constant
        // budget targets (both engines agreed, so the oracle gate
        // could not catch it — the GatedBoundsRandomSpec decade sweep
        // now crosses that cliff at n=250k).
        val anch = cells.join(lab, Seq("vec_id"))
          .crossJoin(broadcast(nv))
          .withColumn("rate_pb",
            least(lit(1000000000L),
              expr(s"($AnchorTarget * 1000000000L) div n_vecs")))
          .filter(graft.functions.TextOps.portableHash(
            col("vec_id").cast("string")) % 1000000000L < col("rate_pb"))
          .select(col("vec_id").as("anchor_id"), col("q").as("aq"),
            col("label").as("albl"))
        val acells = anch.crossJoin(broadcast(c1))
          .withColumn("d", l2(col("aq"), col("cq")))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("anchor_id")).orderBy(col("d"), col("pid"))))
          .filter(col("rn") <= 2)
          .select(col("anchor_id"), col("aq"), col("albl"),
            col("pid").as("cell"))
        // cand feeds BOTH top1 windows below — without a
        // materialization the whole anchor-carve + probe join +
        // per-pair L2 ran twice. The checkpoint stores only the
        // NARROW verdict columns (ids, labels, d_fp — the vector
        // payloads are dropped first, the §8 proxy rule), so the
        // bounded candidate frame is ~40 B/row.
        val cand = acells
          .join(cells.select(col("cell"), col("vec_id").as("cand_id"),
            col("q")), Seq("cell"))
          .join(lab.select(col("vec_id").as("cand_id"),
            col("label").as("clbl")), Seq("cand_id"))
          .filter(col("cand_id") =!= col("anchor_id"))
          .withColumn("d_fp", l2(col("aq"), col("q")))
          .select(col("anchor_id"), col("albl"), col("cand_id"),
            col("clbl"), col("d_fp"))
          .localCheckpoint(true)
        def top1(pred: Column, idName: String, dName: String): DataFrame =
          cand.filter(pred)
            .withColumn("rn", row_number().over(
              Window.partitionBy(col("anchor_id"))
                .orderBy(col("d_fp"), col("cand_id"))))
            .filter(col("rn") === 1)
            .select(col("anchor_id"), col("cand_id").as(idName),
              col("d_fp").as(dName))
        top1(col("clbl") === col("albl"), "pos_id", "d_pos_fp")
          .join(top1(col("clbl") =!= col("albl"), "neg_id", "d_neg_fp"),
            Seq("anchor_id"))
          .withColumn("hard", col("d_neg_fp") < col("d_pos_fp"))
      },
      Some {
        def l2sql(a: String, b: String) =
          s"CAST(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[]))" +
            s" - 2 * list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))" +
            s" + list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[])) AS BIGINT)"
        s"""WITH $fpCellsCte,
           |lab AS (SELECT vec_id, label FROM embeddings),
           |nv AS (SELECT least(1000000000, (CAST($AnchorTarget AS BIGINT) * 1000000000) // count(*)) AS rate_pb
           |       FROM embeddings),
           |anch AS (SELECT c.vec_id AS anchor_id, c.q AS aq, l.label AS albl
           |         FROM cells c JOIN lab l ON c.vec_id = l.vec_id, nv
           |         WHERE ('0x' || substr(md5(CAST(c.vec_id AS VARCHAR)), 1, 15))::BIGINT
           |                 % 1000000000 < nv.rate_pb),
           |ad AS (SELECT a.anchor_id, a.aq, a.albl, c.pid,
           |              ${l2sql("a.aq", "c.cq")} AS d
           |       FROM anch a CROSS JOIN c1 c),
           |acells AS (SELECT anchor_id, aq, albl, pid AS cell FROM (
           |             SELECT *, row_number() OVER (PARTITION BY anchor_id
           |                                          ORDER BY d, pid) AS rn
           |             FROM ad) WHERE rn <= 2),
           |cand AS (SELECT ac.anchor_id, ac.albl, cl.vec_id AS cand_id,
           |                l.label AS clbl, ${l2sql("ac.aq", "cl.q")} AS d_fp
           |         FROM acells ac JOIN cells cl ON ac.cell = cl.cell
           |         JOIN lab l ON cl.vec_id = l.vec_id
           |         WHERE cl.vec_id <> ac.anchor_id),
           |pos AS (SELECT anchor_id, cand_id AS pos_id, d_fp AS d_pos_fp FROM (
           |          SELECT *, row_number() OVER (PARTITION BY anchor_id
           |                                       ORDER BY d_fp, cand_id) AS rn
           |          FROM cand WHERE clbl = albl) WHERE rn = 1),
           |neg AS (SELECT anchor_id, cand_id AS neg_id, d_fp AS d_neg_fp FROM (
           |          SELECT *, row_number() OVER (PARTITION BY anchor_id
           |                                       ORDER BY d_fp, cand_id) AS rn
           |          FROM cand WHERE clbl <> albl) WHERE rn = 1)
           |SELECT p.anchor_id, p.pos_id, p.d_pos_fp, n.neg_id, n.d_neg_fp,
           |       n.d_neg_fp < p.d_pos_fp AS hard
           |FROM pos p JOIN neg n ON p.anchor_id = n.anchor_id""".stripMargin
      }),

    // MMR diversified re-ranking (Carbonell & Goldstein, SIGIR '98):
    // greedy top-5 from a 12-candidate shortlist where each pick
    // maximizes (min integer-L2 distance to the already-selected set)
    // − (distance to the query) — equal λ=1/2 weighting reduced to an
    // exact integer difference, so relevance and diversity trade off
    // with zero float ops. The greedy recursion unrolls into 4 CTE
    // step layers in the oracle exactly like PageRank's Jacobi rounds
    // — an inherently SEQUENTIAL operator under the exact hash gate.
    // Plan shape: the shortlist forms via TakeOrderedAndProject
    // (per-partition top-k + merge, no global sort), then each greedy
    // step is a ≤12×5 broadcast cross of the remaining candidates
    // against the selected set — corpus size touches only the first
    // scan. At 100 TB the shortlist would come from the persisted IVF
    // probe (embed_ann_indexed) instead of the exact scan; the MMR
    // tail is corpus-size-free either way.
    Q("embed_mmr_topk_fp",
      (s, dir) => {
        val e = fpQuantized(s, dir)
        def l2(a: Column, b: Column): Column =
          graft.functions.expressions.L2DistanceFp(a, b)
        val qv = broadcast(e.filter(col("vec_id") === 0)
          .select(col("q").as("qq")))
        val shortlist = e.filter(col("vec_id") =!= 0).crossJoin(qv)
          .select(col("vec_id"), col("q"), l2(col("q"), col("qq")).as("dq"))
          .orderBy(col("dq"), col("vec_id")).limit(12)
          .localCheckpoint(true) // 12 rows; cut the scan lineage once
        var sel = shortlist.orderBy(col("dq"), col("vec_id")).limit(1)
          .withColumn("rank", lit(1L))
        var rest = shortlist.join(sel.select(col("vec_id")),
          Seq("vec_id"), "left_anti")
        for (k <- 2 to 5) {
          val pick = rest
            .crossJoin(broadcast(sel.select(col("q").as("sq"))))
            .select(col("vec_id"), col("dq"), l2(col("q"), col("sq")).as("ds"))
            .groupBy(col("vec_id"), col("dq"))
            .agg(min(col("ds")).as("md"))
            .orderBy((col("md") - col("dq")).desc, col("vec_id")).limit(1)
            .select(col("vec_id"))
          val pickRow = shortlist.join(pick, Seq("vec_id"))
            .withColumn("rank", lit(k.toLong))
          sel = sel.unionByName(pickRow)
          rest = rest.join(pick, Seq("vec_id"), "left_anti")
        }
        sel.select(col("rank"), col("vec_id"), col("dq").as("d_q_fp"))
      },
      Some {
        def l2sql(a: String, b: String) =
          s"CAST(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[]))" +
            s" - 2 * list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))" +
            s" + list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[])) AS BIGINT)"
        def step(k: Int): String =
          s"""m$k AS (SELECT r.vec_id, r.dq,
             |             min(${l2sql("r.q", "s.q")}) AS md
             |       FROM rest${k - 1} r, sel${k - 1} s GROUP BY r.vec_id, r.dq, r.q),
             |p$k AS (SELECT sl.vec_id, sl.q, sl.dq, $k AS rank FROM m$k
             |        JOIN sl ON m$k.vec_id = sl.vec_id
             |        ORDER BY m$k.md - m$k.dq DESC, m$k.vec_id LIMIT 1),
             |sel$k AS (SELECT * FROM sel${k - 1} UNION ALL SELECT * FROM p$k),
             |rest$k AS (SELECT * FROM rest${k - 1}
             |           WHERE vec_id NOT IN (SELECT vec_id FROM p$k))""".stripMargin
        s"""WITH e AS (
           |  SELECT vec_id,
           |         list_transform(embedding::DOUBLE[],
           |                        x -> CAST(floor(x * 1048576) AS BIGINT)) AS q
           |  FROM embeddings),
           |qv AS (SELECT q AS qq FROM e WHERE vec_id = 0),
           |scored AS (SELECT e.vec_id, e.q, ${l2sql("e.q", "qv.qq")} AS dq
           |           FROM e, qv WHERE e.vec_id <> 0),
           |sl AS (SELECT vec_id, q, dq FROM (
           |         SELECT *, row_number() OVER (ORDER BY dq, vec_id) AS rn
           |         FROM scored) WHERE rn <= 12),
           |sel1 AS (SELECT vec_id, q, dq, 1 AS rank FROM sl
           |         ORDER BY dq, vec_id LIMIT 1),
           |rest1 AS (SELECT * FROM sl
           |          WHERE vec_id NOT IN (SELECT vec_id FROM sel1)),
           |${step(2)},
           |${step(3)},
           |${step(4)},
           |${step(5)}
           |SELECT CAST(rank AS BIGINT) AS rank, vec_id, dq AS d_q_fp
           |FROM sel5""".stripMargin
      }),

    // kNN label assignment (transductive classification / weak
    // labeling): every held-out vector (vec_id % 10 == 0, labels
    // withheld) is labeled by majority vote of its 5 nearest LABELED
    // neighbors inside its 2 probed quantizer cells — the standard
    // label-propagation step for pseudo-labeling an unlabeled crawl
    // slice from a labeled seed set. Rides the same fp-trained Lloyd
    // cells as embed_hard_negatives (train once per session, probe
    // cells only — never all-pairs), integer L2 via the fused
    // L2DistanceFp expression, and deterministic tie-breaks at every
    // step (distance→cand_id for the k-set; votes→smaller distance
    // sum→smaller label for the winner), so the whole vote is
    // hash-gated. Queries whose probed cells hold no labeled
    // candidate drop out (inner join — both engines agree).
    Q("embed_knn_label_fp",
      (s, dir) => {
        val e = fpQuantized(s, dir)
        def l2(a: Column, b: Column): Column =
          graft.functions.expressions.L2DistanceFp(a, b)
        val (c1, cells) = fpLloydCells(e, ckptCells = false)
        val lab = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label"))
        val qs = cells.join(lab, Seq("vec_id"))
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("q").as("qq"),
            col("label").as("true_label"))
        val qcells = qs.crossJoin(broadcast(c1))
          .withColumn("d", l2(col("qq"), col("cq")))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("query_id")).orderBy(col("d"), col("pid"))))
          .filter(col("rn") <= 2)
          .select(col("query_id"), col("qq"), col("true_label"),
            col("pid").as("cell"))
        val knn = qcells
          .join(cells.select(col("cell"), col("vec_id").as("cand_id"),
            col("q")), Seq("cell"))
          .filter(col("cand_id") % 10 =!= 0) // vote among labeled only
          .withColumn("d_fp", l2(col("qq"), col("q")))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("query_id"))
              .orderBy(col("d_fp"), col("cand_id"))))
          .filter(col("rn") <= 5)
          .join(lab.select(col("vec_id").as("cand_id"),
            col("label").as("clbl")), Seq("cand_id"))
        knn.groupBy(col("query_id"), col("true_label"), col("clbl"))
          .agg(count(lit(1)).as("n_votes"), sum(col("d_fp")).as("d_sum"))
          .withColumn("vr", row_number().over(
            Window.partitionBy(col("query_id"))
              .orderBy(col("n_votes").desc, col("d_sum"), col("clbl"))))
          .filter(col("vr") === 1)
          .select(col("query_id"), col("clbl").as("pred_label"),
            col("n_votes"), col("true_label"),
            (col("clbl") === col("true_label")).as("correct"))
      },
      Some {
        def l2sql(a: String, b: String) =
          s"CAST(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[]))" +
            s" - 2 * list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))" +
            s" + list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[])) AS BIGINT)"
        s"""WITH $fpCellsCte,
           |lab AS (SELECT vec_id, label FROM embeddings),
           |qs AS (SELECT c.vec_id AS query_id, c.q AS qq, l.label AS true_label
           |       FROM cells c JOIN lab l ON c.vec_id = l.vec_id
           |       WHERE c.vec_id % 10 = 0),
           |qd AS (SELECT q.query_id, q.qq, q.true_label, c.pid,
           |              ${l2sql("q.qq", "c.cq")} AS d
           |       FROM qs q CROSS JOIN c1 c),
           |qcells AS (SELECT query_id, qq, true_label, pid AS cell FROM (
           |             SELECT *, row_number() OVER (PARTITION BY query_id
           |                                          ORDER BY d, pid) AS rn
           |             FROM qd) WHERE rn <= 2),
           |knn AS (SELECT query_id, true_label, cand_id, d_fp FROM (
           |          SELECT qc.query_id, qc.true_label,
           |                 cl.vec_id AS cand_id,
           |                 ${l2sql("qc.qq", "cl.q")} AS d_fp,
           |                 row_number() OVER (
           |                   PARTITION BY qc.query_id
           |                   ORDER BY ${l2sql("qc.qq", "cl.q")}, cl.vec_id) AS rn
           |          FROM qcells qc JOIN cells cl ON qc.cell = cl.cell
           |          WHERE cl.vec_id % 10 <> 0) WHERE rn <= 5),
           |votes AS (SELECT k.query_id, k.true_label, l.label AS clbl,
           |                 CAST(count(*) AS BIGINT) AS n_votes,
           |                 CAST(sum(k.d_fp) AS BIGINT) AS d_sum
           |          FROM knn k JOIN lab l ON k.cand_id = l.vec_id
           |          GROUP BY 1, 2, 3)
           |SELECT query_id, clbl AS pred_label, n_votes, true_label,
           |       clbl = true_label AS correct
           |FROM (SELECT *, row_number() OVER (
           |        PARTITION BY query_id
           |        ORDER BY n_votes DESC, d_sum, clbl) AS vr
           |      FROM votes) WHERE vr = 1""".stripMargin
      }),

    // ANN indexing. HASH-ORACLED despite being "float math" via the
    // fixed-point trick: vectors quantize to floor(x·2²⁰) (an
    // exponent shift — no rounding ambiguity), centroids are integer
    // sums ÷ count (associative, partition-order-free), and every
    // downstream double op (conversion of an exact <2⁵³ integer,
    // sqrt, one multiply, one divide) is IEEE-correctly-rounded and
    // therefore bit-identical in Spark and DuckDB — the same recipe
    // that makes PageRank exactly gateable, extended to cosine. The
    // raw double is emitted unrounded (rounding is the only step the
    // engines disagree on). Scale: one posexplode + one (source,
    // pos) aggregate; the centroid frame is #sources×dim rows,
    // broadcast back.
    Q("embed_outliers",
      (s, dir) => {
        val dotLL = (a: Column, b: Column) =>
          aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
        val q = vecs(s, dir)
          .join(Tables.documents(s, dir)
            .select(col("doc_id").as("vec_id"), col("source")), Seq("vec_id"))
          .select(col("vec_id"), col("source"),
            expr("transform(emb, x -> CAST(floor(x * 1048576) AS BIGINT))")
              .as("qemb"))
        // NOT `div`: Spark div truncates toward zero, DuckDB // floors,
        // and centroid sums go negative. floor(sum/count) in double is
        // exact here (|sum| < 2^53 and a non-integer quotient sits at
        // least 1/count away from an integer) and reads identically in
        // both engines.
        val cent = q
          .select(col("source"), posexplode(col("qemb")).as(Seq("pos", "x")))
          .groupBy(col("source"), col("pos"))
          .agg(expr("CAST(floor(sum(x) / count(1)) AS BIGINT)").as("m"))
          .groupBy(col("source"))
          .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("sm"))
          .select(col("source"), expr("transform(sm, s -> s.m)").as("cemb"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("cos_centroid"), col("vec_id"))
        q.join(broadcast(cent), Seq("source"))
          .withColumn("cos_centroid",
            dotLL(col("qemb"), col("cemb")).cast("double") /
              (sqrt(dotLL(col("qemb"), col("qemb")).cast("double")) *
                sqrt(dotLL(col("cemb"), col("cemb")).cast("double"))))
          .withColumn("outlier_rank", row_number().over(w))
          .select(col("vec_id"), col("source"), col("cos_centroid"),
            col("outlier_rank"), (col("outlier_rank") <= 5).as("is_outlier"))
      },
      Some("""WITH q AS (
             |  SELECT e.vec_id, d.source,
             |         list_transform(e.embedding::DOUBLE[],
             |                        x -> CAST(floor(x * 1048576) AS BIGINT)) AS qemb
             |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
             |ex AS (
             |  SELECT source, i AS pos, qemb[i] AS x
             |  FROM (SELECT source, qemb, unnest(range(1, len(qemb) + 1)) AS i
             |        FROM q)),
             |cent AS (
             |  SELECT source, pos,
             |         CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS m
             |  FROM ex GROUP BY source, pos),
             |c AS (
             |  SELECT source, list(m ORDER BY pos) AS cemb FROM cent GROUP BY source),
             |s AS (
             |  SELECT q.vec_id, q.source,
             |         list_dot_product(q.qemb, c.cemb) /
             |           (sqrt(list_dot_product(q.qemb, q.qemb)) *
             |            sqrt(list_dot_product(c.cemb, c.cemb))) AS cos_centroid
             |  FROM q JOIN c ON q.source = c.source)
             |SELECT vec_id, source, cos_centroid,
             |       row_number() OVER (PARTITION BY source
             |                          ORDER BY cos_centroid, vec_id)
             |         AS outlier_rank,
             |       row_number() OVER (PARTITION BY source
             |                          ORDER BY cos_centroid, vec_id) <= 5
             |         AS is_outlier
             |FROM s""".stripMargin))
  )
}
