package graft.queries

import graft.Memo
import graft.functions.TextOps
import graft.functions.TextOps._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication operators over `documents`
  * (SURVEY.md §7.4 / builder extension surface): token stats, quality
  * scoring, language-ID heuristic, fingerprinting, exact dedup,
  * n-gram-Jaccard near-dup, MinHash+LSH near-dup, SimHash.
  *
  * Scale design: every pipeline is shuffle-minimal — shingling is a
  * projection, signatures are one groupBy(doc_id), candidate
  * generation joins on (band, signature) buckets rather than doc×doc,
  * and verification touches only candidate pairs. At 100 TB the
  * identical plan holds: the only quadratic step (pair verification)
  * is bounded by LSH bucket collisions, not corpus size.
  */
object TextQueries extends QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)

  /** Every ordered 3-gram of a document frame with its position and
    * portable hash: `(doc_id, pos, sg, h)`. The one explode +
    * per-gram md5 pass the whole text-dedup family derives from. */
  private def gramRows(d: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    d.filter(size(t) >= 3)
      .select(col("doc_id"), posexplode(orderedShingles(t)).as(Seq("pos", "sg")))
      .withColumn("h", portableHash(col("sg")))
  }

  /** Oracle CTE mirroring shingleRows: `sh(doc_id, s)`. */
  /** Sweep-only document sampling for `similarity_triangles`, read
    * from `GRAFT_TRI_SAMPLE_MOD` (keep docs whose portable doc_id
    * hash ≡ 0 mod K; unset/≤1 = full graph — the production and
    * driver-gate behavior). Exists because the deliberately-naive
    * DuckDB ORACLE (all-pairs shared-shingle join) outgrows memory on
    * the 10× fixture while the engine's wedge plan does not; the
    * induced-subgraph gate keeps the census hash-verified at
    * sf1_scaled instead of skipped (BENCHNOTES). */
  private val TriSampleMod: Option[Long] =
    // a non-default value only takes effect under GRAFT_SWEEP_MODE=1
    // (any other session throws at first touch — SweepKnobs): engine
    // and oracle both read it, so no hash gate could catch a stray
    // env var silently sampling the graph (VERDICT r15 #5)
    SweepKnobs.gate("GRAFT_TRI_SAMPLE_MOD",
      sys.env.get("GRAFT_TRI_SAMPLE_MOD").map(_.toLong).filter(_ > 1),
      "similarity_triangles runs on an induced subgraph, NOT production output")

  private[queries] val shingleCte =
    """tok AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
      |sh AS (SELECT doc_id,
      |              unnest(list_distinct(list_transform(
      |                range(1, len(t) - 1),
      |                i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS s
      |       FROM tok WHERE len(t) >= 3)""".stripMargin

  /** The shingle-df boilerplate cap shared by EVERY consumer of the
    * df-capped posting frame: [[jaccardStrongPairs]]' prefix branch,
    * [[jaccardRegimeCached]]'s profile aggregate, the [[ngramShared]]
    * memo, and similarity_triangles' sampled branch. These four MUST
    * agree — the r21 memo substitution is row-identical only because
    * they do; a drifted copy would silently desync the prefix branch's
    * candidate set / regime pick from the memo'd postings (ADVICE
    * r21). The oracle SQL texts carry the same value as a literal
    * (`HAVING count(*) <= 50`) — changing this constant means
    * changing those texts in lockstep. */
  private[graft] val JaccardMaxDf = 50

  /** The exact df-capped Jaccard join oracle. dedup_ngram_jaccard
    * uses it verbatim (t = 0.2); dedup_jaccard_prefix swaps the final
    * threshold to its t = 0.8 regime — everything upstream of the
    * filter is one shared definition. */
  private lazy val ngramJaccardOracle: String =
    s"""WITH $shingleCte,
       |keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 50),
       |ab AS (SELECT doc_id, sh.s FROM sh JOIN keep ON sh.s = keep.s),
       |n AS (SELECT doc_id, count(*) AS n FROM ab GROUP BY doc_id),
       |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
       |          FROM ab a JOIN ab b ON a.s = b.s AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |j AS (SELECT d1, d2, shared / (1.0 * (n1.n + n2.n - shared)) AS jaccard
       |      FROM pairs
       |      JOIN n n1 ON d1 = n1.doc_id
       |      JOIN n n2 ON d2 = n2.doc_id)
       |SELECT d1, d2, round(jaccard, 6) AS jaccard
       |FROM j WHERE jaccard >= 0.2""".stripMargin

  /** Shared-shingle counts per (d1 < d2) pair via the inverted-index
    * self-join — equi-join on the shingle, never doc×doc. Optionally
    * semi-joined down to `cands` first (the LSH path). */
  private[queries] def sharedCounts(sh: DataFrame, cands: Option[DataFrame]): DataFrame = {
    val sh1 = sh.select(col("doc_id").as("d1"), col("s"))
    val sh2 = sh.select(col("doc_id").as("d2"), col("s"))
    val pairs = cands match {
      // LSH path: expand only the candidate pairs — (cand ⨝ shingles
      // of d1) equi-joined on (d2, s). Work is O(candidates), not
      // O(all pairs sharing a shingle).
      case Some(c) => c.join(sh1, Seq("d1")).join(sh2, Seq("d2", "s"))
      // full path: inverted-index self-join on the shingle
      case None => sh1.join(sh2, Seq("s")).filter(col("d1") < col("d2"))
    }
    pairs.groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("shared"))
  }

  /** Plan pick for the strong-duplicate Jaccard join, from ONE
    * aggregate over the (already-needed) shingle-df frame: the
    * inverted-index self-join emits Σ df·(df−1)/2 candidate rows, so
    * `pairs / rows` is its explode amplification — how many pair rows
    * each posting fans into. Thin-df corpora (driver fixture: ~2.8×)
    * explode nearly linearly and the simple plan wins (measured 2.3 s
    * vs 3.1 s at sf0.1, BENCHNOTES); boilerplate-heavy corpora
    * explode quadratically in df and the PPJoin prefix filter — one
    * extra per-doc window sort, candidates only from each doc's
    * ~(1−t) rarest shingles — is the plan that survives. The
    * crossover constant is a measured-on-this-VM dial; the SHAPE of
    * the rule (explode amplification vs a per-row budget) is the
    * portable part. Only meaningful for high thresholds (t ≥ ~0.5):
    * below that the prefix keeps most of every doc and never wins. */
  private[graft] def jaccardRegime(dfs: DataFrame): String = {
    val r = dfs.agg(
      coalesce(sum(col("df")), lit(0L)).as("rows"),
      coalesce(sum(col("df") * (col("df") - lit(1)) / lit(2)), lit(0.0)).as("pairs"))
      .head()
    if (r.getDouble(1) / math.max(1L, r.getLong(0)) > 8.0) "prefix" else "inverted"
  }

  /** Strong-duplicate pairs (J ≥ 0.8) over the df-capped shingle
    * frame, by `plan`: "prefix" (PPJoin prefix-filter candidates,
    * Chaudhuri/Ganti/Kaushik ICDE '06, Xiao et al. WWW '08),
    * "inverted" (full inverted-index explode), or — default — the
    * [[jaccardRegime]] profile pick. Both plans return IDENTICAL rows
    * (the prefix lemma is lossless for J ≥ t: J ≥ t ⇒ |A∩B| ≥ t·|A|,
    * and an intersection that large must touch the (n−⌈t·n⌉+1)-prefix
    * under the global (df, s) order), so the choice is pure cost —
    * asserted plan-vs-plan in JaccardPrefixSpec. */
  private[graft] def jaccardStrongPairs(s: SparkSession, dir: String,
                                        plan: Option[String] = None): DataFrame = {
    val sh = shingleRowsCached(s, dir)
    val maxDf = JaccardMaxDf
    // r21 (guide §2.4): the df-capped posting frame and its inverted-
    // index shared-counts are EXACTLY the [[ngramShared]] memo (same
    // df ≤ 50 cap, same distinct shingle base) — before this, the
    // inverted pick re-ran the full self-join + aggregate the memo
    // already holds (measured 6.8 s steady at sf1_scaled vs the
    // memo'd siblings' ~1.4 s). Both plan branches now read the memo:
    // the inverted branch IS the memo'd shared frame; the prefix
    // branch recomputes only its df-annotated prefix selection (the
    // part the memo doesn't hold) and verifies candidates against the
    // memo'd postings.
    val (abMemo, sharedMemo) = ngramShared(s, dir)
    val shared = plan.getOrElse(jaccardRegimeCached(s, dir)) match {
      case "prefix" =>
        val dfs = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDf)
        val ab = sh.join(dfs, Seq("s"))
          .select(col("doc_id"), col("s"), col("df"))
        // Set size and prefix rank from ONE window partition: the
        // per-doc count rides the same (doc_id)-keyed sort as the
        // rank (full-partition frame), so the groupBy + join-back of
        // the pre-r17 shape — a second full shuffle of the posting
        // frame — collapses into the exchange the rank needs anyway.
        val wDoc = Window.partitionBy(col("doc_id"))
          .orderBy(col("df"), col("s"))
        val prefix = ab
          .withColumn("n", count(lit(1)).over(wDoc.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
          .withColumn("r", row_number().over(wDoc))
          .filter(col("r") <= col("n") - expr("(4 * n + 4) div 5") + 1)
          .select(col("doc_id"), col("s"))
        val cand = prefix.select(col("doc_id").as("d1"), col("s"))
          .join(prefix.select(col("doc_id").as("d2"), col("s")), Seq("s"))
          .filter(col("d1") < col("d2"))
          .select(col("d1"), col("d2")).distinct()
        sharedCounts(abMemo, Some(cand))
      case _ => sharedMemo
    }
    jaccardOf(shared, abMemo)
      .filter(col("jaccard") >= 0.8)
      .select(col("d1"), col("d2"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Session memo of the [[jaccardRegime]] pick — a per-corpus plan
    * statistic (one map-side aggregate over the cached shingle frame,
    * but EAGER at query construction: the bench's min-of-3 paid it
    * three times, and PlanAudit's cold sweep once more). */
  private val jaccardRegimeCached = memo("jaccard_regime", Seq("documents.parquet")) {
    (s, dir) =>
      val sh = shingleRowsCached(s, dir)
      jaccardRegime(sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= JaccardMaxDf))
  }

  /** DISTINCT `(doc_id, s, h)` shingle rows — base of the minhash +
    * Jaccard pipelines. Built with a PER-DOC `array_distinct` before
    * the explode, not a global dropDuplicates over the gram memo: a
    * doc's grams live in one row pre-explode, so the local dedup is
    * exact and shuffle-free, while dropDuplicates(doc_id, s) would
    * exchange every gram row — measured strictly worse than paying
    * the md5 a second time. */
  private[queries] val shingleRowsCached = memo("shingle_rows",
      Seq("documents.parquet"), warm = true) { (s, dir) =>
    val t = tokens(col("text"))
    Memo.cache(docs(s, dir).filter(size(t) >= 3)
      .select(col("doc_id"), explode(shingles(t)).as("s"))
      .withColumn("h", portableHash(col("s"))))
  }

  /** The MinHash+LSH candidate pipeline through exact-Jaccard
    * verification: (d1, d2, jaccard). Shared by dedup_minhash_lsh and
    * dedup_clusters. `sh` must be the distinct `(doc_id, s, h)` frame
    * (hash precomputed by the gram pass). */
  private def minhashPairs(sh: DataFrame): DataFrame = {
    val banded = bandedSigs(sh)
    val cands = banded.as("x")
      .join(banded.as("y"), Seq("band", "sig"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    jaccardOf(sharedCounts(sh, Some(cands)), sh)
  }

  /** LSH band signatures `(doc_id, band, sig)` of a distinct
    * `(doc_id, s, h)` shingle frame — the per-doc artifact a
    * signature store would persist.
    * The minhash aggregate is cached: the banding self-join (and the
    * incremental probe) read it from both sides, and uncached Spark
    * recomputes the whole shingle→minhash aggregate per side
    * (ReuseExchange does not fire across the explode). Released with
    * the memo entry whose build cached it ([[Memo.cache]]). */
  private def bandedSigs(sh: DataFrame): DataFrame = {
    val mh = Memo.cache(sh.groupBy(col("doc_id"))
      .agg(min(minhashExpr(col("h"), 0)).as("mh0"),
        (1 until MinhashAB.size).map(i =>
          min(minhashExpr(col("h"), i)).as(s"mh$i")): _*))
    // one pass over mh: explode the 4 band signatures instead of a
    // 4-way union (which would recompute the aggregate per branch)
    val bandStructs = array((0 until MinhashBands).map { b =>
      val sig = concat_ws("_",
        (0 until MinhashRows).map(r => col(s"mh${b * MinhashRows + r}")): _*)
      struct(lit(b).as("band"), sig.as("sig"))
    }: _*)
    mh.select(col("doc_id"), explode(bandStructs).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Session-scoped memo of the verified near-dup pairs and the CC
    * cluster labels: the minhash family (dedup_minhash_lsh,
    * dedup_clusters, dedup_keep_best) shares ONE candidate-generation
    * + verification pass and ONE connected-components run per events
    * source, the way a production dedup stage materializes its edge
    * list once and fans consumers out from it. Bounded: one
    * pairs-sized frame per (session, source). */
  private val minhashPairsCached = memo("minhash_pairs",
      Seq("documents.parquet"), warm = true) { (s, dir) =>
    Memo.cache(minhashPairs(shingleRowsCached(s, dir)))
  }

  private val clusterLabels = memo("dedup_cluster_labels",
      Seq("documents.parquet"), warm = true) { (s, dir) =>
    val edges = minhashPairsCached(s, dir)
      .filter(col("jaccard") >= 0.5)
      .select(col("d1").as("a"), col("d2").as("b"))
    Memo.cache(graft.operators.ConnectedComponents.components(edges)
      .select(col("node").as("doc_id"), col("component").as("canonical_id")))
  }

  /** Session-scoped memo of the df-capped shingle rows `ab(doc_id, s)`
    * (df ≤ 50) and their inverted-index shared-counts frame
    * `(d1, d2, shared)` — ONE self-join per (session, dir), shared by
    * dedup_ngram_jaccard AND dedup_containment (the two exact-pair
    * metrics over the same candidate space; before this memo each paid
    * the full explode independently — ~2 s apiece at sf0.1). */
  private[queries] val ngramShared = memo("ngram_shared",
      Seq("documents.parquet"), warm = true) { (s, dir) =>
    val sh = shingleRowsCached(s, dir)
    val keep = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= JaccardMaxDf)
    val ab = Memo.cache(sh.join(keep, Seq("s")).select(col("doc_id"), col("s")))
    (ab, Memo.cache(sharedCounts(ab, None)))
  }

  /** Batch MinHash+LSH near-dup cluster labels for an arbitrary
    * `[doc_id, text]` frame: the dedup_clusters pipeline (shingle →
    * minhash → band collision → exact Jaccard ≥ 0.5 → connected
    * components) without the per-source memo. */
  def minhashClusterLabels(d: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val sh = d.filter(size(t) >= 3)
      .select(col("doc_id"), explode(shingles(t)).as("s"))
      .withColumn("h", portableHash(col("s")))
    val edges = minhashPairs(sh).filter(col("jaccard") >= 0.5)
      .select(col("d1").as("a"), col("d2").as("b"))
    graft.operators.ConnectedComponents.components(edges)
      .select(col("node").as("doc_id"), col("component").as("canonical_id"))
  }

  /** Winnowing fingerprint selection over a `[doc_id, text]` frame:
    * DISTINCT per-doc minima of every W-window of ordered 3-gram
    * hashes → `[doc_id, wm]`. Guarantee (Schleimer et al. '03): any
    * shared passage of >= W+2 tokens yields a shared `wm`; expected
    * density 2/(W+1). One shuffle (doc_id), no joins. */
  def winnowSelect(d: DataFrame): DataFrame = winnowFromGrams(gramRows(d))

  private def winnowFromGrams(g: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(WinnowW - 1), Window.currentRow)
    g.withColumn("wm", min(col("h")).over(byDoc))
      .filter(col("pos") >= WinnowW - 1)
      .select(col("doc_id"), col("wm")).distinct()
  }

  /** Session-scoped memo of the winnowing selection (the fingerprint
    * frame is 2/(W+1) the gram count — small); both winnow queries
    * read it, the gram explode + md5 pass runs once. */
  private val winnowSelectCached = memo("winnow_select",
      Seq("documents.parquet"), warm = true) { (s, dir) =>
    Memo.cache(winnowSelect(docs(s, dir)))
  }

  /** Session-scoped memo of the learned BPE merge table — tokenizer
    * training runs once per (session, corpus) and both `bpe_merges`
    * and `bpe_encode` read the artifact (train-then-apply, the real
    * pipeline shape: the merge table is produced once and shipped to
    * every encoder). Holds a driver-side Seq read from the persisted
    * merge table below. */
  private[queries] val bpeMergesCached = memo("bpe_merges",
      Seq("documents.parquet"), warm = true, dropStore = (s, dir) => {
        graft.sources.StoreSentinel.drop(s, bpePrefixName(dir))
        graft.sources.BucketedUpsert.drop(s, bpePrefixName(dir) + "merges")
      })(bpeMergesStored)

  /** PERSISTED merge table (path-keyed prefix — the LM-counts recipe,
    * VERDICT r15 #1 applied to the tokenizer): the 20 iterative
    * training rounds cost ~4.7 s per session at sf0.1 and the result
    * is a 20-row corpus-derived table, so every session after the
    * first adopts it from the warehouse in O(1) catalog ops + one
    * 20-row read. Sentinel-guarded like every derived store: a
    * changed corpus fails the signature and retrains. */
  private[graft] def bpePrefixName(dir: String): String =
    "bpe_" + java.lang.Integer.toHexString(dir.hashCode) + "_"
  private[graft] def bpeStorePrefix(s: SparkSession, dir: String): String = {
    val p = bpePrefixName(dir)
    val table = p + "merges"
    val sig = graft.sources.StoreSentinel.corpusSignature(dir, "documents.parquet")
    val adopted = graft.sources.StoreSentinel.matches(s, p, sig) &&
      graft.sources.BucketedUpsert.adopt(s, table)
    if (!adopted) {
      graft.sources.StoreSentinel.drop(s, p)
      graft.sources.BucketedUpsert.drop(s, table)
      val merges = graft.operators.Bpe.train(docs(s, dir), numMerges = BpeRounds)
      import s.implicits._
      graft.sources.BucketedUpsert.materialize(
        merges.toDF("rank", "left", "right"), table, "rank", 1)
      // sentinel LAST: its presence certifies a completed train
      graft.sources.StoreSentinel.write(s, p, sig)
    }
    p
  }
  private def bpeMergesStored(s: SparkSession, dir: String): Seq[graft.operators.Bpe.Merge] = {
    val p = bpeStorePrefix(s, dir)
    // 20 rows (BpeRounds) — a driver-bounded read by construction;
    // rank order restored on read (merge application is rank-ordered)
    graft.sources.BucketedUpsert.read(s, p + "merges")
      .orderBy(col("rank")).collect()
      .map(r => graft.operators.Bpe.Merge(
        r.getInt(0), r.getString(1), r.getString(2))).toSeq
  }

  /** Merge count shared by the trainer call and the unrolled oracle —
    * the two MUST agree or the oracle replays a different tokenizer. */
  private[queries] val BpeRounds = 20

  /** Unrolled-CTE DuckDB replay of the BPE trainer — the same recipe
    * that oracles PageRank: the operator is bit-deterministic by
    * construction (integer counts, (cnt DESC, l, r) tie-break), so
    * each training round is one CTE layer and the gate hash-compares
    * the exact merge table. The per-word merge step (leftmost-greedy
    * pair collapse, inherently sequential in Scala) becomes a plain
    * string `replace`: each word's symbol sequence is encoded with
    * EVERY symbol wrapped in chr(31) (US, absent from the printable
    * fixture corpus) as US+sym+US, and non-overlapping left-to-right
    * replace of US+l+US+US+r+US with US+lr+US is exactly the greedy
    * collapse (matches can only align on symbol boundaries, and a
    * just-merged token can never equal `l` -- b nonempty -- so the
    * scan never re-matches its own output). CTEs are MATERIALIZED:
    * each round references its predecessor twice (merge + early-stop
    * fallback) and DuckDB's default inlining would go exponential.
    */
  private[queries] def bpeOracleCtes(rounds: Int): String = {
    val S = "chr(31)"
    val sb = new StringBuilder
    sb.append(
      s"""WITH wsrc AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
         |            FROM documents),
         |w AS (SELECT w AS word, count(*) AS n FROM wsrc WHERE len(w) > 0 GROUP BY 1),
         |wc0 AS MATERIALIZED (SELECT word,
         |  $S || array_to_string(list_concat(string_split(word, ''), ['</w>']), $S||$S) || $S AS rep,
         |  n FROM w)""".stripMargin)
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(",\n").append(
        s"""p$r AS MATERIALIZED (SELECT pr.l AS l, pr.r AS r, CAST(sum(n) AS BIGINT) AS cnt FROM (
           |  SELECT n, unnest(list_transform(range(1, len(syms)),
           |                   i -> struct_pack(l := syms[i], r := syms[i+1]))) AS pr
           |  FROM (SELECT list_filter(string_split(rep, $S), s -> s <> '') AS syms, n FROM wc$p)
           |) GROUP BY 1, 2),
           |m$r AS MATERIALIZED (SELECT l, r FROM p$r WHERE cnt >= 2 ORDER BY cnt DESC, l, r LIMIT 1),
           |wc$r AS MATERIALIZED (SELECT word,
           |    replace(rep, $S||l||$S||$S||r||$S, $S||l||r||$S) AS rep, n FROM wc$p, m$r
           |  UNION ALL SELECT word, rep, n FROM wc$p WHERE NOT EXISTS (SELECT 1 FROM m$r))""".stripMargin)
    }
    sb.toString
  }

  private def bpeMergesOracle: String =
    bpeOracleCtes(BpeRounds) + "\n" +
      (1 to BpeRounds)
        .map(r => s"""SELECT ${r - 1} AS rank, l AS "left", r AS "right" FROM m$r""")
        .mkString("\nUNION ALL ") + "\nORDER BY rank"

  private def bpeEncodeOracle: String = {
    val S = "chr(31)"
    val R = BpeRounds
    bpeOracleCtes(R) +
      s""",
         |dw AS (SELECT doc_id, w FROM wsrc WHERE len(w) > 0),
         |sy AS (SELECT dw.doc_id, list_filter(string_split(wc$R.rep, $S), s -> s <> '') AS syms
         |       FROM dw JOIN wc$R ON dw.w = wc$R.word),
         |enc AS (SELECT doc_id, CAST(sum(len(syms)) AS BIGINT) AS n_symbols,
         |               CAST(sum(len(list_filter(syms, t -> len(replace(t, '</w>', '')) > 1))) AS BIGINT)
         |                 AS n_merged_symbols
         |        FROM sy GROUP BY 1)
         |SELECT d.doc_id, len(string_split(trim(d.text), ' ')) AS n_ws_tokens,
         |       coalesce(enc.n_symbols, 0) AS n_symbols,
         |       coalesce(enc.n_merged_symbols, 0) AS n_merged_symbols
         |FROM documents d LEFT JOIN enc USING (doc_id)""".stripMargin
  }

  /** Oracle CTE chain mirroring minhashPairs, ending in
    * `mh_pairs(d1, d2, jaccard)`. */
  private val minhashPairsCte: String = {
    val h = "('0x' || substr(md5(s), 1, 15))::BIGINT"
    val mhExprs = MinhashAB.indices
      .map(i => s"min(${minhashSql("h", i)}) AS mh$i").mkString(",\n             ")
    val bandSelects = (0 until MinhashBands).map { b =>
      val sig = (0 until MinhashRows).map(r => s"mh${b * MinhashRows + r}").mkString(", '_', ")
      s"SELECT doc_id, $b AS band, concat(${sig}) AS sig FROM mh"
    }.mkString("\n      UNION ALL\n      ")
    s"""$shingleCte,
       |hs AS (SELECT doc_id, $h AS h FROM sh),
       |mh AS (SELECT doc_id,
       |             $mhExprs
       |      FROM hs GROUP BY doc_id),
       |banded AS (
       |      $bandSelects),
       |cands AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
       |          FROM banded x JOIN banded y
       |            ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
       |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |shared AS (SELECT c.d1, c.d2, count(*) AS shared
       |           FROM cands c
       |           JOIN sh a ON a.doc_id = c.d1
       |           JOIN sh b ON b.doc_id = c.d2 AND a.s = b.s
       |           GROUP BY 1, 2),
       |mh_pairs AS (
       |  SELECT d1, d2, shared / (1.0 * (n1.n + n2.n - shared)) AS jaccard
       |  FROM shared
       |  JOIN n n1 ON d1 = n1.doc_id
       |  JOIN n n2 ON d2 = n2.doc_id)""".stripMargin
  }

  /** Exact Jaccard from shared counts + per-doc shingle-set sizes. */
  private def jaccardOf(shared: DataFrame, sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    shared
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), Seq("d1"))
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), Seq("d2"))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("n1") + col("n2") - col("shared")))
  }

  /** Per-source KMV token sketches `(source, sk)` — the one scan that
    * makes every pairwise overlap question afterwards free. KMV union
    * is associative AND canonical, so sketches built per chunk and
    * unioned are bit-identical to this one-shot build. */
  def sourceSketches(d: DataFrame, k: Int = 256): DataFrame = d
    .select(col("source"), explode(tokens(col("text"))).as("token"))
    .groupBy(col("source"))
    .agg(graft.functions.expressions.KmvSketchBuild(col("token"), k).as("sk"))

  /** Pairwise overlap estimates over a `(source, sk)` sketch frame —
    * pure arithmetic, #sources² bounded pairs on a broadcast. */
  def sourceOverlap(sk: DataFrame): DataFrame = {
    val a = sk.select(col("source").as("source_a"), col("sk").as("sk_a"))
    val b = sk.select(col("source").as("source_b"), col("sk").as("sk_b"))
    // #sources × #sources pairs over a broadcast-bounded frame
    a.join(broadcast(b), col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        graft.functions.expressions.KmvEstimate(col("sk_a")).as("est_vocab_a"),
        graft.functions.expressions.KmvEstimate(col("sk_b")).as("est_vocab_b"),
        graft.functions.expressions.KmvIntersect(col("sk_a"), col("sk_b"))
          .as("est_shared_vocab"))
  }

  /** The float quality-distillation frame behind `quality_classifier`
    * — per-doc (doc_id, rule_quality, predicted, agrees) from a
    * logistic scorer trained in-engine to imitate the rule gate.
    * Kept as a frame builder because per-doc float predictions are
    * deterministic only to ~ulp: the registered query aggregates this
    * to the gated check (counts + agreement verdict) while
    * LogisticRegressionSpec keeps pinning the per-doc behavior
    * (both classes present, agreement ≥ 85% and above majority). */
  private[graft] def qualityClassifierFrame(s: SparkSession,
                                            dir: String): DataFrame = {
    val t = tokens(col("text"))
    val nTok = size(t)
    val ttr = size(array_distinct(t)).cast("double") / nTok
    val stop = markerHits(t, LangMarkers.head._2).cast("double") / nTok
    val feats = docs(s, dir).select(
      col("doc_id"),
      array(lit(1.0), ttr, stop,
        least(nTok, lit(100)).cast("double") / 100).as("features"),
      (ttr > 0.5 && nTok >= 10 && stop < 0.3).cast("double").as("label"))
    val w = graft.operators.LogisticRegression.train(feats, 4, 20, 10.0)
    graft.operators.LogisticRegression.scores(feats, w)
      .select(col("doc_id"), (col("label") > 0.5).as("rule_quality"),
        col("predicted"),
        (col("predicted") === (col("label") > 0.5)).as("agrees"))
  }

  /** Fixed lexical query for the retrieval pair (bm25_search /
    * hybrid_rrf); mid-df corpus terms so idf is non-trivial. */
  private val Bm25Terms = Seq("join", "scan", "filter")

  /** The fixed-point idf surrogate (see bm25_search_fp's scaladoc). */
  private val Bm25IdfFp =
    "((2 * n_docs - 2 * df + 1) * 1048576) div (2 * df + 1)"

  /** The fp-BM25 base frames, STORE-SERVED (round 22): the persisted
    * postings index ([[postingsPrefix]]) already holds exactly the
    * frames the per-query formulation re-derived on every run —
    * `postings (term, doc_id, tf, dl)` IS the (doc, token) tf frame
    * with dl denormalized on, and the one-row stats table IS
    * (n_docs, sum_dl), all exact BIGINTs. The former inline
    * `bm25FpFrames` tokenized the corpus and shuffled the full
    * (doc, token) frame once per consumer — bm25_prf_fp's before-plan
    * held 23 corpus scans / 72 Exchanges (plans/r22). Now a consumer
    * reads pre-aggregated postings rows: global df is ONE
    * term-keyed aggregation over the store (localCheckpointed —
    * vocab-sized — because every consumer uses it 2-3 times), and
    * scoring reads only its terms' bucket files via the
    * [[graft.sources.PostingsStore.postingsForTerms]] pruned probe.
    * Returns (posts `(token, doc_id, tf, dl)`, dfa `(token, df)`,
    * stats `(n_docs, sum_dl)` one-row). Row parity with the inline
    * frames is the store's ingest invariant (the bm25_indexed ≡
    * bm25_search precedent), pinned in Bm25FpStoreSpec. */
  private def bm25FpStoreFrames(s: SparkSession, dir: String):
      (DataFrame, DataFrame, DataFrame) = {
    val p = postingsPrefix(s, dir)
    val posts = graft.sources.PostingsStore.postings(s, p)
      .withColumnRenamed("term", "token")
    val dfa = posts.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .localCheckpoint(true)
    val stats = graft.sources.PostingsStore.stats(s, p)
    (posts, dfa, stats)
  }

  /** Per-(doc, token) fp-BM25 contribution (bm25_search_fp's integer
    * algebra) over a pruned tf frame that already carries `dl` (the
    * postings denormalization); extra columns (query ids, weights)
    * ride through untouched. */
  private def bm25FpContrib(tf: DataFrame, dfa: DataFrame,
                            stats: DataFrame): DataFrame = tf
    .join(broadcast(dfa), Seq("token"))
    .crossJoin(broadcast(stats))
    .withColumn("idf_fp", expr(Bm25IdfFp))
    .withColumn("tfc_fp", expr("(22 * tf * sum_dl * 1048576) div " +
      "(10 * tf * sum_dl + 3 * sum_dl + 9 * dl * n_docs)"))
    .withColumn("contrib", expr("(idf_fp * tfc_fp) div 1048576"))

  /** BM25 score assembly (k1=1.2, b=0.75) shared by the per-query
    * corpus scan ([[bm25Top]]) and the persisted-index probe
    * ([[bm25IndexedTop]]): given per-(doc, token) `tf`, per-token
    * `df`, per-doc `dl` and one-row corpus `stats (n_docs, avgdl)` —
    * all doubles — assemble top-20 in one fixed expression order, so
    * the two paths (and the DuckDB oracle) agree bit-for-bit. */
  private def bm25Assemble(tf: DataFrame, df: DataFrame, dl: DataFrame,
                           stats: DataFrame): DataFrame = {
    val contrib = tf.join(broadcast(df), Seq("token"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("contrib", col("idf") * ((col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl"))))))
    val perDoc = contrib.groupBy(col("doc_id"))
      .agg(
        sum(when(col("token") === Bm25Terms(0), col("contrib")).otherwise(lit(0.0))).as("c0"),
        sum(when(col("token") === Bm25Terms(1), col("contrib")).otherwise(lit(0.0))).as("c1"),
        sum(when(col("token") === Bm25Terms(2), col("contrib")).otherwise(lit(0.0))).as("c2"))
      .withColumn("bm25", round(col("c0") + col("c1") + col("c2"), 6))
    perDoc.orderBy(col("bm25").desc, col("doc_id")).limit(20)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id"))))
      .select(col("doc_id"), col("bm25"), col("rnk"))
  }

  /** BM25 top-20: one pruned token scan, broadcast df/corpus-stats
    * frames (see bm25_search scaladoc). */
  private def bm25Top(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val t = tokens(col("text"))
    val dl = d.select(col("doc_id"), size(t).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = d.select(col("doc_id"), explode(t).as("token"))
      .filter(col("token").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy(col("token"))
      .agg(count(lit(1)).cast("double").as("df"))
    bm25Assemble(tf, df, dl, stats)
  }

  /** Session-scoped memo of the PERSISTED postings index
    * (PostingsStore), the lexical twin of EmbeddingQueries'
    * ivfIndexPrefix memo. Build-once/probe-many now spans PROCESSES:
    * a completed build of the same corpus left on disk by an earlier
    * session (StoreSentinel matches + all three tables adopt) is
    * re-registered in O(1) catalog ops and probed directly — the
    * warm-restart contract; only a missing, partial, or
    * different-corpus store pays the full tokenize/ingest. The
    * reference analogue is the grants view surviving across requests
    * (`/root/reference/services/user_feature.py:22`), lifted to
    * surviving across process restarts. */
  /** Pure prefix derivation (path-keyed, catalog-identifier-safe). */
  private[graft] def postingsPrefixName(dir: String): String =
    "bm25ix_" + java.lang.Integer.toHexString(dir.hashCode)
  private[graft] val postingsPrefix = memo("bm25_postings",
      Seq("documents.parquet"), dropStore = (s, dir) => {
        graft.sources.StoreSentinel.drop(s, postingsPrefixName(dir))
        graft.sources.PostingsStore.drop(s, postingsPrefixName(dir))
      }) { (s, dir) =>
    val p = postingsPrefixName(dir)
    val sig = graft.sources.StoreSentinel.corpusSignature(dir, "documents.parquet")
    val adopted = graft.sources.StoreSentinel.matches(s, p, sig) &&
      graft.sources.PostingsStore.adopt(s, p)
    if (!adopted) {
      graft.sources.StoreSentinel.drop(s, p)
      graft.sources.PostingsStore.drop(s, p)
      graft.sources.PostingsStore.init(s, p)
      graft.sources.PostingsStore.upsertBatch(s,
        docs(s, dir).select(col("doc_id"), col("text")), p)
      // sentinel LAST: its presence certifies a completed build
      graft.sources.StoreSentinel.write(s, p, sig)
    }
    p
  }

  /** The SAME BM25 top-20 against the persisted index: tf/dl come from
    * the query terms' postings buckets, df is the per-term row count of
    * that same pruned read, n_docs/avgdl from the one-row stats store —
    * the corpus token scan never happens at query time. Hash-matches
    * [[bm25Top]]'s oracle (asserted per-round as `bm25_indexed`). */
  private def bm25IndexedTop(s: SparkSession, dir: String): DataFrame = {
    val p = postingsPrefix(s, dir)
    val posts = graft.sources.PostingsStore.postingsFor(s, Bm25Terms, p)
    val tf = posts.select(col("doc_id"), col("term").as("token"),
      col("tf").cast("double").as("tf"))
    val df = posts.groupBy(col("term").as("token"))
      .agg(count(lit(1)).cast("double").as("df"))
    val dl = posts.select(col("doc_id"), col("dl").cast("double").as("dl"))
      .distinct()
    val stats = graft.sources.PostingsStore.stats(s, p)
      .select(col("n_docs").cast("double").as("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs").cast("double")).as("avgdl"))
    bm25Assemble(tf, df, dl, stats)
  }

  /** The BM25 CTE chain shared by both retrieval oracles (ends at `b`:
    * doc_id, bm25). Token-for-token the same arithmetic as
    * [[bm25Top]] so the doubles agree bit-for-bit. */
  private val bm25Cte: String =
    """WITH t AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
      |           FROM documents),
      |dl AS (SELECT doc_id, CAST(len(string_split(trim(text), ' ')) AS DOUBLE) AS dl
      |       FROM documents),
      |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf FROM t
      |       WHERE token IN ('join', 'scan', 'filter') GROUP BY doc_id, token),
      |df AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token),
      |c AS (SELECT tf.doc_id, tf.token,
      |             ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
      |               * ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl)))) AS contrib
      |      FROM tf JOIN df USING (token) JOIN dl ON tf.doc_id = dl.doc_id
      |      CROSS JOIN stats s),
      |p AS (SELECT doc_id,
      |             sum(CASE WHEN token = 'join' THEN contrib ELSE 0.0 END) AS c0,
      |             sum(CASE WHEN token = 'scan' THEN contrib ELSE 0.0 END) AS c1,
      |             sum(CASE WHEN token = 'filter' THEN contrib ELSE 0.0 END) AS c2
      |      FROM c GROUP BY doc_id),
      |b AS (SELECT doc_id, round(c0 + c1 + c2, 6) AS bm25 FROM p)""".stripMargin

  val all: Seq[Q] = Seq(

    // Token counting + basic stats (integer sums → exact compare).
    // Total token chars = len(trim) − (n_tokens − 1): the corpus is
    // single-spaced, so the separator count IS n_tokens−1 — pure
    // codegen arithmetic instead of the interpreted HOF fold this
    // replaced (transform+aggregate ran CodegenFallback per token).
    Q("text_token_stats",
      (s, dir) => {
        val t = tokens(col("text"))
        val nTok = size(t)
        val tokChars = length(trim(col("text"))) - (nTok - lit(1))
        docs(s, dir).select(
          col("doc_id"),
          nTok.as("n_tokens"),
          length(col("text")).as("n_chars"),
          size(array_distinct(t)).as("n_distinct_tokens"),
          round(tokChars.cast("double") / nTok, 6).as("avg_token_len"))
      },
      Some("""SELECT doc_id,
             |       len(string_split(trim(text), ' ')) AS n_tokens,
             |       length(text) AS n_chars,
             |       len(list_distinct(string_split(trim(text), ' '))) AS n_distinct_tokens,
             |       round((length(trim(text)) - (len(string_split(trim(text), ' ')) - 1))
             |             / (1.0 * len(string_split(trim(text), ' '))), 6) AS avg_token_len
             |FROM documents""".stripMargin)),

    // BPE-ish token counting: a GPT-2-style pretokenizer regex
    // (contractions | word | number | punct-run | whitespace-run) —
    // the "how many LLM tokens is this corpus" estimator. ASCII
    // classes keep Java-regex and RE2 alternation semantics identical;
    // compared against the whitespace count it brackets tokenizer
    // inflation per document.
    Q("token_count_bpe",
      (s, dir) => {
        val bpe = "'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+|\\s+"
        docs(s, dir).select(
          col("doc_id"),
          size(regexp_extract_all(col("text"), lit(bpe), lit(0)))
            .as("n_bpe_tokens"),
          size(tokens(col("text"))).as("n_ws_tokens"))
      },
      Some("""SELECT doc_id,
             |       len(regexp_extract_all(text,
             |           '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+'))
             |         AS n_bpe_tokens,
             |       len(string_split(trim(text), ' ')) AS n_ws_tokens
             |FROM documents""".stripMargin)),

    // BPE tokenizer training (operators.Bpe): the learned merge table
    // over the corpus — vocab induction, not just counting. HASH-
    // GATED: integer counts + the (cnt DESC, l, r) tie-break make the
    // trainer bit-deterministic, so the oracle replays all 20 rounds
    // as unrolled MATERIALIZED CTEs (see bpeOracleCtes) and the gate
    // compares the exact merge table — the PageRank recipe applied to
    // a driver-loop operator. 20 merges: enough for multi-char tokens
    // to emerge at every fixture SF, bounded bench cost.
    Q("bpe_merges",
      (s, dir) => {
        import s.implicits._
        bpeMergesCached(s, dir)
          .map(m => (m.rank, m.left, m.right))
          .toDF("rank", "left", "right")
      },
      Some(bpeMergesOracle)),

    // Apply the trained tokenizer: segment every document with the
    // learned merge table (train-then-encode, the artifact round-trip
    // a training pipeline ships — bpe_merges produces the vocab,
    // this consumes it). The merge table broadcasts (vocab-sized);
    // encoding is embarrassingly parallel, zero shuffle, so the plan
    // is a bare scan + project at any corpus size. HASH-GATED: the
    // oracle re-trains via the unrolled CTEs, then — because encoding
    // a word with the full merge table equals the trainer's final
    // symbol state for that word — joins each document's words
    // against the round-20 word frame and aggregates symbol counts.
    // BpeSpec separately asserts invertibility + merge consistency.
    Q("bpe_encode",
      (s, dir) => {
        val merges = bpeMergesCached(s, dir)
        // vocabulary-sized encode (Bpe.wordSegments) + token-keyed
        // join: the per-word merge loop runs once per DISTINCT word,
        // the corpus pays one explode + one hash join + one groupBy.
        // The join side is size-gated (Bpe.vocabJoin): broadcast while
        // the distinct-word frame is broadcast-sized, shuffle hash
        // join on an unbounded web-corpus vocabulary.
        val (ws, nVocab) = graft.operators.Bpe.freezeVocab(
          graft.operators.Bpe.wordSegments(s, docs(s, dir), merges)
            .select(col("w"), size(col("syms")).cast("long").as("nw"),
              size(expr("filter(syms, t -> length(replace(t, '</w>', '')) > 1)"))
                .cast("long").as("nm")))
        val agg = graft.operators.Bpe.vocabJoin(
          docs(s, dir)
            .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
            .filter(length(col("w")) > 0),
          ws, nVocab)
          .groupBy(col("doc_id"))
          .agg(sum(col("nw")).as("ns"), sum(col("nm")).as("nms"))
        docs(s, dir)
          .select(col("doc_id"), size(tokens(col("text"))).as("n_ws_tokens"))
          .join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_ws_tokens"),
            coalesce(col("ns"), lit(0L)).as("n_symbols"),
            coalesce(col("nms"), lit(0L)).as("n_merged_symbols"))
      },
      Some(bpeEncodeOracle)),

    // Term frequencies: the canonical explode → count shape; top-50
    // with token tiebreak for determinism
    Q("term_frequencies",
      (s, dir) => docs(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n_occurrences").desc, col("token"))
        .limit(50),
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
             |           FROM documents)
             |SELECT token, count(*) AS n_occurrences,
             |       count(DISTINCT doc_id) AS n_docs
             |FROM t GROUP BY token
             |ORDER BY n_occurrences DESC, token
             |LIMIT 50""".stripMargin)),

    // TF-IDF: the per-(doc, term) relevance weight over the corpus —
    // term frequency × smoothed inverse document frequency, top-5
    // terms per doc. Two shuffles (term counts, df) + one broadcast
    // join of the tiny df frame + one per-doc window; at 100 TB the
    // df frame is the only global state and it is |vocabulary|-sized.
    Q("tfidf_top_terms",
      (s, dir) => {
        val d = docs(s, dir)
        // corpus size as a broadcast one-row frame — keeps the whole
        // query one lazy plan (an eager d.count() here would run a
        // separate scan job at every plan construction)
        val n = d.agg(count(lit(1)).as("n_docs"))
        val terms = d
          .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        val tf = terms.groupBy(col("doc_id"), col("token"))
          .agg(count(lit(1)).as("tf"))
        val df = terms.groupBy(col("token"))
          .agg(countDistinct(col("doc_id")).as("df"))
        // rank on the ROUNDED weight (with token tiebreak): raw tfidf
        // comes out of each engine's libm, and two (tf, df) pairs equal
        // within ~1 ulp could order differently across Spark and DuckDB
        // at the rank-5 cutoff — the rounded key makes the cutoff
        // engine-independent
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("token"))
        tf.join(broadcast(df), Seq("token"))
          .crossJoin(broadcast(n))
          .withColumn("tfidf",
            round(col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0), 6))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5)
          .select(col("doc_id"), col("token"), col("tf"), col("df"),
            round(col("tfidf"), 6).as("tfidf"), col("rnk"))
      },
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
             |           FROM documents),
             |tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
             |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
             |n AS (SELECT count(*) AS n_docs FROM documents),
             |sc AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
             |              round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
             |       FROM tf JOIN df USING (token) CROSS JOIN n),
             |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             |                                   ORDER BY tfidf DESC, token) AS rnk
             |      FROM sc)
             |SELECT doc_id, token, tf, df, round(tfidf, 6) AS tfidf, rnk
             |FROM r WHERE rnk <= 5""".stripMargin)),

    // Quality scoring: type-token ratio, stopword ratio, length gates
    Q("text_quality",
      (s, dir) => {
        val t = tokens(col("text"))
        val nTok = size(t)
        val ttr = size(array_distinct(t)).cast("double") / nTok
        val stop = markerHits(t, LangMarkers.head._2).cast("double") / nTok
        docs(s, dir).select(
          col("doc_id"),
          round(ttr, 6).as("type_token_ratio"),
          round(stop, 6).as("stopword_ratio"),
          (ttr > 0.5 && nTok >= 10 && stop < 0.3).as("is_quality"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents)
             |SELECT doc_id,
             |       round(len(list_distinct(toks)) / (1.0 * len(toks)), 6) AS type_token_ratio,
             |       round(len(list_filter(toks, x -> list_contains(['the','a','and','of'], x)))
             |             / (1.0 * len(toks)), 6) AS stopword_ratio,
             |       (len(list_distinct(toks)) / (1.0 * len(toks)) > 0.5
             |        AND len(toks) >= 10
             |        AND len(list_filter(toks, x -> list_contains(['the','a','and','of'], x)))
             |            / (1.0 * len(toks)) < 0.3) AS is_quality
             |FROM t""".stripMargin)),

    // Language-ID n-gram/stopword heuristic: marker hits per language,
    // argmax with fixed priority tie-break; output = confusion matrix
    Q("lang_id_confusion",
      (s, dir) => {
        val t = tokens(col("text"))
        val scored = docs(s, dir).select(
          Seq(col("lang").as("true_lang")) ++
            LangMarkers.map { case (l, ws) => markerHits(t, ws).as(s"s_$l") }: _*)
        val langs = LangMarkers.map(_._1)
        val pred = langs.init.zipWithIndex.foldRight(lit(langs.last): Column) {
          case ((l, _), els) =>
            val geAll = langs.filter(_ != l)
              .map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _)
            when(geAll, lit(l)).otherwise(els)
        }
        scored.withColumn("predicted", pred)
          .groupBy(col("true_lang"), col("predicted"))
          .agg(count(lit(1)).as("n_docs"))
      },
      Some {
        val langs = LangMarkers.map(_._1)
        val scoreExprs = LangMarkers.map { case (l, ws) =>
          s"len(list_filter(toks, x -> list_contains([${ws.map(w => s"'$w'").mkString(",")}], x))) AS s_$l"
        }.mkString(",\n       ")
        val predCase = langs.init.map { l =>
          val ge = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
          s"WHEN $ge THEN '$l'"
        }.mkString("\n         ")
        s"""WITH t AS (SELECT lang, string_split(trim(text), ' ') AS toks FROM documents),
           |sc AS (SELECT lang AS true_lang,
           |       $scoreExprs
           |FROM t)
           |SELECT true_lang,
           |       CASE $predCase
           |         ELSE '${langs.last}' END AS predicted,
           |       count(*) AS n_docs
           |FROM sc GROUP BY 1, 2""".stripMargin
      }),

    // Document fingerprint: md5 over lowercased alphanumerics; group
    // size surfaces exact-normalized dups without a second pass
    Q("doc_fingerprint",
      (s, dir) => {
        val fp = md5(regexp_replace(lower(col("text")), "[^a-z0-9]", ""))
        val w = Window.partitionBy(col("fp"))
        docs(s, dir).select(col("doc_id"), fp.as("fp"))
          .withColumn("n_same_fp", count(lit(1)).over(w))
      },
      Some("""WITH f AS (SELECT doc_id,
             |                  md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
             |           FROM documents)
             |SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n_same_fp
             |FROM f""".stripMargin)),

    // Exact dedup: hash-groupBy on raw text, keep min doc_id
    Q("dedup_exact",
      (s, dir) => {
        val h = md5(col("text"))
        val w = Window.partitionBy(col("h"))
        docs(s, dir).select(col("doc_id"), h.as("h"))
          .withColumn("canonical_id", min(col("doc_id")).over(w))
          .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
          .select(col("doc_id"), col("canonical_id"), col("is_dup"))
      },
      Some("""SELECT doc_id,
             |       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
             |       doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
             |FROM documents""".stripMargin)),

    // n-gram Jaccard near-dup over DISCRIMINATIVE shingles: shingles
    // appearing in > 50 documents are template/boilerplate text and
    // are ablated from the metric itself before the inverted-index
    // self-join (winnow_candidates' MOSS-style ablation, applied the
    // same way idf discounts stopwords). The cap is what keeps this
    // plan alive at 100×: an uncapped self-join fans a template
    // shingle in d docs into d²/2 pairs — quadratic in the corpus for
    // boilerplate — while the capped join bounds any shingle's
    // contribution at 50·49/2 pairs. Plan shape is unchanged from the
    // uncapped form (one df aggregate + the same single equi-join;
    // the exchange of `ab` by s is reused across both join sides).
    Q("dedup_ngram_jaccard",
      (s, dir) => {
        val (ab, shared) = ngramShared(s, dir)
        jaccardOf(shared, ab)
          .filter(col("jaccard") >= 0.2)
          .select(col("d1"), col("d2"), round(col("jaccard"), 6).as("jaccard"))
      },
      Some(ngramJaccardOracle)),

    // Exact STRONG-duplicate join through the PPJoin-style PREFIX
    // FILTER plan (Chaudhuri/Ganti/Kaushik ICDE '06, Xiao et al.
    // WWW '08) at t = 0.8 — the regime where the prefix filter is the
    // right plan: each doc's shingles sort under one global (df, s)
    // order and only the first n − ⌈0.8n⌉ + 1 ≈ 0.2n of them can
    // generate candidates (lossless for J ≥ t by the prefix lemma:
    // J ≥ t ⇒ |A∩B| ≥ t·|A|, and an intersection that large must
    // touch the (n−⌈t·n⌉+1)-prefix). Candidate generation therefore
    // explodes only each doc's rare-end 20% — quadratically ~25×
    // fewer collisions than the full inverted-index join, which
    // explodes EVERY shared shingle regardless of threshold — and the
    // full-set verification join (sharedCounts' candidate path) runs
    // only over survivors. Honest measurement note (BENCHNOTES): on
    // the driver fixture the shingle df distribution is thin (max df
    // 25 at sf0.1 — no boilerplate), the inverted-index explode is
    // only ~1.4M pair rows, and the simpler plan wins ~2.3 s vs
    // 3.1 s; at t = 0.2 the prefix keeps ~(1−t) of each set and loses
    // 5×. The prefix plan is the scale insurance for the corpus this
    // fixture is NOT: boilerplate-heavy crawls where per-shingle
    // explode is quadratic in df and a df cap would silently change
    // the answer — threshold choice and df shape ARE the plan choice,
    // which is why the engine ships inverted-index, LSH and prefix
    // forms of the same join — and, since the two strong-dup plans
    // return identical rows, PICKS between them per corpus from the
    // df profile (jaccardRegime: explode amplification vs a per-row
    // budget). On this fixture that pick is the inverted-index plan;
    // the prefix plan engages exactly on the boilerplate-heavy shape
    // it was built for (both picks asserted in JaccardPrefixSpec).
    Q("dedup_jaccard_prefix",
      (s, dir) => jaccardStrongPairs(s, dir),
      Some(ngramJaccardOracle.replace("WHERE jaccard >= 0.2",
        "WHERE jaccard >= 0.8"))),

    // MinHash + LSH near-dup: 16 minhashes from the portable shingle
    // hash, banded 4×4; only band-collision candidates get exact
    // Jaccard verification. The scale path for dedup at 100 TB.
    Q("dedup_minhash_lsh",
      (s, dir) => minhashPairsCached(s, dir)
        .select(col("d1"), col("d2"), round(col("jaccard"), 6).as("jaccard"),
          (col("jaccard") >= 0.5).as("is_dup")),
      Some(s"""WITH $minhashPairsCte
              |SELECT d1, d2,
              |       round(jaccard, 6) AS jaccard,
              |       jaccard >= 0.5 AS is_dup
              |FROM mh_pairs""".stripMargin)),

    // Dedup clustering: verified near-dup pairs → connected components
    // → one canonical doc per group (iterative min-label propagation;
    // oracle = recursive-CTE transitive closure)
    Q("dedup_clusters",
      (s, dir) => clusterLabels(s, dir),
      Some(s"""WITH RECURSIVE $minhashPairsCte,
              |dup AS (SELECT d1, d2 FROM mh_pairs WHERE jaccard >= 0.5),
              |e AS (SELECT d1 AS a, d2 AS b FROM dup
              |      UNION SELECT d2, d1 FROM dup),
              |reach(a, b) AS (
              |  SELECT a, b FROM e
              |  UNION
              |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a)
              |SELECT a AS doc_id, least(a, min(b)) AS canonical_id
              |FROM reach GROUP BY a""".stripMargin)),

    // Dedup with quality-aware canonical selection: real pipelines keep
    // the BEST document of a near-dup cluster, not the lowest id —
    // rank cluster members by quality (type-token ratio; doc_id
    // tiebreak) and keep the top. One extra window over the clustered
    // docs; the CC labels provide the partition key.
    Q("dedup_keep_best",
      (s, dir) => {
        val d = docs(s, dir)
        val labels = clusterLabels(s, dir)
        val t = tokens(col("text"))
        val quality = d.select(col("doc_id"),
          (size(array_distinct(t)).cast("double") / size(t)).as("ttr"))
        val w = Window.partitionBy(col("canonical_id"))
          .orderBy(col("ttr").desc, col("doc_id"))
        labels.join(quality, Seq("doc_id"))
          .withColumn("kept", row_number().over(w) === 1)
          .select(col("doc_id"), col("canonical_id"),
            round(col("ttr"), 6).as("ttr"), col("kept"))
      },
      Some(s"""WITH RECURSIVE $minhashPairsCte,
              |dup AS (SELECT d1, d2 FROM mh_pairs WHERE jaccard >= 0.5),
              |e AS (SELECT d1 AS a, d2 AS b FROM dup
              |      UNION SELECT d2, d1 FROM dup),
              |reach(a, b) AS (
              |  SELECT a, b FROM e
              |  UNION
              |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
              |lab AS (SELECT a AS doc_id, least(a, min(b)) AS canonical_id
              |        FROM reach GROUP BY a),
              |q AS (SELECT doc_id,
              |             len(list_distinct(string_split(trim(text), ' ')))
              |               / (1.0 * len(string_split(trim(text), ' '))) AS ttr
              |      FROM documents),
              |r AS (SELECT lab.doc_id, lab.canonical_id, q.ttr,
              |             row_number() OVER (PARTITION BY canonical_id
              |                                ORDER BY ttr DESC, lab.doc_id) AS rn
              |      FROM lab JOIN q ON lab.doc_id = q.doc_id)
              |SELECT doc_id, canonical_id, round(ttr, 6) AS ttr, rn = 1 AS kept
              |FROM r""".stripMargin)),

    // Threshold-tuning histogram: EVERY co-shingling pair (the
    // df-capped inverted-index join, no threshold) binned by Jaccard
    // decile — THE artifact an operator reads before choosing a dedup
    // cut: the noise floor lives in deciles 0-2, the near-dup mass in
    // 5+, and the empty middle says where the threshold is safe.
    // Third consumer of the shared ngram pair memo; the decile is
    // floor(j·10), a single correctly-rounded multiply on an
    // identical double, so bin edges agree between engines.
    Q("dedup_threshold_sweep",
      (s, dir) => {
        val (ab, shared) = ngramShared(s, dir)
        jaccardOf(shared, ab)
          .select(floor(col("jaccard") * 10).cast("long").as("decile"))
          .groupBy(col("decile")).agg(count(lit(1)).as("n_pairs"))
      },
      Some(s"""WITH $shingleCte,
              |keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 50),
              |ab AS (SELECT doc_id, sh.s FROM sh JOIN keep ON sh.s = keep.s),
              |n AS (SELECT doc_id, count(*) AS n FROM ab GROUP BY doc_id),
              |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
              |          FROM ab a JOIN ab b ON a.s = b.s AND a.doc_id < b.doc_id
              |          GROUP BY 1, 2),
              |j AS (SELECT shared / (1.0 * (n1.n + n2.n - shared)) AS jaccard
              |      FROM pairs
              |      JOIN n n1 ON d1 = n1.doc_id
              |      JOIN n n2 ON d2 = n2.doc_id)
              |SELECT CAST(floor(jaccard * 10) AS BIGINT) AS decile,
              |       count(*) AS n_pairs
              |FROM j GROUP BY 1""".stripMargin)),

    // Curation dashboard metric: per-source duplication rate — the
    // fraction of each source's docs involved in a verified near-dup
    // pair (J ≥ 0.5). The number a crawl operator watches per feed:
    // a source whose rate jumps is re-serving templated content.
    // Rides the memoized verified-pair frame (third consumer of the
    // minhash family's one candidate pass); everything after is two
    // source-keyed aggregates and a ≤#sources-row join.
    Q("dedup_rate_by_source",
      (s, dir) => {
        val pairs = minhashPairsCached(s, dir).filter(col("jaccard") >= 0.5)
        val dup = pairs.select(col("d1").as("doc_id"))
          .union(pairs.select(col("d2"))).distinct()
        val d = docs(s, dir).select(col("doc_id"), col("source"))
        val n = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        val nd = d.join(dup, Seq("doc_id"))
          .groupBy(col("source")).agg(count(lit(1)).as("n_dup"))
        n.join(nd, Seq("source"), "left_outer")
          .select(col("source"), col("n_docs"),
            coalesce(col("n_dup"), lit(0L)).as("n_dup"),
            round(coalesce(col("n_dup"), lit(0L)) / col("n_docs"), 6)
              .as("dup_rate"))
      },
      Some(s"""WITH $minhashPairsCte,
              |dup AS (SELECT d1 AS doc_id FROM mh_pairs WHERE jaccard >= 0.5
              |        UNION SELECT d2 FROM mh_pairs WHERE jaccard >= 0.5),
              |srcn AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
              |srcd AS (SELECT d.source, count(*) AS n_dup
              |         FROM documents d JOIN dup USING (doc_id) GROUP BY d.source)
              |SELECT srcn.source, srcn.n_docs,
              |       coalesce(srcd.n_dup, 0) AS n_dup,
              |       round(coalesce(srcd.n_dup, 0) / srcn.n_docs, 6) AS dup_rate
              |FROM srcn LEFT JOIN srcd ON srcn.source = srcd.source""".stripMargin)),

    // INCREMENTAL dedup: verdicts for the newest 20% of the corpus
    // (the delta batch) against everything before it plus itself —
    // the shape every growing corpus actually runs: the base was
    // deduped yesterday, today only the delta needs answering. The
    // plan is delta-scoped end to end: band signatures are computed
    // for the delta, candidates come from joining ONLY delta band
    // keys against the full signature side (at 100 TB the base
    // signatures would be a persisted index — build once, probe per
    // batch; here both sides derive from the same cached minhash
    // frame), and Jaccard verification touches only
    // collision pairs. Work is O(|delta| + collisions), never
    // O(corpus). Result ≡ the full-batch pipeline filtered to pairs
    // whose newer side is in the delta — which is exactly what the
    // oracle replays.
    Q("dedup_incremental",
      (s, dir) => {
        val sh = shingleRowsCached(s, dir)
        val banded = bandedSigs(sh)
        val t = docs(s, dir).agg(expr("(8 * count(1)) div 10").as("t"))
        val delta = banded.crossJoin(broadcast(t))
          .filter(col("doc_id") >= col("t"))
          .select(col("doc_id"), col("band"), col("sig"))
        val cands = banded.as("x").join(delta.as("y"), Seq("band", "sig"))
          .filter(col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
          .distinct()
        jaccardOf(sharedCounts(sh, Some(cands)), sh)
          .filter(col("jaccard") >= 0.5)
          .select(col("d2").as("doc_id"), col("d1").as("dup_of"),
            round(col("jaccard"), 6).as("jaccard"))
      },
      Some(s"""WITH $minhashPairsCte,
              |tct AS (SELECT (8 * count(*)) // 10 AS t FROM documents)
              |SELECT d2 AS doc_id, d1 AS dup_of, round(jaccard, 6) AS jaccard
              |FROM mh_pairs CROSS JOIN tct
              |WHERE jaccard >= 0.5 AND d2 >= t""".stripMargin)),

    // Deterministic corpus sampling: hash-mod sampling is reproducible
    // across runs/engines/cluster sizes (unlike TABLESAMPLE's
    // partition-dependent RNG) — the standard way to carve train/eval
    // slices of a 100 TB corpus. Stratified counts per language.
    Q("corpus_sample",
      (s, dir) => docs(s, dir)
        .withColumn("in_sample",
          portableHash(col("doc_id").cast("string")) % 10 === 0)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("in_sample"), lit(1))).as("n_sampled")),
      Some("""SELECT lang, count(*) AS n_docs,
             |       count(CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 = 0
             |                  THEN 1 END) AS n_sampled
             |FROM documents GROUP BY lang""".stripMargin)),

    // Quality-weighted subsampling (the FineWeb/DCLM move: upsample
    // the high-quality stratum instead of hard-filtering). Each doc's
    // inclusion probability is proportional to its tier's per-mille
    // rate via the SAME portable-hash cell carve as corpus_sample —
    // integer compare against an integer threshold, so the sample is
    // reproducible across runs, engines and cluster sizes, and the
    // gate stays exact (no RNG, no floats). One scan, one hash-keyed
    // aggregation: the shape that holds at 100 TB (tiering is per-row
    // arithmetic; nothing joins or sorts).
    Q("corpus_sample_weighted",
      (s, dir) => {
        val nTok = size(tokens(col("text")))
        val tier = when(nTok >= 40, "high").when(nTok >= 15, "mid")
          .otherwise("low")
        val rate = when(nTok >= 40, 500).when(nTok >= 15, 200).otherwise(50)
        val inS = portableHash(col("doc_id").cast("string")) % 1000 < rate
        docs(s, dir)
          .select(col("lang"), tier.as("tier"),
            nTok.cast("long").as("n_tokens"), inS.as("in_sample"))
          .groupBy(col("lang"), col("tier"))
          .agg(count(lit(1)).as("n_docs"),
            count(when(col("in_sample"), lit(1))).as("n_sampled"),
            sum(when(col("in_sample"), col("n_tokens")).otherwise(lit(0L)))
              .as("tokens_sampled"))
      },
      Some("""WITH t AS (
             |  SELECT lang, len(string_split(trim(text), ' ')) AS n_tokens,
             |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 AS cell
             |  FROM documents),
             |w AS (
             |  SELECT lang,
             |         CASE WHEN n_tokens >= 40 THEN 'high'
             |              WHEN n_tokens >= 15 THEN 'mid' ELSE 'low' END AS tier,
             |         n_tokens,
             |         cell < CASE WHEN n_tokens >= 40 THEN 500
             |                     WHEN n_tokens >= 15 THEN 200 ELSE 50 END AS in_sample
             |  FROM t)
             |SELECT lang, tier, count(*) AS n_docs,
             |       count(CASE WHEN in_sample THEN 1 END) AS n_sampled,
             |       CAST(sum(CASE WHEN in_sample THEN n_tokens ELSE 0 END) AS BIGINT)
             |         AS tokens_sampled
             |FROM w GROUP BY lang, tier""".stripMargin)),

    // EXACT-k weighted sampling without replacement (Efraimidis &
    // Spirtes, IPL '06) under the exact hash gate — the companion the
    // rate-based carve above can't be: rates hit a target in
    // EXPECTATION, while training-budget contracts often need exactly
    // k documents drawn with probability ∝ weight. A-ES keeps the k
    // largest u_i^(1/w_i) for uniform u_i; taking logs and negating,
    // that's the k SMALLEST (−log2 u_i)/w_i — and with u_i =
    // md5-40(doc_id)/2^40, cost_fp = 40·2^20 − log2LinFp(h) is exact
    // nonneg integer arithmetic, so the ranking key
    // (cost_fp · 2^20) div w is engine-portable (nonneg div:
    // truncation ≡ floor — the negative-div trap never opens).
    // Weight = token count: long docs are proportionally likelier,
    // the usual token-budget-aware draw. Plan: one scan, per-row
    // arithmetic, TakeOrderedAndProject top-k — no shuffle beyond the
    // k-row merge, holds at any corpus size.
    Q("corpus_sample_es",
      (s, dir) => {
        val k = 100
        val nTok = size(tokens(col("text"))).cast("long")
        val h = conv(substring(md5(col("doc_id").cast("string")), 1, 10), 16, 10)
          .cast("long")
        docs(s, dir)
          .select(col("doc_id"), nTok.as("n_tokens"), h.as("h"))
          .filter(col("n_tokens") >= 1 && col("h") >= 1)
          .withColumn("cost_sc",
            (lit(40L * (1L << 20)) -
              graft.functions.FixedPointOps.log2LinFp(col("h"))) * lit(1L << 20))
          .withColumn("key_fp", expr("cost_sc div n_tokens"))
          .orderBy(col("key_fp"), col("doc_id")).limit(k)
          .select(col("doc_id"), col("n_tokens"), col("key_fp"))
      },
      Some {
        import graft.functions.FixedPointOps.log2LinFpSql
        s"""WITH t AS (
           |  SELECT doc_id,
           |         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
           |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT AS h
           |  FROM documents),
           |kk AS (SELECT doc_id, n_tokens,
           |              ((${40L * (1L << 20)} - ${log2LinFpSql("h")}) * 1048576)
           |                // n_tokens AS key_fp
           |       FROM t WHERE n_tokens >= 1 AND h >= 1)
           |SELECT doc_id, n_tokens, key_fp FROM kk
           |ORDER BY key_fp, doc_id LIMIT 100""".stripMargin
      }),

    // BM25 lexical retrieval for a fixed query-term set — the lexical
    // half of a retrieval stack next to the ANN family. Determinism
    // discipline for the exact gate: the per-(doc, term) contribution
    // is computed once per row (libm log rounds away at 1e-17 scale,
    // the tfidf precedent), and the per-doc score is assembled by
    // PIVOTING the fixed term list into columns and adding them in
    // ONE fixed expression order — never a float sum() across rows,
    // whose partition-dependent order could flip a last-ulp. Ranking
    // keys are rounded (engine-independent cutoff), the top-k is
    // TakeOrderedAndProject (no global window over the corpus), and
    // the token explode is pruned to the query terms BEFORE any
    // shuffle — per-query state is O(|query terms|), the serve shape.
    Q("bm25_search",
      (s, dir) => bm25Top(s, dir),
      Some(bm25Cte + "\n" +
        """SELECT doc_id, bm25,
          |       row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
          |FROM b ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin)),

    // The SAME top-20 against the PERSISTED postings index
    // (PostingsStore): term-bucketed tf/dl rows + one-row corpus
    // stats, maintained incrementally on ingest; the probe reads ONLY
    // the query terms' bucket files instead of re-tokenizing the
    // corpus (the embed_ann_indexed ≡ embed_ann_ivf recipe, applied
    // to lexical retrieval). Shares bm25_search's oracle text — the
    // two must hash-match.
    Q("bm25_indexed",
      (s, dir) => bm25IndexedTop(s, dir),
      Some(bm25Cte + "\n" +
        """SELECT doc_id, bm25,
          |       row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
          |FROM b ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin)),

    // FIXED-POINT BM25 — the one hash-gated float query without an
    // IEEE determinism argument was bm25_search: its gate rides ln()
    // agreeing bit-for-bit between JVM and DuckDB after round-to-6,
    // which holds today but carries no correctly-rounded guarantee.
    // This variant is integer end to end (the embed_outliers recipe):
    // the idf drops the log for its rational argument —
    // idf_fp = floor(2^20·(N−df+0.5)/(df+0.5)) — a per-term monotone
    // surrogate, and the tf saturation clears denominators exactly:
    //   tf·2.2/(tf + 1.2·(0.25 + 0.75·dl·N/SD))
    //     = 22·tf·SD / (10·tf·SD + 3·SD + 9·dl·N)
    // (SD = Σdl). Every op is BIGINT mul/add/floor-div — deterministic
    // under any partitioning, engine, or merge order, no libm anywhere.
    // THIS is the form to serve at 100 TB: the float variant stays for
    // contrast (classic BM25 ordering), but a determinism-critical
    // pipeline ranks on the fp score. Operand bound: terms are
    // ≤ 22·tf·SD·2^20 — rescale the 2^20 factor down if N·avgdl
    // outgrows ~2^40 (a corpus-constant, checked once at build).
    Q("bm25_search_fp",
      (s, dir) => {
        val d = docs(s, dir)
        val t = tokens(col("text"))
        val dl = d.select(col("doc_id"), size(t).cast("long").as("dl"))
        val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        val tf = d.select(col("doc_id"), explode(t).as("token"))
          .filter(col("token").isin(Bm25Terms: _*))
          .groupBy(col("doc_id"), col("token"))
          .agg(count(lit(1)).as("tf"))
        val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
        val perDoc = tf.join(broadcast(df), Seq("token"))
          .join(dl, Seq("doc_id"))
          .crossJoin(broadcast(stats))
          .withColumn("idf_fp",
            expr("((2 * n_docs - 2 * df + 1) * 1048576) div (2 * df + 1)"))
          .withColumn("tfc_fp",
            expr("(22 * tf * sum_dl * 1048576) div " +
              "(10 * tf * sum_dl + 3 * sum_dl + 9 * dl * n_docs)"))
          .withColumn("contrib", expr("(idf_fp * tfc_fp) div 1048576"))
          .groupBy(col("doc_id"))
          .agg(sum(col("contrib")).as("bm25_fp"))
        perDoc.orderBy(col("bm25_fp").desc, col("doc_id")).limit(20)
          .withColumn("rnk", row_number().over(
            Window.orderBy(col("bm25_fp").desc, col("doc_id"))))
          .select(col("doc_id"), col("bm25_fp"), col("rnk"))
      },
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
             |           FROM documents),
             |dl AS (SELECT doc_id, CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS dl
             |       FROM documents),
             |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             |                 CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
             |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM t
             |       WHERE token IN ('join', 'scan', 'filter') GROUP BY doc_id, token),
             |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
             |c AS (SELECT tf.doc_id,
             |             CAST((((2 * s.n_docs - 2 * df.df + 1) * 1048576) // (2 * df.df + 1))
             |                  * ((22 * tf.tf * s.sum_dl * 1048576)
             |                     // (10 * tf.tf * s.sum_dl + 3 * s.sum_dl + 9 * dl.dl * s.n_docs))
             |                  // 1048576 AS BIGINT) AS contrib
             |      FROM tf JOIN df USING (token) JOIN dl ON tf.doc_id = dl.doc_id
             |      CROSS JOIN stats s),
             |p AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS bm25_fp
             |      FROM c GROUP BY doc_id)
             |SELECT doc_id, bm25_fp,
             |       row_number() OVER (ORDER BY bm25_fp DESC, doc_id) AS rnk
             |FROM p ORDER BY bm25_fp DESC, doc_id LIMIT 20""".stripMargin)),

    // Passage-level retrieval — the RAG serving granularity: the SAME
    // fixed query scored against doc_chunks' sliding windows
    // (PackingQueries.chunkRows — one chunking definition for the
    // index and the oracle) with the fp BM25 algebra, dl = the chunk
    // length and the corpus stats = chunk stats. A long document
    // surfaces its BEST-matching window instead of averaging the
    // query terms over its full length — which is why RAG stacks
    // index chunks, not docs. Integer end to end (chunk_len rides the
    // chunk frame — no per-doc join needed), top-20 (doc, chunk).
    Q("passage_search_fp",
      (s, dir) => {
        val ch = PackingQueries.chunkRows(s, dir)
          .select(col("doc_id"), col("chunk_idx"),
            col("chunk_len").as("dl"), col("chunk_text"))
        val stats = ch.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        val tf = ch.select(col("doc_id"), col("chunk_idx"), col("dl"),
            explode(tokens(col("chunk_text"))).as("token"))
          .filter(col("token").isin(Bm25Terms: _*))
          .groupBy(col("doc_id"), col("chunk_idx"), col("dl"), col("token"))
          .agg(count(lit(1)).as("tf"))
        val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
        tf.join(broadcast(df), Seq("token"))
          .crossJoin(broadcast(stats))
          .withColumn("idf_fp", expr(Bm25IdfFp))
          .withColumn("tfc_fp", expr("(22 * tf * sum_dl * 1048576) div " +
            "(10 * tf * sum_dl + 3 * sum_dl + 9 * dl * n_docs)"))
          .withColumn("contrib", expr("(idf_fp * tfc_fp) div 1048576"))
          .groupBy(col("doc_id"), col("chunk_idx"))
          .agg(sum(col("contrib")).as("score_fp"))
          .orderBy(col("score_fp").desc, col("doc_id"), col("chunk_idx"))
          .limit(20)
          .withColumn("rnk", row_number().over(Window.orderBy(
            col("score_fp").desc, col("doc_id"), col("chunk_idx"))))
          .select(col("doc_id"), col("chunk_idx"), col("score_fp"), col("rnk"))
      },
      Some(s"""WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks,
              |                  CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok
              |           FROM documents),
              |ch0 AS (SELECT doc_id, toks, n_tok,
              |               unnest(range(0, CASE WHEN n_tok > ${PackingQueries.ChunkW}
              |                    THEN (n_tok - ${PackingQueries.ChunkW} + ${PackingQueries.ChunkS - 1}) // ${PackingQueries.ChunkS}
              |                    ELSE 0 END + 1)) AS chunk_idx
              |        FROM t),
              |ch AS (SELECT doc_id, chunk_idx,
              |              least(${PackingQueries.ChunkW}, n_tok - chunk_idx * ${PackingQueries.ChunkS}) AS dl,
              |              list_slice(toks, chunk_idx * ${PackingQueries.ChunkS} + 1,
              |                chunk_idx * ${PackingQueries.ChunkS} +
              |                least(${PackingQueries.ChunkW}, n_tok - chunk_idx * ${PackingQueries.ChunkS})) AS ctoks
              |       FROM ch0),
              |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
              |                 CAST(sum(dl) AS BIGINT) AS sum_dl FROM ch),
              |tf AS (SELECT doc_id, chunk_idx, dl, token, CAST(count(*) AS BIGINT) AS tf
              |       FROM (SELECT doc_id, chunk_idx, dl, unnest(ctoks) AS token FROM ch)
              |       WHERE token IN ('join', 'scan', 'filter')
              |       GROUP BY doc_id, chunk_idx, dl, token),
              |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
              |c AS (SELECT tf.doc_id, tf.chunk_idx,
              |             CAST((((2 * s.n_docs - 2 * df.df + 1) * 1048576) // (2 * df.df + 1))
              |                  * ((22 * tf.tf * s.sum_dl * 1048576)
              |                     // (10 * tf.tf * s.sum_dl + 3 * s.sum_dl + 9 * tf.dl * s.n_docs))
              |                  // 1048576 AS BIGINT) AS contrib
              |      FROM tf JOIN df USING (token) CROSS JOIN stats s),
              |p AS (SELECT doc_id, chunk_idx, CAST(sum(contrib) AS BIGINT) AS score_fp
              |      FROM c GROUP BY doc_id, chunk_idx)
              |SELECT doc_id, chunk_idx, score_fp,
              |       row_number() OVER (ORDER BY score_fp DESC, doc_id, chunk_idx) AS rnk
              |FROM p ORDER BY score_fp DESC, doc_id, chunk_idx LIMIT 20""".stripMargin)),

    // Known-item retrieval evaluation — the IR sanity eval next to
    // embed_ann_recall (ANN) and basket_rec_recall (recsys): each of
    // the 20 sample docs poses its own 3-term SIGNATURE query (top tf,
    // df-then-token tie-break — the terms a user remembering the doc
    // would type), the corpus is ranked with the fixed-point BM25, and
    // the row reports where the doc ranked for its own query. All
    // BIGINT scoring + integer rankings ⇒ full hash gate; the
    // self-rank distribution (1..14 at sf0.1) is the metric — a
    // retrieval stack where known items sink is broken long before a
    // relevance-judged eval exists. Per-query work: the explode is
    // pruned to the ≤60 signature terms before any shuffle.
    Q("bm25_known_item_fp",
      (s, dir) => {
        val (posts, dfa, stats) = bm25FpStoreFrames(s, dir)
        // signature terms of the 20 sample docs: one filtered pass
        // over pre-aggregated postings (no tokenize); checkpointed
        // because the pruned probe below evaluates its key frame twice
        val qterms = posts.filter(col("doc_id") < 20)
          .join(broadcast(dfa), Seq("token"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("doc_id"))
              .orderBy(col("tf").desc, col("df"), col("token"))))
          .filter(col("rn") <= 3)
          .select(col("doc_id").as("qid"), col("token"))
          .localCheckpoint(true)
        // scoring reads ONLY the ≤60 signature terms' bucket files;
        // the qterms join drops same-bucket ride-alongs and attaches
        // the query id; dl rides on the postings rows
        val tfq = graft.sources.PostingsStore.postingsForTerms(s,
            qterms.select(col("token").as("term")), postingsPrefix(s, dir))
          .withColumnRenamed("term", "token")
          .join(broadcast(qterms), Seq("token"))
        val rk = bm25FpContrib(tfq, dfa, stats)
          .groupBy(col("qid"), col("doc_id"))
          .agg(sum(col("contrib")).as("s2"))
          .withColumn("rnk", row_number().over(
            Window.partitionBy(col("qid"))
              .orderBy(col("s2").desc, col("doc_id"))))
        rk.filter(col("qid") === col("doc_id"))
          .select(col("qid"), col("rnk").as("self_rnk"),
            (col("rnk") <= 5).as("hit5"))
      },
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
             |           FROM documents),
             |dl AS (SELECT doc_id, CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS dl
             |       FROM documents),
             |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             |                 CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
             |tfa AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
             |        FROM t GROUP BY doc_id, token),
             |dfa AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tfa GROUP BY token),
             |q AS (SELECT doc_id AS qid, token FROM (
             |        SELECT tfa.doc_id, tfa.token, row_number() OVER (
             |          PARTITION BY tfa.doc_id
             |          ORDER BY tfa.tf DESC, dfa.df, tfa.token) AS rn
             |        FROM tfa JOIN dfa USING (token)
             |        WHERE tfa.doc_id < 20) WHERE rn <= 3),
             |c AS (SELECT q.qid, tfa.doc_id,
             |             CAST((((2 * s.n_docs - 2 * dfa.df + 1) * 1048576) // (2 * dfa.df + 1))
             |                  * ((22 * tfa.tf * s.sum_dl * 1048576)
             |                     // (10 * tfa.tf * s.sum_dl + 3 * s.sum_dl + 9 * dl.dl * s.n_docs))
             |                  // 1048576 AS BIGINT) AS contrib
             |      FROM q JOIN tfa USING (token) JOIN dfa USING (token)
             |      JOIN dl ON tfa.doc_id = dl.doc_id CROSS JOIN stats s),
             |rk AS (SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
             |         ORDER BY CAST(sum(contrib) AS BIGINT) DESC, doc_id) AS rnk
             |       FROM c GROUP BY qid, doc_id)
             |SELECT qid, rnk AS self_rnk, rnk <= 5 AS hit5
             |FROM rk WHERE qid = doc_id""".stripMargin)),

    // Pseudo-relevance feedback (RM3-style two-pass retrieval, Lavrenko
    // & Croft SIGIR '01 lineage) — entirely in the fixed-point BM25
    // algebra, so an ITERATIVE retrieval technique lands under the
    // exact hash gate: pass 1 ranks with the original terms and takes
    // the top-10 as the pseudo-relevant set; expansion terms are the 3
    // highest Σ tf·idf_fp tokens of that set (originals excluded,
    // term-name tie-break); pass 2 re-scores with original terms at
    // weight 2 and expansions at weight 1 (the integer stand-in for
    // RM3's λ-interpolation). Every score is BIGINT end to end
    // (bm25_search_fp's idf/tf surrogates), both SELECTIONS are
    // rounded-free integer rankings, and the expansion frame is a
    // ≤ 6-row broadcast — per-query work after pass 1 is
    // O(|terms₂|-pruned explode), the serve shape.
    Q("bm25_prf_fp",
      (s, dir) => {
        import s.implicits._
        val (posts, dfa, stats) = bm25FpStoreFrames(s, dir)
        def scored(tf: DataFrame): DataFrame =
          bm25FpContrib(tf, dfa, stats)
        // pass 1: only the 3 literal query terms' bucket files
        val pf1 = graft.sources.PostingsStore
          .postingsFor(s, Bm25Terms, postingsPrefix(s, dir))
          .withColumnRenamed("term", "token")
        val r1 = scored(pf1)
          .groupBy(col("doc_id")).agg(sum(col("contrib")).as("s1"))
          .orderBy(col("s1").desc, col("doc_id")).limit(10)
          .select(col("doc_id"))
        // expansion terms: all tokens of the 10 pseudo-relevant docs —
        // one postings scan (pre-aggregated rows, no tokenize)
        val exp3 = posts.join(broadcast(r1), Seq("doc_id"))
          .filter(!col("token").isin(Bm25Terms: _*))
          .join(broadcast(dfa), Seq("token"))
          .crossJoin(broadcast(stats))
          .withColumn("idf_fp", expr(Bm25IdfFp))
          .groupBy(col("token")).agg(sum(col("tf") * col("idf_fp")).as("w"))
          .orderBy(col("w").desc, col("token")).limit(3)
          .select(col("token"))
        // checkpointed: the pruned probe collects its key frame for
        // bucket pruning and re-reads it in the ride-along join
        val terms2 = Bm25Terms.map(q0 => (q0, 2L)).toDF("token", "wt")
          .union(exp3.withColumn("wt", lit(1L)))
          .localCheckpoint(true)
        // pass 2: only the ≤6 weighted terms' bucket files
        val tf2 = graft.sources.PostingsStore.postingsForTerms(s,
            terms2.select(col("token").as("term")), postingsPrefix(s, dir))
          .withColumnRenamed("term", "token")
          .join(broadcast(terms2), Seq("token"))
        scored(tf2)
          .withColumn("wc", col("contrib") * col("wt"))
          .groupBy(col("doc_id")).agg(sum(col("wc")).as("score_fp"))
          .orderBy(col("score_fp").desc, col("doc_id")).limit(20)
          .withColumn("rnk", row_number().over(
            Window.orderBy(col("score_fp").desc, col("doc_id"))))
          .select(col("doc_id"), col("score_fp"), col("rnk"))
      },
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
             |           FROM documents),
             |dl AS (SELECT doc_id, CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS dl
             |       FROM documents),
             |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             |                 CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
             |tfa AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
             |        FROM t GROUP BY doc_id, token),
             |dfa AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tfa GROUP BY token),
             |c1 AS (SELECT tfa.doc_id,
             |              CAST((((2 * s.n_docs - 2 * dfa.df + 1) * 1048576) // (2 * dfa.df + 1))
             |                   * ((22 * tfa.tf * s.sum_dl * 1048576)
             |                      // (10 * tfa.tf * s.sum_dl + 3 * s.sum_dl + 9 * dl.dl * s.n_docs))
             |                   // 1048576 AS BIGINT) AS contrib
             |       FROM tfa JOIN dfa USING (token) JOIN dl ON tfa.doc_id = dl.doc_id
             |       CROSS JOIN stats s
             |       WHERE token IN ('join', 'scan', 'filter')),
             |r1 AS (SELECT doc_id FROM (
             |         SELECT doc_id, row_number() OVER (
             |           ORDER BY CAST(sum(contrib) AS BIGINT) DESC, doc_id) AS rn
             |         FROM c1 GROUP BY doc_id) WHERE rn <= 10),
             |exp3 AS (SELECT token FROM (
             |         SELECT tfa.token, row_number() OVER (ORDER BY
             |             CAST(sum(tfa.tf * (((2 * s.n_docs - 2 * dfa.df + 1) * 1048576)
             |                                // (2 * dfa.df + 1))) AS BIGINT) DESC,
             |             tfa.token) AS rn
             |         FROM tfa JOIN r1 ON tfa.doc_id = r1.doc_id
             |         JOIN dfa USING (token) CROSS JOIN stats s
             |         WHERE token NOT IN ('join', 'scan', 'filter')
             |         GROUP BY tfa.token) WHERE rn <= 3),
             |terms2 AS (SELECT token, 2 AS wt
             |           FROM (VALUES ('join'), ('scan'), ('filter')) v(token)
             |           UNION ALL SELECT token, 1 FROM exp3),
             |c2 AS (SELECT tfa.doc_id,
             |              CAST((((2 * s.n_docs - 2 * dfa.df + 1) * 1048576) // (2 * dfa.df + 1))
             |                   * ((22 * tfa.tf * s.sum_dl * 1048576)
             |                      // (10 * tfa.tf * s.sum_dl + 3 * s.sum_dl + 9 * dl.dl * s.n_docs))
             |                   // 1048576 * terms2.wt AS BIGINT) AS wc
             |       FROM tfa JOIN terms2 USING (token) JOIN dfa USING (token)
             |       JOIN dl ON tfa.doc_id = dl.doc_id CROSS JOIN stats s),
             |p2 AS (SELECT doc_id, CAST(sum(wc) AS BIGINT) AS score_fp
             |       FROM c2 GROUP BY doc_id)
             |SELECT doc_id, score_fp,
             |       row_number() OVER (ORDER BY score_fp DESC, doc_id) AS rnk
             |FROM p2 ORDER BY score_fp DESC, doc_id LIMIT 20""".stripMargin)),

    // Hybrid retrieval: reciprocal-rank fusion of the BM25 list and a
    // cosine ANN list for one query (terms + an embedding) — the
    // two-tower serve pattern. RRF needs only the two rank columns
    // (1/(60+r) in one fixed-order sum, rounded), so the fusion is a
    // 20∪20-row full-outer join whatever the corpus size.
    Q("hybrid_rrf",
      (s, dir) => {
        val lex = bm25Top(s, dir).select(col("doc_id"), col("rnk").as("lex_rnk"))
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        val qv = e.filter(col("vec_id") === 0).select(col("emb").as("qemb"))
        val sims = e.crossJoin(broadcast(qv))
          .filter(col("vec_id") =!= 0)
          .withColumn("sim", round(graft.functions.expressions.CosineSimilarity(
            col("emb"), col("qemb")), 5))
        val vecTop = sims.orderBy(col("sim").desc, col("vec_id")).limit(20)
          .withColumn("vec_rnk", row_number().over(
            Window.orderBy(col("sim").desc, col("vec_id"))))
          .select(col("vec_id").as("doc_id"), col("vec_rnk"))
        val fused = lex.join(vecTop, Seq("doc_id"), "full_outer")
          .withColumn("rrf", round(
            coalesce(lit(1.0) / (lit(60.0) + col("lex_rnk")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60.0) + col("vec_rnk")), lit(0.0)), 6))
        fused.orderBy(col("rrf").desc, col("doc_id")).limit(10)
          .withColumn("rnk", row_number().over(
            Window.orderBy(col("rrf").desc, col("doc_id"))))
          .select(col("doc_id"), col("lex_rnk"), col("vec_rnk"),
            col("rrf"), col("rnk"))
      },
      Some(bm25Cte + ",\n" +
        """lex AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rnk
          |        FROM b ORDER BY bm25 DESC, doc_id LIMIT 20),
          |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
          |qv AS (SELECT emb AS qemb FROM e WHERE vec_id = 0),
          |vs AS (SELECT e.vec_id AS doc_id,
          |              round(list_dot_product(e.emb, q.qemb)
          |                    / (sqrt(list_dot_product(e.emb, e.emb))
          |                       * sqrt(list_dot_product(q.qemb, q.qemb))), 5) AS sim
          |       FROM e CROSS JOIN qv q WHERE e.vec_id <> 0),
          |vec AS (SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS vec_rnk
          |        FROM vs ORDER BY sim DESC, doc_id LIMIT 20),
          |f AS (SELECT coalesce(l.doc_id, v.doc_id) AS doc_id, l.lex_rnk, v.vec_rnk,
          |             round(coalesce(1.0 / (60.0 + l.lex_rnk), 0.0)
          |                   + coalesce(1.0 / (60.0 + v.vec_rnk), 0.0), 6) AS rrf
          |      FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id)
          |SELECT doc_id, lex_rnk, vec_rnk, rrf,
          |       row_number() OVER (ORDER BY rrf DESC, doc_id) AS rnk
          |FROM f ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin)),

    // The END-TO-END SERVING SHAPE: hybrid retrieval where BOTH legs
    // probe persisted indexes — the lexical rank list from the
    // PostingsStore (only the query terms' bucket files) and the
    // vector rank list from the IvfIndexStore cell probe (only the
    // probed cells' bucket files) — fused by reciprocal rank. At
    // 100 TB this query never scans a corpus: its IO is O(#terms +
    // nProbe) bucket files, which is the whole point of building the
    // two stores. Own oracle (the vector leg is the IVF probe, not
    // hybrid_rrf's exact brute force): DuckDB replays both index
    // builds + probes from the raw tables.
    Q("hybrid_rrf_indexed",
      (s, dir) => {
        val lex = bm25IndexedTop(s, dir)
          .select(col("doc_id"), col("rnk").as("lex_rnk"))
        val p = EmbeddingQueries.ivfIndexPrefix(s, dir)
        val q0 = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
          .filter(col("vec_id") === 0)
          .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
        val vecTop = graft.sources.IvfIndexStore
          .topK(s, q0, p, k = 20, nProbe = 2)
          .select(col("neighbor_id").as("doc_id"), col("rnk").as("vec_rnk"))
        val fused = lex.join(vecTop, Seq("doc_id"), "full_outer")
          .withColumn("rrf", round(
            coalesce(lit(1.0) / (lit(60.0) + col("lex_rnk")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60.0) + col("vec_rnk")), lit(0.0)), 6))
        fused.orderBy(col("rrf").desc, col("doc_id")).limit(10)
          .withColumn("rnk", row_number().over(
            Window.orderBy(col("rrf").desc, col("doc_id"))))
          .select(col("doc_id"), col("lex_rnk"), col("vec_rnk"),
            col("rrf"), col("rnk"))
      },
      Some(bm25Cte + ",\n" +
        """lex AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rnk
          |        FROM b ORDER BY bm25 DESC, doc_id LIMIT 20),
          |ev AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
          |piv AS (SELECT vec_id AS pid, emb AS pemb FROM ev WHERE vec_id < 16),
          |a0 AS (SELECT ev.vec_id, ev.emb, p2.pid,
          |              list_dot_product(ev.emb, p2.pemb)
          |                / (sqrt(list_dot_product(ev.emb, ev.emb))
          |                   * sqrt(list_dot_product(p2.pemb, p2.pemb))) AS psim
          |       FROM ev CROSS JOIN piv p2),
          |r0 AS (SELECT *, row_number() OVER (PARTITION BY vec_id
          |                                    ORDER BY psim DESC, pid) AS prn
          |       FROM a0),
          |cells AS (SELECT vec_id AS neighbor_id, emb, pid AS cell
          |          FROM r0 WHERE prn = 1),
          |qp AS (SELECT vec_id AS query_id, emb AS qemb, pid AS cell
          |       FROM r0 WHERE vec_id = 0 AND prn <= 2),
          |pv AS (SELECT qp.query_id, n.neighbor_id,
          |              list_dot_product(qp.qemb, n.emb)
          |                / (sqrt(list_dot_product(qp.qemb, qp.qemb))
          |                   * sqrt(list_dot_product(n.emb, n.emb))) AS sim
          |       FROM qp JOIN cells n
          |         ON qp.cell = n.cell AND n.neighbor_id <> qp.query_id),
          |vec AS (SELECT doc_id, vec_rnk FROM (
          |          SELECT neighbor_id AS doc_id,
          |                 row_number() OVER (ORDER BY sim DESC, neighbor_id) AS vec_rnk
          |          FROM pv) WHERE vec_rnk <= 20),
          |f AS (SELECT coalesce(l.doc_id, v.doc_id) AS doc_id, l.lex_rnk, v.vec_rnk,
          |             round(coalesce(1.0 / (60.0 + l.lex_rnk), 0.0)
          |                   + coalesce(1.0 / (60.0 + v.vec_rnk), 0.0), 6) AS rrf
          |      FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id)
          |SELECT doc_id, lex_rnk, vec_rnk, rrf,
          |       row_number() OVER (ORDER BY rrf DESC, doc_id) AS rnk
          |FROM f ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin)),

    // Winnowing fingerprints (Schleimer et al., SIGMOD '03): the
    // ROLLING-HASH fingerprinting scheme — every window of W=4
    // consecutive 3-gram hashes contributes its minimum, so any shared
    // passage of >= W+2 tokens is guaranteed to share a selected
    // fingerprint, at expected density 2/(W+1). Selection is a window
    // min over the ordered hash sequence: one shuffle on doc_id, no
    // joins — the per-doc fingerprint set a 100 TB plagiarism/overlap
    // sweep stores instead of full shingle sets (2/(W+1) of the grams).
    Q("winnow_fingerprint",
      (s, dir) => {
        val t = tokens(col("text"))
        val sel = winnowSelectCached(s, dir)
        // n_grams is arithmetic (len - 2 on a single-spaced corpus) —
        // no second gram explode just to count them
        val counts = docs(s, dir).filter(size(t) >= 3)
          .select(col("doc_id"), (size(t) - 2).cast("long").as("n_grams"))
        counts.join(
            sel.groupBy(col("doc_id")).agg(count(lit(1)).as("n_selected")),
            Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("n_selected"), lit(0L)).as("n_selected"),
            round(coalesce(col("n_selected"), lit(0L)).cast("double")
              / col("n_grams"), 6).as("density"))
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
             |g AS (SELECT doc_id, u.i AS pos,
             |             ('0x' || substr(md5(array_to_string(list_slice(t, u.i, u.i + 2), ' ')), 1, 15))::BIGINT AS h
             |      FROM tok, unnest(range(1, len(t) - 1)) AS u(i)
             |      WHERE len(t) >= 3),
             |m AS (SELECT doc_id, pos,
             |             min(h) OVER (PARTITION BY doc_id ORDER BY pos
             |                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wm
             |      FROM g),
             |sel AS (SELECT DISTINCT doc_id, wm FROM m WHERE pos >= 4),
             |n AS (SELECT doc_id, len(t) - 2 AS n_grams FROM tok WHERE len(t) >= 3),
             |c AS (SELECT doc_id, count(*) AS n_selected FROM sel GROUP BY doc_id)
             |SELECT n.doc_id, n.n_grams,
             |       coalesce(c.n_selected, 0) AS n_selected,
             |       round(coalesce(c.n_selected, 0) / (1.0 * n.n_grams), 6) AS density
             |FROM n LEFT JOIN c ON n.doc_id = c.doc_id""".stripMargin)),

    // Winnowing candidate pairs: inverted-index equi-join on the
    // SELECTED fingerprints only (2/(W+1) the rows of the full shingle
    // join dedup_ngram_jaccard pays), >= 2 shared fingerprints.
    // Boilerplate ablation first — a fingerprint appearing in > 50
    // docs is template text whose join contribution is quadratic in
    // its document frequency and whose signal is ~zero (the MOSS
    // common-code ablation); dropping it bounds any single
    // fingerprint's pair fan-out. Candidates stay bounded by
    // fingerprint collisions, never doc×doc.
    Q("winnow_candidates",
      (s, dir) => {
        val maxDf = 50
        val byWm = Window.partitionBy(col("wm"))
        val sel = winnowSelectCached(s, dir)
          .withColumn("df", count(lit(1)).over(byWm))
          .filter(col("df") <= maxDf)
          .select(col("doc_id"), col("wm"))
        sel.select(col("doc_id").as("d1"), col("wm"))
          .join(sel.select(col("doc_id").as("d2"), col("wm")), Seq("wm"))
          .filter(col("d1") < col("d2"))
          .groupBy(col("d1"), col("d2"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 2)
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
             |g AS (SELECT doc_id, u.i AS pos,
             |             ('0x' || substr(md5(array_to_string(list_slice(t, u.i, u.i + 2), ' ')), 1, 15))::BIGINT AS h
             |      FROM tok, unnest(range(1, len(t) - 1)) AS u(i)
             |      WHERE len(t) >= 3),
             |m AS (SELECT doc_id, pos,
             |             min(h) OVER (PARTITION BY doc_id ORDER BY pos
             |                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wm
             |      FROM g),
             |sel AS (SELECT DISTINCT doc_id, wm FROM m WHERE pos >= 4),
             |ab AS (SELECT doc_id, wm
             |       FROM (SELECT doc_id, wm, count(*) OVER (PARTITION BY wm) AS df
             |             FROM sel) t
             |       WHERE df <= 50)
             |SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
             |FROM ab a JOIN ab b ON a.wm = b.wm AND a.doc_id < b.doc_id
             |GROUP BY 1, 2
             |HAVING count(*) >= 2""".stripMargin)),

    // Deterministic train/val/test split: hash-bucket each doc into
    // 100 cells, carve 80/10/10 — reproducible across runs, engines
    // and cluster sizes (the property TABLESAMPLE lacks), stable under
    // corpus growth (a doc's split never changes when others arrive).
    // THE way a 100 TB corpus is carved for training.
    Q("corpus_split",
      (s, dir) => {
        val cell = portableHash(col("doc_id").cast("string")) % 100
        docs(s, dir)
          .withColumn("split",
            when(cell < 80, "train").when(cell < 90, "val").otherwise("test"))
          .groupBy(col("lang"), col("split"))
          .agg(count(lit(1)).as("n_docs"))
      },
      Some("""WITH c AS (SELECT lang,
             |                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS cell
             |           FROM documents)
             |SELECT lang,
             |       CASE WHEN cell < 80 THEN 'train'
             |            WHEN cell < 90 THEN 'val' ELSE 'test' END AS split,
             |       count(*) AS n_docs
             |FROM c GROUP BY 1, 2""".stripMargin)),

    // Leakage-safe split: near-duplicates never straddle splits.
    // corpus_split above hashes each doc INDEPENDENTLY, so two
    // jaccard>=0.5 near-dups can land one in train, one in test — the
    // classic eval-contamination path (what decontaminate_overlap
    // detects after the fact, this prevents by construction). The
    // split key is the near-dup CLUSTER's canonical id (the CC labels
    // dedup_clusters already computes; a doc in no cluster is its own
    // key), so an entire cluster moves between splits as one unit.
    // Scale: one left join of docs against the labels frame (≤ docs
    // rows, usually far fewer) + the same hash-cell carve — no new
    // shuffle shape beyond corpus_split's; the CC run is the memoized
    // one the dedup family shares. LeakageSafeSplitSpec pins the
    // invariant itself: zero verified near-dup pairs straddle splits
    // (and measures that the naive split DOES leak on the fixture).
    Q("corpus_split_leakage_safe",
      (s, dir) => {
        val labels = clusterLabels(s, dir)
        val key = coalesce(col("canonical_id"), col("doc_id"))
        val cell = portableHash(key.cast("string")) % 100
        docs(s, dir).join(labels, Seq("doc_id"), "left_outer")
          .withColumn("split",
            when(cell < 80, "train").when(cell < 90, "val").otherwise("test"))
          .groupBy(col("lang"), col("split"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(key).as("n_groups"))
      },
      Some(s"""WITH RECURSIVE $minhashPairsCte,
              |dup AS (SELECT d1, d2 FROM mh_pairs WHERE jaccard >= 0.5),
              |e AS (SELECT d1 AS a, d2 AS b FROM dup
              |      UNION SELECT d2, d1 FROM dup),
              |reach(a, b) AS (
              |  SELECT a, b FROM e
              |  UNION
              |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
              |lab AS (SELECT a AS doc_id, least(a, min(b)) AS canonical_id
              |        FROM reach GROUP BY a),
              |k AS (SELECT d.lang,
              |             coalesce(lab.canonical_id, d.doc_id) AS key,
              |             ('0x' || substr(md5(CAST(coalesce(lab.canonical_id, d.doc_id) AS VARCHAR)), 1, 15))::BIGINT % 100 AS cell
              |      FROM documents d LEFT JOIN lab ON d.doc_id = lab.doc_id)
              |SELECT lang,
              |       CASE WHEN cell < 80 THEN 'train'
              |            WHEN cell < 90 THEN 'val' ELSE 'test' END AS split,
              |       count(*) AS n_docs,
              |       count(DISTINCT key) AS n_groups
              |FROM k GROUP BY 1, 2""".stripMargin)),

    // Corpus mixing to target language weights (the data-mixture step
    // of a training pipeline): the feasible total T = min_l(n_l / w_l)
    // caps the mix at the scarcest stratum, each stratum keeps
    // quota_l = floor(w_l · T) docs, and WHICH docs is deterministic —
    // rank by portable hash within the stratum, keep the lowest ranks.
    // The quota computation runs on the 5-row per-lang count frame (a
    // partition-less window over an already-aggregated tiny frame, not
    // over data). Growth-stable: adding docs to one stratum never
    // evicts a selected doc of another.
    //
    // Scale design: the per-stratum rank is TWO-PHASE (the
    // pack_sequences prefix-sum pattern), never one WindowExec task
    // per stratum. The portable hash's top 6 bits carve each stratum
    // into 64 RANGE cells (range, not pmod — cells must partition the
    // (h, doc_id) rank order); phase 1 ranks within (lang, cell) —
    // O(stratum/64) per task — and phase 2 adds the broadcast prefix
    // of earlier cells' counts (5 langs × 64 cells = 320 rows). Every
    // per-doc stage parallelizes by cell at 5 strata × billions of
    // docs; the only partition-less window rides the 320-row counts
    // frame.
    Q("corpus_mix",
      (s, dir) => {
        val weights = Seq("en" -> 0.4, "de" -> 0.15, "es" -> 0.15,
          "fr" -> 0.15, "zh" -> 0.15)
        val wCol = weights.foldRight(lit(0.0): Column) {
          case ((l, w), els) => when(col("lang") === l, lit(w)).otherwise(els)
        }
        val d = docs(s, dir).select(col("doc_id"), col("lang"))
        val quotas = d.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_l"))
          .withColumn("w", wCol)
          .withColumn("quota", floor(col("w") *
            min(col("n_l").cast("double") / col("w"))
              .over(Window.partitionBy())))
          .select(col("lang"), col("quota"))
        // two-phase rank: cell = top 6 bits of the 60-bit hash (a
        // RANGE partition of the rank order), local rank within
        // (lang, cell), plus the prefix of earlier cells' counts
        val cells = d
          .withColumn("h", portableHash(col("doc_id").cast("string")))
          .withColumn("cell", shiftright(col("h"), 54))
        val localRk = row_number().over(
          Window.partitionBy(col("lang"), col("cell"))
            .orderBy(col("h"), col("doc_id")))
        val prefix = cells.groupBy(col("lang"), col("cell"))
          .agg(count(lit(1)).as("cn"))
          .withColumn("before", coalesce(
            sum(col("cn")).over(Window.partitionBy(col("lang"))
              .orderBy(col("cell"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("lang"), col("cell"), col("before"))
        cells.withColumn("lrk", localRk)
          .join(broadcast(prefix), Seq("lang", "cell"))
          .withColumn("rk", col("lrk") + col("before"))
          .join(broadcast(quotas), Seq("lang"))
          .filter(col("rk") <= col("quota"))
          .select(col("doc_id"), col("lang"))
      },
      Some("""WITH w(lang, wt) AS (VALUES
             |         ('en', CAST(0.4 AS DOUBLE)), ('de', CAST(0.15 AS DOUBLE)),
             |         ('es', CAST(0.15 AS DOUBLE)), ('fr', CAST(0.15 AS DOUBLE)),
             |         ('zh', CAST(0.15 AS DOUBLE))),
             |c AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY 1),
             |q AS (SELECT c.lang,
             |             floor(wt * min(CAST(n_l AS DOUBLE) / wt) OVER ()) AS quota
             |      FROM c JOIN w ON c.lang = w.lang),
             |r AS (SELECT doc_id, lang,
             |             row_number() OVER (PARTITION BY lang
             |               ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
             |                        doc_id) AS rk
             |      FROM documents)
             |SELECT r.doc_id, r.lang
             |FROM r JOIN q ON r.lang = q.lang
             |WHERE rk <= quota""".stripMargin)),

    // Temperature-based source mixing (the pretraining data-mixture
    // step: sample sources ∝ mass^τ so no source dominates and no
    // source starves). τ = 0.5, i.e. weight = sqrt(character mass) —
    // chosen BECAUSE IEEE-754 sqrt is correctly rounded, scaling by
    // 2^20 is exact, and floor is exact, so the fixed-point weights
    // are bit-identical in any binary64 engine and the query stays
    // HASH-GATED (a free-τ pow() would drift by ulps between libms).
    // Quotas over a half-corpus budget use largest-remainder rounding
    // (deterministic, sums exactly to the budget; the one later
    // double — w/W·N — is three correctly-rounded IEEE ops evaluated
    // in the same order by both engines), capped at each source's doc
    // count (τ<1 can award a small source more than it has; the
    // shortfall is documented budget underfill, never silently
    // rebalanced). WHICH docs fill a quota is the portable-hash rank,
    // so membership is reproducible and growth-stable.
    //
    // Scale design: masses/quotas live on the #sources-row frame
    // (partition-less windows over an aggregated tiny frame, the
    // corpus_mix convention); per-doc selection is the same TWO-PHASE
    // rank (64 range cells per source + broadcast prefix) — no
    // per-stratum WindowExec over data, no driver loop. At 100 TB
    // only the broadcast prefix (#sources × 64 rows) and quota frame
    // move to the driver.
    Q("corpus_mix_temperature",
      (s, dir) => {
        val d = docs(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
        val all = Window.partitionBy()
        val quotas = d.groupBy(col("source"))
          .agg(count(lit(1)).as("n_s"), sum(col("n_chars")).as("mass"))
          .withColumn("w",
            floor(sqrt(col("mass").cast("double")) * lit(1048576.0)).cast("long"))
          .withColumn("tw", sum(col("w")).over(all))
          .withColumn("budget",
            expr("sum(n_s) over () div 2"))
          .withColumn("ex", col("w").cast("double") / col("tw").cast("double")
            * col("budget").cast("double"))
          .withColumn("base", floor(col("ex")).cast("long"))
          .withColumn("shortfall", col("budget") - sum(col("base")).over(all))
          .withColumn("rr", row_number().over(
            Window.partitionBy().orderBy((col("ex") - col("base")).desc,
              col("source"))))
          .withColumn("quota", least(
            col("base") + when(col("rr") <= col("shortfall"), 1L).otherwise(0L),
            col("n_s")))
          .select(col("source"), col("quota"))
        val cells = d
          .withColumn("h", portableHash(col("doc_id").cast("string")))
          .withColumn("cell", shiftright(col("h"), 54))
        val localRk = row_number().over(
          Window.partitionBy(col("source"), col("cell"))
            .orderBy(col("h"), col("doc_id")))
        val prefix = cells.groupBy(col("source"), col("cell"))
          .agg(count(lit(1)).as("cn"))
          .withColumn("before", coalesce(
            sum(col("cn")).over(Window.partitionBy(col("source"))
              .orderBy(col("cell"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("source"), col("cell"), col("before"))
        cells.withColumn("lrk", localRk)
          .join(broadcast(prefix), Seq("source", "cell"))
          .withColumn("rk", col("lrk") + col("before"))
          .join(broadcast(quotas), Seq("source"))
          .filter(col("rk") <= col("quota"))
          .select(col("doc_id"), col("source"))
      },
      Some("""WITH m AS (SELECT source, count(*) AS n_s,
             |                  CAST(sum(n_chars) AS BIGINT) AS mass
             |           FROM documents GROUP BY 1),
             |wts AS (SELECT source, n_s,
             |               CAST(floor(sqrt(CAST(mass AS DOUBLE)) * 1048576.0) AS BIGINT) AS w
             |        FROM m),
             |t AS (SELECT source, n_s, w,
             |             CAST(sum(w) OVER () AS BIGINT) AS tw,
             |             CAST(sum(n_s) OVER () AS BIGINT) // 2 AS budget
             |      FROM wts),
             |e AS (SELECT source, n_s, budget,
             |             CAST(w AS DOUBLE) / CAST(tw AS DOUBLE)
             |               * CAST(budget AS DOUBLE) AS ex
             |      FROM t),
             |b AS (SELECT source, n_s, budget,
             |             CAST(floor(ex) AS BIGINT) AS base, ex FROM e),
             |sh2 AS (SELECT source, n_s, base, ex,
             |               budget - CAST(sum(base) OVER () AS BIGINT) AS shortfall,
             |               row_number() OVER (ORDER BY ex - base DESC, source) AS rr
             |        FROM b),
             |q AS (SELECT source,
             |             least(base + CASE WHEN rr <= shortfall THEN 1 ELSE 0 END,
             |                   n_s) AS quota
             |      FROM sh2),
             |r AS (SELECT doc_id, source,
             |             row_number() OVER (PARTITION BY source
             |               ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
             |                        doc_id) AS rk
             |      FROM documents)
             |SELECT r.doc_id, r.source
             |FROM r JOIN q ON r.source = q.source
             |WHERE rk <= quota""".stripMargin)),

    // SimHash: 32-bit signature over the token multiset; docs sharing
    // a signature are near-dup candidates. The signature is the native
    // fused expression (graft.functions.expressions.SimHash) — the HOF
    // transform+aggregate form it replaces ran interpreted
    // (CodegenFallback) and was the slowest projection in the bench;
    // bit-parity between the two forms is asserted in SimHashSpec.
    Q("dedup_simhash",
      (s, dir) => {
        val w = Window.partitionBy(col("simhash"))
        docs(s, dir)
          .select(col("doc_id"),
            graft.functions.expressions.SimHash(tokens(col("text")), SimhashBits)
              .as("simhash"))
          .withColumn("n_same_sig", count(lit(1)).over(w))
      },
      Some {
        val terms = (0 until SimhashBits).map { b =>
          s"(CASE WHEN list_sum(list_transform(hl, h -> ((h >> $b) % 2) * 2 - 1)) > 0 THEN ${1L << b} ELSE 0 END)"
        }.mkString("\n         + ")
        s"""WITH hs AS (SELECT doc_id,
           |                   list_transform(string_split(trim(text), ' '),
           |                                  x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hl
           |            FROM documents),
           |sig AS (SELECT doc_id,
           |         $terms AS simhash
           |FROM hs)
           |SELECT doc_id, simhash, count(*) OVER (PARTITION BY simhash) AS n_same_sig
           |FROM sig""".stripMargin
      }),

    // Count-Min point-frequency sketch, fully under the hash gate —
    // the one sketch family whose ESTIMATES the oracle reproduces
    // bit-for-bit, not bound-checks: counters are exact integer sums
    // per (row, cell), the merge is elementwise addition (partition-
    // order-free), and the row hashes are the portable md5 convention,
    // so DuckDB rebuilds the whole 4×256 counter matrix with one
    // GROUP BY and takes the same min-of-rows lookup
    // (CmsOps.rowHash ≡ portableHash(v || ':' || r) — JVM/SQL parity
    // asserted in CountMinSpec). md5 costs more per update than
    // xxhash64; that is the price of the oracle, and why the
    // PRODUCTION distinct-count sketches (HLL family) stay on
    // xxhash64 + bound checks instead.
    //
    // Scale: the sketch is 8 KiB regardless of cardinality — the
    // partial aggregate never spills where an exact groupBy carries
    // the vocabulary through the shuffle; estimates then answer point
    // lookups (here: every token the exact count puts at ≥100, so
    // overestimation — CMS never underestimates — is visible to the
    // gate as estimate ≥ exact with equality off-collision).
    Q("token_freq_cms",
      (s, dir) => {
        val tok = docs(s, dir).select(explode(tokens(col("text"))).as("t"))
        val sketch = tok.agg(
          graft.functions.expressions.CountMinAgg(col("t")).as("cms"))
        val cand = tok.groupBy(col("t")).agg(count(lit(1)).as("exact_n"))
          .filter(col("exact_n") >= 100)
        cand.join(broadcast(sketch)) // ONE-row broadcast (tfidf scalar shape)
          .select(col("t").as("token"), col("exact_n"),
            graft.functions.expressions.CmsEstimate(col("cms"), col("t"))
              .as("cms_estimate"))
      },
      Some("""WITH tok AS (SELECT unnest(string_split(trim(text), ' ')) AS t
             |            FROM documents),
             |cand AS (SELECT t, count(*) AS exact_n
             |         FROM tok GROUP BY 1 HAVING count(*) >= 100),
             |cells AS (SELECT r,
             |                 ('0x' || substr(md5(t || ':' || CAST(r AS VARCHAR)), 1, 15))::BIGINT % 256 AS c,
             |                 CAST(count(*) AS BIGINT) AS n
             |          FROM tok, (SELECT unnest(range(0, 4)) AS r)
             |          GROUP BY 1, 2),
             |probe AS (SELECT t, exact_n, r,
             |                 ('0x' || substr(md5(t || ':' || CAST(r AS VARCHAR)), 1, 15))::BIGINT % 256 AS c
             |          FROM cand, (SELECT unnest(range(0, 4)) AS r))
             |SELECT p.t AS token, p.exact_n,
             |       min(coalesce(cells.n, 0)) AS cms_estimate
             |FROM probe p LEFT JOIN cells ON p.r = cells.r AND p.c = cells.c
             |GROUP BY 1, 2""".stripMargin)),

    // Heavy hitters: tokens above 0.5% corpus frequency via the
    // two-pass sketch-then-verify shape. Pass 1 is a Misra–Gries
    // summary (O(capacity) state per partition, mergeable — never a
    // |vocabulary|-sized partial aggregate); pass 2 recounts ONLY the
    // returned candidates exactly (broadcast semi-join) and applies
    // the integer threshold n·200 > N. MG guarantees every item above
    // N/(capacity+1) survives pass 1, and 200 < capacity+1 = 201, so
    // the candidate set provably covers the threshold — the final
    // result is EXACT and the oracle is a plain GROUP BY ... HAVING.
    Q("heavy_hitter_tokens",
      (s, dir) => {
        val t = docs(s, dir)
          .select(explode(tokens(col("text"))).as("token"))
        val n = t.agg(count(lit(1)).as("total"))
        val cands = t
          .agg(graft.functions.expressions.MisraGriesAgg(col("token"), 200).as("cs"))
          .select(explode(col("cs")).as("token"))
        t.join(broadcast(cands), Seq("token"), "left_semi")
          .groupBy(col("token"))
          .agg(count(lit(1)).as("n_occurrences"))
          .crossJoin(broadcast(n))
          .filter(col("n_occurrences") * 200 > col("total"))
          .select(col("token"), col("n_occurrences"),
            round(col("n_occurrences").cast("double") /
              col("total").cast("double"), 6).as("share"))
      },
      Some("""WITH t AS (SELECT unnest(string_split(trim(text), ' ')) AS token
             |           FROM documents),
             |n AS (SELECT count(*) AS total FROM t)
             |SELECT token, count(*) AS n_occurrences,
             |       round(CAST(count(*) AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share
             |FROM t, n
             |GROUP BY token, total
             |HAVING count(*) * 200 > total""".stripMargin)),

    // Train/eval decontamination: flag training docs sharing word
    // n-grams with the held-out set (the GPT-3/PaLM-style overlap
    // check; doc_id % 10 == 0 stands in for the eval split). Reuses
    // the SAME cached distinct-shingle frame as the dedup family —
    // the eval grams collapse to a DISTINCT set first, so the join is
    // train-grams ⨝ eval-gram-set on the gram key (shuffle on gram,
    // never doc×doc), and the per-doc rollup counts hits exactly.
    // Counts are integers end to end — no float tolerance in the gate.
    Q("decontaminate_overlap",
      (s, dir) => {
        val sh = shingleRowsCached(s, dir)
        val evalGrams = sh.filter(col("doc_id") % 10 === 0)
          .select(col("s")).distinct().withColumn("hit", lit(1))
        sh.filter(col("doc_id") % 10 =!= 0)
          .join(evalGrams, Seq("s"), "left_outer")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("total_grams"),
            count(col("hit")).as("shared_grams"))
          .withColumn("contaminated", col("shared_grams") >= 3)
      },
      Some(s"""WITH $shingleCte,
              |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0),
              |tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 10 <> 0)
              |SELECT tr.doc_id, count(*) AS total_grams,
              |       count(ev.s) AS shared_grams,
              |       count(ev.s) >= 3 AS contaminated
              |FROM tr LEFT JOIN ev ON tr.s = ev.s
              |GROUP BY tr.doc_id""".stripMargin)),

    // Decontamination, 100 TB shape: the benchmark/eval gram set is
    // tiny and static next to the training corpus, so instead of
    // shuffling EVERY train gram into the confirm join (what
    // decontaminate_overlap pays), build a Bloom filter of the eval
    // grams' portable hashes ONCE (driver literal, O(bits) —
    // bloom_semi_join's codegen-friendly shape) and prune the train
    // gram stream at the scan: only grams the bloom admits (true hits
    // + ~FPR of the stream) reach the shuffle. Bloom has no false
    // negatives and the exact gram join confirms every candidate, so
    // the answer is IDENTICAL to the exact query — same oracle —
    // while the shuffle shrinks from corpus-sized to benchmark-sized.
    // total_grams comes from a join-free per-doc rollup of the same
    // cached frame.
    Q("decontaminate_bloom",
      (s, dir) => {
        val sh = shingleRowsCached(s, dir)
        val ev = sh.filter(col("doc_id") % 10 === 0)
          .select(col("s"), col("h")).distinct()
        val bloomBytes = ev.agg(
          graft.functions.expressions.BloomFilterAgg(col("h")).as("bf"))
          .head().getAs[Array[Byte]](0)
        val train = sh.filter(col("doc_id") % 10 =!= 0)
        val totals = train.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("total_grams"))
        val shared = train
          .filter(graft.functions.expressions.BloomMightContain(
            lit(bloomBytes), col("h")))
          .join(ev.select(col("s")), Seq("s"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("shared_grams"))
        totals.join(shared, Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("total_grams"),
            coalesce(col("shared_grams"), lit(0L)).as("shared_grams"))
          .withColumn("contaminated", col("shared_grams") >= 3)
      },
      Some(s"""WITH $shingleCte,
              |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0),
              |tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 10 <> 0)
              |SELECT tr.doc_id, count(*) AS total_grams,
              |       count(ev.s) AS shared_grams,
              |       count(ev.s) >= 3 AS contaminated
              |FROM tr LEFT JOIN ev ON tr.s = ev.s
              |GROUP BY tr.doc_id""".stripMargin)),

    // Repetition quality signals (the Gopher-report family, adapted to
    // the single-line corpus): duplicate-token fraction and the share
    // of the text covered by its single most frequent word 2-gram.
    // r21: ALL of a doc's bigrams live in its own row pre-explode, so
    // the top-bigram count is a per-row reduction — sort the bigram
    // array and take the longest equal-run (max run length over a
    // sorted multiset ≡ the max group count the former explode +
    // groupBy(doc_id, gram) + max(c) computed, exact integers both
    // ways). The rewrite deletes BOTH exchanges: the former plan
    // shuffled the full exploded bigram frame twice (4-col composite
    // key, then the per-doc max); this one is a single map-side scan,
    // zero Exchange (plans/r21/repetition_stats_*.txt). Rounded
    // ratios of exact integer counts keep the gate bit-stable.
    Q("repetition_stats",
      (s, dir) => {
        val t = tokens(col("text"))
        val sorted = array_sort(orderedShingles(t, 2))
        val topC = aggregate(
          sorted,
          struct(lit(null).cast("string").as("prev"),
            lit(0L).as("run"), lit(0L).as("best")),
          (acc, x) => {
            val run = when(x === acc("prev"), acc("run") + 1).otherwise(lit(1L))
            struct(x.as("prev"), run.as("run"),
              greatest(acc("best"), run).as("best"))
          },
          acc => acc("best"))
        docs(s, dir).filter(size(t) >= 2)
          .select(col("doc_id"), size(t).as("n_tok"),
            size(array_distinct(t)).as("n_distinct"), topC.as("top_c"))
          .select(col("doc_id"),
            round(lit(1) - col("n_distinct").cast("double") / col("n_tok").cast("double"), 6)
              .as("dup_token_frac"),
            round(col("top_c").cast("double") / (col("n_tok") - lit(1)).cast("double"), 6)
              .as("top_bigram_frac"),
            (col("top_c") * 5 > col("n_tok") - lit(1)).as("is_repetitive"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
             |           FROM documents WHERE len(string_split(trim(text), ' ')) >= 2),
             |g AS (SELECT doc_id, len(toks) AS n_tok, len(list_distinct(toks)) AS n_distinct,
             |             unnest(list_transform(range(1, len(toks)),
             |               i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS gram
             |      FROM t),
             |c AS (SELECT doc_id, n_tok, n_distinct, gram, count(*) AS c
             |      FROM g GROUP BY 1, 2, 3, 4)
             |SELECT doc_id,
             |       round(1 - CAST(n_distinct AS DOUBLE) / CAST(n_tok AS DOUBLE), 6) AS dup_token_frac,
             |       round(CAST(max(c) AS DOUBLE) / CAST(n_tok - 1 AS DOUBLE), 6) AS top_bigram_frac,
             |       (max(c) * 5 > n_tok - 1) AS is_repetitive
             |FROM c GROUP BY doc_id, n_tok, n_distinct""".stripMargin)),

    // Pairwise source-vocabulary overlap via KMV theta sketches: "how
    // much does crawl B duplicate crawl A's vocabulary?" answered
    // WITHOUT a token-level join. One pass builds an O(k) sketch per
    // source (map-side partials, associative merge); the overlap
    // matrix is then pure arithmetic over the #sources-row sketch
    // frame — at 100 TB the expensive scan happens once per corpus
    // slice and every pairwise question afterwards is free. HLL can't
    // do this: distinct-intersection via inclusion-exclusion inherits
    // the UNION's absolute error and collapses for small overlaps;
    // KMV estimates the overlap from the shared uniform sample
    // directly (Beyer et al., SIGMOD'07). xxhash64 estimates are
    // engine-specific, so the registered output is the gated CHECK:
    // the exact vocab sizes and pairwise shared-vocab counts (DuckDB
    // recomputes them from the same tokenization) plus the 4σ-bound
    // verdict from KmvSketchSpec (stderr ≈ 1/√(k−2) ≈ 6.3% at k=256;
    // intersection error scales with the larger set's sampling
    // noise), asserted by the oracle as its constant claim. The exact
    // token-level join here is the CHECK's cost, not the operator's —
    // the sketch path stays the 100 TB serving shape, and the spec
    // keeps pinning estimate determinism and canonical bytes.
    Q("source_overlap_kmv",
      (s, dir) => {
        val est = sourceOverlap(sourceSketches(docs(s, dir)))
        // vocab-sized (|distinct tokens| × #sources); materialized once
        // so the exact-check side costs ONE corpus tokenize instead of
        // re-running scan+explode+distinct under each of its three
        // consumers (vocab counts + both self-join legs, r18 review)
        val v = docs(s, dir)
          .select(col("source"), explode(tokens(col("text"))).as("token"))
          .distinct()
          .localCheckpoint(true)
        val vocab = v.groupBy(col("source")).agg(count(lit(1)).as("n"))
        val shared = v.select(col("source").as("source_a"), col("token"))
          .join(v.select(col("source").as("source_b"), col("token")),
            Seq("token"))
          .filter(col("source_a") < col("source_b"))
          .groupBy(col("source_a"), col("source_b"))
          .agg(count(lit(1)).as("sh"))
        est
          .join(vocab.select(col("source").as("source_a"),
            col("n").as("va")), Seq("source_a"))
          .join(vocab.select(col("source").as("source_b"),
            col("n").as("vb")), Seq("source_b"))
          .join(shared, Seq("source_a", "source_b"), "left_outer")
          .select(col("source_a"), col("source_b"),
            col("va").as("exact_vocab_a"), col("vb").as("exact_vocab_b"),
            coalesce(col("sh"), lit(0L)).as("exact_shared_vocab"),
            (abs(col("est_vocab_a") - col("va")) <= col("va") * 0.25 &&
             abs(col("est_vocab_b") - col("vb")) <= col("vb") * 0.25 &&
             abs(col("est_shared_vocab") - coalesce(col("sh"), lit(0L)))
               .cast("double") <= greatest(col("va"), col("vb")) * 0.25
                 + coalesce(col("sh"), lit(0L)) * 0.25)
              .as("within_bound"))
      },
      Some("""WITH tok AS (SELECT DISTINCT source, t FROM (
             |          SELECT source, unnest(string_split(trim(text), ' ')) AS t
             |          FROM documents)),
             |v AS (SELECT source, CAST(count(*) AS BIGINT) AS n
             |      FROM tok GROUP BY source),
             |pr AS (SELECT a.source AS source_a, b.source AS source_b,
             |              a.n AS exact_vocab_a, b.n AS exact_vocab_b
             |       FROM v a JOIN v b ON a.source < b.source),
             |sh AS (SELECT ta.source AS source_a, tb.source AS source_b,
             |              CAST(count(*) AS BIGINT) AS sh
             |       FROM tok ta JOIN tok tb
             |         ON ta.t = tb.t AND ta.source < tb.source
             |       GROUP BY 1, 2)
             |SELECT pr.source_a, pr.source_b, pr.exact_vocab_a,
             |       pr.exact_vocab_b,
             |       CAST(coalesce(sh.sh, 0) AS BIGINT) AS exact_shared_vocab,
             |       TRUE AS within_bound
             |FROM pr LEFT JOIN sh ON pr.source_a = sh.source_a
             |                    AND pr.source_b = sh.source_b""".stripMargin)),

    // The SAME overlap matrix under the EXACT hash gate — the
    // token_freq_cms recipe applied to the set-operation sketch
    // family: hashes are portable md5-40 (DuckDB rebuilds the
    // identical sketch with a GROUP BY + min-k window) and the
    // estimators use integer floor division in the 2^40 hash space
    // ((k−1)·2^40 // θ_hash), so sketch bytes AND estimates are
    // bit-reproducible across engines. k=256 like the fast path; the
    // xxhash64 variant above stays as the production path (cheaper
    // per update), this one proves the family end to end.
    Q("source_overlap_kmv_md5",
      (s, dir) => {
        val sk = docs(s, dir)
          .select(col("source"), explode(tokens(col("text"))).as("token"))
          .groupBy(col("source"))
          .agg(graft.functions.expressions.KmvSketchBuildMd5(col("token"), 256)
            .as("sk"))
        val a = sk.select(col("source").as("source_a"), col("sk").as("sk_a"))
        val b = sk.select(col("source").as("source_b"), col("sk").as("sk_b"))
        a.join(broadcast(b), col("source_a") < col("source_b"))
          .select(col("source_a"), col("source_b"),
            graft.functions.expressions.KmvEstimateFp(col("sk_a")).as("est_vocab_a"),
            graft.functions.expressions.KmvEstimateFp(col("sk_b")).as("est_vocab_b"),
            graft.functions.expressions.KmvIntersectFp(col("sk_a"), col("sk_b"))
              .as("est_shared_vocab"))
      },
      Some("""WITH tok AS (SELECT source, unnest(string_split(trim(text), ' ')) AS t
             |            FROM documents),
             |h AS (SELECT DISTINCT source, ('0x' || substr(md5(t), 1, 10))::BIGINT AS h
             |      FROM tok),
             |r AS (SELECT source, h,
             |             row_number() OVER (PARTITION BY source ORDER BY h) AS rn
             |      FROM h),
             |sk AS (SELECT source, h FROM r WHERE rn <= 256),
             |st AS (SELECT source, count(*) AS n,
             |              CASE WHEN count(*) >= 256 THEN max(h)
             |                   ELSE 1099511627776 END AS th
             |       FROM sk GROUP BY source),
             |pr AS (SELECT a.source AS source_a, b.source AS source_b,
             |              CASE WHEN a.n < 256 THEN a.n
             |                   ELSE (255 * 1099511627776) // a.th END AS est_vocab_a,
             |              CASE WHEN b.n < 256 THEN b.n
             |                   ELSE (255 * 1099511627776) // b.th END AS est_vocab_b,
             |              least(a.th, b.th) AS tstar
             |       FROM st a JOIN st b ON a.source < b.source),
             |sh AS (SELECT sa.source AS source_a, sb.source AS source_b,
             |              pr.tstar, count(*) AS shared
             |       FROM sk sa
             |       JOIN sk sb ON sa.h = sb.h AND sa.source < sb.source
             |       JOIN pr ON pr.source_a = sa.source AND pr.source_b = sb.source
             |       WHERE sa.h < pr.tstar
             |       GROUP BY sa.source, sb.source, pr.tstar)
             |SELECT pr.source_a, pr.source_b, pr.est_vocab_a, pr.est_vocab_b,
             |       CAST((coalesce(sh.shared, 0) * 1099511627776) // pr.tstar AS BIGINT)
             |         AS est_shared_vocab
             |FROM pr LEFT JOIN sh
             |  ON pr.source_a = sh.source_a AND pr.source_b = sh.source_b""".stripMargin)),

    // Model-based quality scoring: train a logistic-regression scorer
    // to imitate the rule gate (`text_quality`'s is_quality) from
    // generic features — the distillation shape GPT-3/CCNet-class
    // pipelines use (hand rules bootstrap labels, the learned linear
    // scorer generalizes and emits a graded score instead of a hard
    // AND). Training is in-engine (operators/LogisticRegression):
    // mean-gradient steps, each ONE distributed pass over the
    // localCheckpoint'd feature frame with a ≤4-row-per-partition
    // gradient exchange. The rule is an AND of three halfspaces (not
    // exactly linear), so the interesting output is AGREEMENT — and
    // because float gradient order leaves per-doc predictions
    // deterministic only to ~ulp, the registered output is the gated
    // CHECK over the per-doc frame ([[qualityClassifierFrame]]):
    // doc count and rule-positive count (both exactly recomputed by
    // DuckDB — the rule's three halfspaces are integer comparisons,
    // 2d>n ∧ n≥10 ∧ 10·st<3·n, the quality_classifier_fp oracle's ft
    // CTE), plus the ≥80% agreement verdict the oracle asserts as its
    // constant claim (spec-measured ≥85% on the fixtures — a one-doc
    // ulp flip moves the fraction by 1/n_docs, nowhere near the
    // floor). LogisticRegressionSpec still pins the per-doc frame.
    Q("quality_classifier",
      (s, dir) => qualityClassifierFrame(s, dir)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("rule_quality").cast("long")).as("n_rule_quality"),
          sum(col("agrees").cast("long")).as("agree_cnt"))
        .select(col("n_docs"), col("n_rule_quality"),
          (col("agree_cnt") >= col("n_docs") * 0.8)
            .as("meets_agreement_floor")),
      Some("""WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS t
             |             FROM documents),
             |ft AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n,
             |              CAST(len(list_distinct(t)) AS BIGINT) AS d,
             |              CAST(len(list_filter(t,
             |                x -> list_contains(['the','a','and','of'], x))) AS BIGINT) AS st
             |       FROM tok)
             |SELECT CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(count(CASE WHEN 2 * d > n AND n >= 10 AND 10 * st < 3 * n
             |                       THEN 1 END) AS BIGINT) AS n_rule_quality,
             |       TRUE AS meets_agreement_floor
             |FROM ft""".stripMargin)),

    // The classifier's determinism gap CLOSED: the same
    // rule-bootstrapped quality model trained in exact integer fixed
    // point (LogisticRegression.trainFp — hard-sigmoid PWL activation,
    // arithmetic-shift divisions, shift-based learning rate), so the
    // training TRAJECTORY is bit-identical under any partitioning and
    // the DuckDB oracle replays all 5 gradient steps as unrolled CTE
    // layers (the bpe_merges treatment applied to gradient descent).
    // Features are integer ratios at 2^20 (TTR, stopword rate, capped
    // length); the float twin above stays as the production-rate
    // contrast. 5 steps of lr≈4 reach the same agreement regime the
    // float model reaches (spec-asserted ≥ 80% on the fixtures).
    Q("quality_classifier_fp",
      (s, dir) => {
        val S = graft.operators.LogisticRegression.FpS
        val t = tokens(col("text"))
        val feats = docs(s, dir)
          .select(col("doc_id"), size(t).cast("long").as("n"),
            size(array_distinct(t)).cast("long").as("d"),
            markerHits(t, LangMarkers.head._2).cast("long").as("st"))
          .filter(col("n") >= 1)
          .select(col("doc_id"),
            array(lit(S), expr(s"d * $S div n"), expr(s"st * $S div n"),
              expr(s"least(n, 100) * $S div 100")).as("xfp"),
            when(col("d") * 2 > col("n") && col("n") >= 10
              && col("st") * 10 < col("n") * 3, lit(S)).otherwise(lit(0L))
              .as("yfp"))
        val w = graft.operators.LogisticRegression.trainFp(feats, 4, 5)
        graft.operators.LogisticRegression.scoresFp(feats, w)
          .select(col("doc_id"), (col("yfp") === S).as("rule_quality"),
            col("predicted"),
            (col("predicted") === (col("yfp") === S)).as("agrees"))
      },
      Some {
        val S = 1048576L
        def step(k: Int): String =
          s"""z$k AS (SELECT f.doc_id, f.x, f.y,
             |             CAST(sum(f.x[w.j] * w.w) AS BIGINT) >> 20 AS z
             |       FROM fx f CROSS JOIN w${k - 1} w GROUP BY 1, 2, 3),
             |e$k AS (SELECT doc_id, x,
             |             greatest(0, least($S, ${S / 2} + (z >> 2))) - y AS err
             |       FROM z$k),
             |g$k AS (SELECT t.j, CAST(sum(e.x[t.j] * e.err) AS BIGINT) AS g
             |       FROM e$k e CROSS JOIN range(1, 5) t(j) GROUP BY t.j),
             |w$k AS (SELECT w.j, w.w - (g.g >> nn.sh) AS w
             |       FROM w${k - 1} w JOIN g$k g ON w.j = g.j CROSS JOIN nn)""".stripMargin
        s"""WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
           |ft AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n,
           |              CAST(len(list_distinct(t)) AS BIGINT) AS d,
           |              CAST(len(list_filter(t,
           |                x -> list_contains(['the','a','and','of'], x))) AS BIGINT) AS st
           |       FROM tok WHERE len(t) >= 1),
           |fx AS (SELECT doc_id,
           |              [CAST($S AS BIGINT), (d * $S) // n, (st * $S) // n,
           |               (least(n, 100) * $S) // 100] AS x,
           |              CAST(CASE WHEN 2 * d > n AND n >= 10 AND 10 * st < 3 * n
           |                   THEN $S ELSE 0 END AS BIGINT) AS y
           |       FROM ft),
           |nn AS (SELECT CASE WHEN count(*) = 1 THEN 18
           |                   ELSE 18 + length(bin(count(*) - 1)) END AS sh
           |       FROM fx),
           |w0 AS (SELECT unnest(range(1, 5)) AS j, CAST(0 AS BIGINT) AS w),
           |${step(1)},
           |${step(2)},
           |${step(3)},
           |${step(4)},
           |${step(5)},
           |zf AS (SELECT f.doc_id, f.y,
           |              CAST(sum(f.x[w.j] * w.w) AS BIGINT) >> 20 AS z
           |       FROM fx f CROSS JOIN w5 w GROUP BY 1, 2),
           |pf AS (SELECT doc_id, y,
           |              greatest(0, least($S, ${S / 2} + (z >> 2))) AS p
           |       FROM zf)
           |SELECT doc_id, y = $S AS rule_quality,
           |       p >= ${S / 2} AS predicted,
           |       (p >= ${S / 2}) = (y = $S) AS agrees
           |FROM pf""".stripMargin
      }),

    // DSIR-shaped data selection (Xie et al., NeurIPS '23): score each
    // document by how target-like its hashed-token distribution is —
    // here target = the English slice, raw = the whole corpus. Tokens
    // hash into 4096 buckets (the hashed-n-gram trick that makes the
    // estimator corpus-size-free); each bucket's weight is the
    // target/raw frequency ratio in 1e-6 fixed point, and a doc's
    // importance is the token-count-weighted mean of its buckets'
    // weights. Integer arithmetic end to end (one BIGINT div per
    // bucket and per doc) — bit-stable across engines, no libm. Scale
    // shape: the weight table is ≤4096 rows broadcast; the corpus
    // pays one explode and two hash-partitioned count aggregates, so
    // the plan is Zipf-safe and identical at 100 TB.
    Q("importance_weights",
      (s, dir) => {
        val nBuckets = 4096
        val scale = 1000000L
        val tk = docs(s, dir)
          .select(col("doc_id"), col("lang"),
            explode(tokens(col("text"))).as("token"))
          .filter(length(col("token")) > 0)
          .withColumn("b", portableHash(col("token")) % nBuckets)
        val src = tk.groupBy(col("b")).agg(count(lit(1)).as("s_n"))
        val tgt = tk.filter(col("lang") === "en")
          .groupBy(col("b")).agg(count(lit(1)).as("t_n"))
        val w = src.join(tgt, Seq("b"), "left_outer")
          .select(col("b"),
            expr(s"(coalesce(t_n, 0L) * ${scale}L) div s_n").as("w_fp"))
        val dc = tk.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
        dc.join(broadcast(w), Seq("b"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n_tokens"),
            sum(col("c") * col("w_fp")).as("wsum"))
          .select(col("doc_id"), col("n_tokens"),
            expr("wsum div n_tokens").as("weight_fp"))
      },
      Some("""WITH tk AS (SELECT doc_id, lang, token,
             |                   ('0x' || substr(md5(token), 1, 15))::BIGINT % 4096 AS b
             |            FROM (SELECT doc_id, lang,
             |                         unnest(string_split(trim(text), ' ')) AS token
             |                  FROM documents)
             |            WHERE length(token) > 0),
             |src AS (SELECT b, count(*) AS s_n FROM tk GROUP BY b),
             |tgt AS (SELECT b, count(*) AS t_n FROM tk WHERE lang = 'en' GROUP BY b),
             |w AS (SELECT src.b, (coalesce(t_n, 0) * 1000000) // s_n AS w_fp
             |      FROM src LEFT JOIN tgt ON src.b = tgt.b),
             |dc AS (SELECT doc_id, b, count(*) AS c FROM tk GROUP BY doc_id, b)
             |SELECT dc.doc_id,
             |       CAST(sum(dc.c) AS BIGINT) AS n_tokens,
             |       CAST(CAST(sum(dc.c * w.w_fp) AS BIGINT) // CAST(sum(dc.c) AS BIGINT)
             |            AS BIGINT) AS weight_fp
             |FROM dc JOIN w ON dc.b = w.b
             |GROUP BY dc.doc_id""".stripMargin)),

    // Triangle census of the near-dup similarity graph: how cohesive
    // are the duplicate neighborhoods? (A clique-ish cluster is one
    // template family; a triangle-free star is one doc quoted by many
    // unrelated ones — different curation action.) Edges are the
    // df-capped discriminative-shingle pairs at integer-exact Jaccard
    // >= 0.2 (5·shared >= union — no float boundary in the graph
    // definition). The census itself is operators.Triangles: the
    // degree-ordered wedge join, every triangle found once at its
    // (degree, id)-minimum vertex, wedge fan-out bounded by out-
    // degree <= sqrt(|E|) — see the operator's scaladoc; TrianglesSpec
    // pins it on closed-form graphs + a brute-force sweep.
    Q("similarity_triangles",
      (s, dir) => {
        // sweep-only induced-subgraph sampling (GRAFT_TRI_SAMPLE_MOD):
        // the ENGINE's wedge plan handles the 10× fixture in seconds,
        // but the deliberately-naive DuckDB oracle's all-pairs
        // shared-shingle join outgrows memory there. Restricting BOTH
        // sides to the hash-sampled document subset (induced subgraph
        // — df caps and degrees recomputed on the sample) keeps the
        // oracle feasible at sf1_scaled, so the census stays
        // hash-gated at 10× instead of skipped. Unset (production/
        // driver gate) = full graph, unchanged.
        // r21 (guide §2.4): the UNSAMPLED graph's df-capped postings
        // and shared-counts are exactly the [[ngramShared]] memo —
        // recomputing them here re-ran the full inverted self-join per
        // sweep. The sampled sweep shape (GRAFT_TRI_SAMPLE_MOD set)
        // must recompute on the induced subgraph (df caps and degrees
        // change under sampling) and is untouched.
        val (ab, shared) = TriSampleMod match {
          case None => ngramShared(s, dir)
          case Some(k) =>
            val sh = shingleRowsCached(s, dir)
              .filter(portableHash(col("doc_id").cast("string")) % k === 0)
            val keep = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
              .filter(col("df") <= JaccardMaxDf)
            val abS = sh.join(keep, Seq("s")).select(col("doc_id"), col("s"))
            (abS, sharedCounts(abS, None))
        }
        val sizes = ab.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val e = shared
          .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), Seq("d1"))
          .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), Seq("d2"))
          .filter(col("shared") * 5 >= col("n1") + col("n2") - col("shared"))
          .select(col("d1"), col("d2"))
        graft.operators.Triangles.census(e)
          .withColumnRenamed("v", "doc_id")
      },
      Some {
        // mirror the engine's sweep-only sampling in the oracle: both
        // sides read the same env, so the compare is exact either way
        val (shSrc, sampleCte) = TriSampleMod.fold(("sh", "")) { k =>
          ("shs",
            s""",
               |shs AS (SELECT * FROM sh
               |        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               |              % $k = 0)""".stripMargin)
        }
        s"""WITH $shingleCte$sampleCte,
           |keep AS (SELECT s FROM $shSrc GROUP BY s HAVING count(*) <= 50),
           |ab AS (SELECT doc_id, $shSrc.s FROM $shSrc JOIN keep ON $shSrc.s = keep.s),
           |n AS (SELECT doc_id, count(*) AS n FROM ab GROUP BY doc_id),
           |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
           |          FROM ab a JOIN ab b ON a.s = b.s AND a.doc_id < b.doc_id
           |          GROUP BY 1, 2),
           |e AS (SELECT d1, d2 FROM pairs
           |      JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
           |      WHERE shared * 5 >= n1.n + n2.n - shared),
              |dg AS (SELECT v, count(*) AS deg
              |       FROM (SELECT d1 AS v FROM e UNION ALL SELECT d2 FROM e)
              |       GROUP BY v),
              |o AS (SELECT CASE WHEN g1.deg <= g2.deg THEN d1 ELSE d2 END AS src,
              |             CASE WHEN g1.deg <= g2.deg THEN d2 ELSE d1 END AS dst,
              |             CASE WHEN g1.deg <= g2.deg THEN g2.deg ELSE g1.deg END AS ddeg
              |      FROM e JOIN dg g1 ON e.d1 = g1.v JOIN dg g2 ON e.d2 = g2.v),
              |tr AS (SELECT o1.src AS x, o1.dst AS y, o2.dst AS z
              |       FROM o o1
              |       JOIN o o2 ON o1.src = o2.src
              |            AND (o1.ddeg < o2.ddeg
              |                 OR (o1.ddeg = o2.ddeg AND o1.dst < o2.dst))
              |       JOIN o o3 ON o3.src = o1.dst AND o3.dst = o2.dst),
              |tc AS (SELECT v, count(*) AS tri
              |       FROM (SELECT x AS v FROM tr
              |             UNION ALL SELECT y FROM tr
              |             UNION ALL SELECT z FROM tr)
              |       GROUP BY v)
              |SELECT dg.v AS doc_id, dg.deg AS degree,
              |       CAST(coalesce(tc.tri, 0) AS BIGINT) AS n_triangles,
              |       CASE WHEN dg.deg >= 2
              |            THEN CAST(2 * coalesce(tc.tri, 0) AS DOUBLE) /
              |                 CAST(dg.deg * (dg.deg - 1) AS DOUBLE)
              |            ELSE 0.0 END AS lcc
              |FROM dg LEFT JOIN tc ON dg.v = tc.v""".stripMargin
      }),

    // Exact substring-span dedup: maximal >= 8-token spans repeated
    // anywhere in the corpus, via gram-hash bucketing + a per-doc
    // gaps-and-islands merge — the distributed stand-in for the
    // suffix-array ExactSubstr pass. Algorithm + scale rationale:
    // operators/SubstringDedup.scala.
    Q("dedup_substring_spans",
      (s, dir) => graft.operators.SubstringDedup.spans(docs(s, dir)),
      Some("""WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
             |gr AS (SELECT doc_id, u.i AS pos,
             |              array_to_string(list_slice(t, u.i, u.i + 7), ' ') AS g
             |       FROM tok, unnest(range(1, len(t) - 6)) AS u(i)
             |       WHERE len(t) >= 8),
             |dup AS (SELECT g FROM gr GROUP BY g HAVING count(*) >= 2),
             |hit AS (SELECT doc_id, pos AS s, pos + 7 AS e
             |        FROM gr JOIN dup USING (g)),
             |m AS (SELECT doc_id, s, e,
             |             max(e) OVER (PARTITION BY doc_id ORDER BY s
             |                          ROWS BETWEEN UNBOUNDED PRECEDING
             |                          AND 1 PRECEDING) AS pme
             |      FROM hit),
             |isl AS (SELECT doc_id, s, e,
             |               sum(CASE WHEN pme IS NULL OR s > pme + 1
             |                        THEN 1 ELSE 0 END)
             |                 OVER (PARTITION BY doc_id ORDER BY s) AS island
             |        FROM m)
             |SELECT doc_id, min(s) AS span_start, max(e) AS span_end,
             |       max(e) - min(s) + 1 AS span_tokens
             |FROM isl GROUP BY doc_id, island""".stripMargin))
  )
}
