package graft.queries

import graft.Memo
import graft.functions.FixedPointOps._
import graft.operators.NgramLm
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Count-based language-model scoring as corpus-curation queries (the
  * CCNet move: an n-gram LM trained on a trusted slice scores every
  * candidate document; high mean surprisal ⇒ boilerplate / gibberish /
  * wrong-language, filtered, down-weighted or curriculum-ordered
  * before training). Engine side is [[graft.operators.NgramLm]];
  * everything is integer fixed point under the exact hash gate —
  * DuckDB replays train AND score.
  */
object LmQueries extends QueryModule {

  /** Keep threshold for the filter column: docs whose mean bigram
    * surprisal is below ≈4.89 bits (5130000 at 2^20 scale) are
    * "kept". Calibrated so the fixture corpus splits both ways at
    * sf0.01 AND sf0.1 (medians 5145662 / 5126322 — the QualityQueries
    * discipline: a filter that only ever says yes tests nothing). */
  private val KeptBelowBitsFp = 5130000L

  /** Curriculum tier cuts (2^20 fixed point): easy < 5110000 ≈ 4.873
    * bits ≤ mid < 5150000 ≈ 4.911 bits ≤ hard. Calibrated so all
    * three tiers are populated at sf0.01, sf0.1 and the sf1 sweep
    * (score quantiles are stable across scale — BENCHNOTES). */
  private val EasyBelowFp = 5110000L
  private val MidBelowFp = 5150000L

  /** PERSISTED-store prefixes for the two LM count sets (path-keyed,
    * catalog-identifier-safe — the postingsPrefixName recipe). Counts
    * are corpus-derived, so a per-session retrain is pure waste
    * (VERDICT r15 #1: the in-session train showed 1.5-41 s across
    * runs); a completed build left on disk by an earlier session
    * adopts in O(1) catalog ops instead. */
  private[graft] def lmTrustedPrefixName(dir: String): String =
    "lmt_" + java.lang.Integer.toHexString(dir.hashCode) + "_"
  private[graft] def lmFullPrefixName(dir: String): String =
    "lmf_" + java.lang.Integer.toHexString(dir.hashCode) + "_"

  /** Build-or-adopt the persisted count stores for one training slice
    * — the postingsPrefix recipe verbatim: StoreSentinel gates on the
    * corpus signature, a matching completed build adopts, anything
    * else (missing, partial, different corpus) pays one full train
    * via [[graft.streaming.LmCountsStream]] and writes the sentinel
    * LAST. Returns the prefix. */
  private def lmStorePrefix(s: SparkSession, dir: String, prefix: String,
                            slice: DataFrame => DataFrame): String = {
    val lm = graft.streaming.LmCountsStream
    graft.sources.StoreSentinel.buildOrAdopt(s, prefix, dir, "documents.parquet",
        lm.adopt, lm.drop) {
      lm.init(s, prefix)
      lm.upsertBatch(s, slice(Tables.documents(s, dir)), prefix)
    }
  }
  private[graft] def lmTrustedStore(s: SparkSession, dir: String): String =
    lmStorePrefix(s, dir, lmTrustedPrefixName(dir),
      _.filter(col("doc_id") % 5 =!= 0))
  private[graft] def lmFullStore(s: SparkSession, dir: String): String =
    lmStorePrefix(s, dir, lmFullPrefixName(dir), identity)

  private def dropCounts(prefix: String => String)(s: SparkSession, dir: String): Unit =
    graft.sources.StoreSentinel.dropStore(s, prefix(dir), graft.streaming.LmCountsStream.drop)

  /** Session-scoped memo of the LM trained on the trusted
    * doc_id % 5 != 0 slice — the count frames come from the PERSISTED
    * store (built once per corpus, adopted across sessions) and both
    * LM queries read them (train-then-apply, the bpeMergesCached
    * shape). The frames are cached: the curriculum query reads them
    * for the whole corpus and the filter query for the held-out
    * slice, and uncached each probe would re-scan the store. */
  private val trustedLm = memo("lm_trusted", Seq("documents.parquet"), warm = true,
      dropStore = dropCounts(lmTrustedPrefixName)) { (s, dir) =>
    val c = graft.streaming.LmCountsStream.readCounts(s, lmTrustedStore(s, dir))
    NgramLm.Counts(Memo.cache(c.bigrams), Memo.cache(c.contexts),
      Memo.cache(c.unigrams), Memo.cache(c.totals))
  }

  /** Session-scoped memo of the FULL-corpus count frames (the PMI
    * collocation query needs corpus-wide statistics, not the trusted
    * slice). Same store + cache discipline as [[trustedLm]]; contexts
    * stays uncached (only the PMI query's store build writes it, no
    * registry query reads it twice). */
  private val fullLm = memo("lm_full", Seq("documents.parquet"), warm = true,
      dropStore = dropCounts(lmFullPrefixName)) { (s, dir) =>
    val c = graft.streaming.LmCountsStream.readCounts(s, lmFullStore(s, dir))
    NgramLm.Counts(Memo.cache(c.bigrams), c.contexts,
      Memo.cache(c.unigrams), Memo.cache(c.totals))
  }

  /** Collocation keep thresholds: support ≥ 5 occurrences and PMI ≥
    * 0.125 bits (131072 at 2^20 scale). Calibrated discriminating at
    * sf0.01 (268 of 900 candidate bigrams kept) AND sf0.1 (31 of 927);
    * the 10× key-shifted sweep fixture is a known artifact here — its
    * per-copy token suffixing shrinks every word's relative frequency
    * 10× while pair support stays, lifting all PMI by ~log2(10), so at
    * target/sf1_scaled the PMI cut keeps everything (support still
    * filters). */
  private val MinPairCount = 5L
  private val PmiKeepFp = 131072L

  /** Sweep-only threshold shift for the PMI cut, read from
    * `GRAFT_PMI_OFFSET_FP` (fp-2^20 units; default 0 = production
    * behavior). The 10× key-shifted sweep fixture lifts every PMI by
    * ~log2(10) (see above), so the unshifted cut stops discriminating
    * there — setting the offset to round(log2(10)·2^20) = 3483294
    * restores the calibrated selectivity and lets the full DuckDB
    * hash gate run at target/sf1_scaled instead of skipping the
    * query. Applied identically to the Spark filter AND the oracle
    * SQL (both read the same process env), so the compare stays
    * engine-exact at any offset. */
  private val PmiOffsetFp: Long =
    // a non-default value only takes effect under GRAFT_SWEEP_MODE=1
    // (any other session throws at first touch — SweepKnobs): engine
    // and oracle both read it, so no hash gate could catch a stray
    // env var silently shifting the PMI cut (VERDICT r15 #5)
    SweepKnobs.gate("GRAFT_PMI_OFFSET_FP",
      sys.env.get("GRAFT_PMI_OFFSET_FP").map(_.toLong).filter(_ != 0L),
      "collocations_pmi cut is shifted, NOT production output")
      .getOrElse(0L)
  private def pmiCutFp: Long = PmiKeepFp + PmiOffsetFp

  /** DuckDB replay of trustedLm + scoring of the docs selected by
    * `evalFilter` (a SQL predicate over the bigram rows' `e.doc_id`):
    * CTE chain ending in `p(doc_id, n_bigrams, bits_fp)`. Single
    * source of truth for every LM oracle. */
  private def lmScoreCte(evalFilter: String): String = {
    def lg(x: String) = log2LinFpSql(x)
    s"""tok AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
       |bg AS (SELECT doc_id,
       |              unnest(list_transform(range(1, len(t)),
       |                     i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS bg
       |       FROM tok WHERE len(t) >= 2),
       |w AS (SELECT doc_id, split_part(bg, ' ', 1) AS w1,
       |             split_part(bg, ' ', 2) AS w2 FROM bg),
       |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
       |        FROM w WHERE doc_id % 5 <> 0 GROUP BY 1, 2),
       |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
       |uni AS (SELECT unnest(t) AS token FROM tok WHERE doc_id % 5 <> 0),
       |c2 AS (SELECT token, CAST(count(*) AS BIGINT) AS c2 FROM uni GROUP BY 1),
       |tot AS (SELECT CAST(sum(c2) AS BIGINT) AS n_tok FROM c2),
       |sc AS (SELECT e.doc_id,
       |              CASE WHEN c12.c12 IS NOT NULL
       |                     THEN ${lg("c1.c1")} - ${lg("c12.c12")}
       |                   WHEN c2.c2 IS NOT NULL
       |                     THEN ${lg("4 * t.n_tok")} - ${lg("c2.c2")}
       |                   ELSE ${NgramLm.OovBitsFp} END AS s
       |       FROM w e
       |       LEFT JOIN c12 ON e.w1 = c12.w1 AND e.w2 = c12.w2
       |       LEFT JOIN c1 ON e.w1 = c1.w1
       |       LEFT JOIN c2 ON e.w2 = c2.token
       |       CROSS JOIN tot t
       |       WHERE $evalFilter),
       |p AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |             CAST(sum(s) // count(*) AS BIGINT) AS bits_fp
       |      FROM sc GROUP BY doc_id)""".stripMargin
  }

  override def all: Seq[Q] = Seq(

    // Stupid-backoff bigram LM, trained on the doc_id % 5 != 0 slice,
    // scoring the held-out % 5 == 0 slice — the quality-filter serve
    // shape. Mean per-doc surprisal in 2^20 fixed point: counts are
    // BIGINT, the log is the exact bin()-based linear-log2 surrogate
    // (FixedPointOps.log2LinFp), the backoff constant is a power of
    // two, so the whole pipeline is deterministic integer arithmetic —
    // hash-gated from birth. Plan shape: two count aggregations
    // (map-side combined), three equi-joins on token keys, a one-row
    // broadcast of N, an order-free integer per-doc sum. No windows,
    // no floats, no driver state — holds at 100 TB where the count
    // frames persist once (LmCountsStream's BucketedUpsert stores by
    // token key) and scoring probes them per batch.
    Q("lm_perplexity_fp",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        NgramLm.score(d.filter(col("doc_id") % 5 === 0), trustedLm(s, dir))
          .withColumn("kept", col("bits_fp") < lit(KeptBelowBitsFp))
      },
      Some(s"""WITH ${lmScoreCte("e.doc_id % 5 = 0")}
           |SELECT doc_id, n_bigrams, bits_fp,
           |       bits_fp < $KeptBelowBitsFp AS kept FROM p""".stripMargin)),

    // LM-scored CURRICULUM tiering: the whole corpus bucketed into
    // easy/mid/hard difficulty tiers by mean surprisal under the
    // trusted-slice LM, reported per (lang, tier) with document and
    // token mass — the frame a curriculum schedule (easy-first
    // ordering, anti-curriculum mixes, tier-weighted sampling) is
    // planned from. Fixed integer tier cuts, NOT rank/ntile (a global
    // rank would need a corpus-wide sort; the cuts make tiering a
    // per-row projection that composes with the one scoring pass).
    // Docs with < 2 tokens have no bigrams and sit outside the
    // curriculum (no score exists — both engines drop them).
    Q("corpus_curriculum",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val scored = NgramLm.score(d, trustedLm(s, dir))
        val tier = when(col("bits_fp") < EasyBelowFp, "easy")
          .when(col("bits_fp") < MidBelowFp, "mid").otherwise("hard")
        scored
          .join(d.select(col("doc_id"), col("lang"),
            size(graft.functions.TextOps.tokens(col("text")))
              .cast("long").as("n_tokens")), Seq("doc_id"))
          .select(col("lang"), tier.as("tier"), col("n_tokens"))
          .groupBy(col("lang"), col("tier"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("sum_tokens"))
      },
      Some(s"""WITH ${lmScoreCte("TRUE")},
           |t2 AS (SELECT p.doc_id,
           |              CASE WHEN p.bits_fp < $EasyBelowFp THEN 'easy'
           |                   WHEN p.bits_fp < $MidBelowFp THEN 'mid'
           |                   ELSE 'hard' END AS tier,
           |              d.lang,
           |              CAST(len(string_split(trim(d.text), ' ')) AS BIGINT)
           |                AS n_tokens
           |       FROM p JOIN documents d ON p.doc_id = d.doc_id)
           |SELECT lang, tier, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
           |FROM t2 GROUP BY lang, tier""".stripMargin)),

    // PMI collocations (Church & Hanks, CL '90): bigrams whose
    // observed co-occurrence beats the independence expectation —
    // pmi = log2(c12·N / (u1·u2)) — with a support floor, the
    // classic multi-word-expression miner (phrase vocabularies for
    // tokenizers, stop-phrase lists, NER gazetteer seeds). Entirely on
    // the memoized full-corpus count frames (one bigram + one unigram
    // aggregation shared with any other full-corpus LM consumer), then
    // two token-keyed equi-joins sized |distinct bigrams with c12≥5| —
    // Zipf-small — and a one-row broadcast of N. The log is the exact
    // bin()-based surrogate, so the whole score is integer arithmetic
    // under the hash gate; no global sort (the keep set is a filter,
    // not a top-k — rank client-side or feed corpus_curriculum-style
    // tiering).
    Q("collocations_pmi_fp",
      (s, dir) => {
        val c = fullLm(s, dir)
        c.bigrams.filter(col("c12") >= MinPairCount)
          .join(c.unigrams.select(col("token").as("w1"), col("c2").as("u1")),
            Seq("w1"))
          .join(c.unigrams.select(col("token").as("w2"), col("c2").as("u2")),
            Seq("w2"))
          .crossJoin(broadcast(c.totals))
          .select(col("w1"), col("w2"), col("c12"),
            (log2LinFp(col("c12")) + log2LinFp(col("n_tok"))
              - log2LinFp(col("u1")) - log2LinFp(col("u2"))).as("pmi_fp"))
          .filter(col("pmi_fp") >= pmiCutFp)
      },
      Some {
        def lg(x: String) = log2LinFpSql(x)
        s"""WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
           |bg AS (SELECT unnest(list_transform(range(1, len(t)),
           |              i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS bg
           |       FROM tok WHERE len(t) >= 2),
           |w AS (SELECT split_part(bg, ' ', 1) AS w1,
           |             split_part(bg, ' ', 2) AS w2 FROM bg),
           |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
           |        FROM w GROUP BY 1, 2),
           |uni AS (SELECT unnest(t) AS token FROM tok),
           |c2 AS (SELECT token, CAST(count(*) AS BIGINT) AS c2
           |       FROM uni GROUP BY 1),
           |tot AS (SELECT CAST(sum(c2) AS BIGINT) AS n_tok FROM c2),
           |p AS (SELECT c12.w1, c12.w2, c12.c12,
           |             ${lg("c12.c12")} + ${lg("t.n_tok")}
           |               - ${lg("u1.c2")} - ${lg("u2.c2")} AS pmi_fp
           |      FROM c12
           |      JOIN c2 u1 ON c12.w1 = u1.token
           |      JOIN c2 u2 ON c12.w2 = u2.token
           |      CROSS JOIN tot t
           |      WHERE c12.c12 >= $MinPairCount)
           |SELECT w1, w2, c12, pmi_fp FROM p
           |WHERE pmi_fp >= $pmiCutFp""".stripMargin
      })
  )
}
