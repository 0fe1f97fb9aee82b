package graft.queries

import graft.functions.TextOps._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data assembly operators over `documents`: sequence packing
  * (the GPT-style concat-and-chunk step that turns a deduped corpus
  * into fixed-length training sequences), sliding-window chunking (the
  * RAG/embedding-index step), and PII redaction (the compliance filter
  * every web-scale corpus passes through before training).
  *
  * Scale design notes:
  *  - `pack_sequences` needs a GLOBAL token offset per document — an
  *    inherently sequential prefix sum. A bare `Window.orderBy` would
  *    move the whole corpus to one partition, so it is computed as the
  *    classic two-phase distributed prefix sum instead: range-partition
  *    by doc_id (disjoint ordered key ranges), partition-local cumsum
  *    via a window keyed on the partition id, then add the total of all
  *    earlier partitions from a #partitions-row broadcast frame whose
  *    running sum is computed on the DRIVER (`prefixFrame`). Every
  *    distributed stage is O(corpus/partitions); nothing — not even
  *    the totals frame — passes through a partition-less window.
  *  - `doc_chunks` is a pure projection + bounded explode (≤ n/stride
  *    chunks per doc) — embarrassingly parallel.
  *  - `pii_redaction` is a per-row regex projection (codegen'd
  *    RegExpReplace/RegExpCount) — no shuffle at all. The driver
  *    fixtures carry no real PII, so the query PLANTS a deterministic
  *    synthetic contact line per document before redacting; the point
  *    under test is the redaction plumbing (shared-dialect regexes,
  *    exact string parity via md5), not the fixture content.
  */
object PackingQueries extends QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)

  /** Tokens per training sequence for `pack_sequences`. */
  private val Cap = 512

  /** Token budget for `token_budget_select` (selects a proper subset at
    * bites from sf0.001 up). */
  private val Budget = 20000L

  /** Per-source document cap for `source_cap`. */
  private val SrcCap = 10

  /** Hash cells for the two-phase per-source top-K (`source_cap`). */
  private val CapCells = 64

  /** Integer quality score shared by both curation queries: unique-token
    * ratio in fixed-point millionths. Integer div on BIGINTs is exact
    * and engine-portable (a double ratio would hash-diverge); n_tok >= 1
    * always (split of a trimmed empty string is ['']). */
  private def scoreCols: Seq[Column] = Seq(
    col("doc_id"), col("source"),
    size(tokens(col("text"))).cast("long").as("n_tok"),
    size(array_distinct(tokens(col("text")))).cast("long").as("n_uniq"))

  private val ScoreExpr = "(1000000 * n_uniq) div n_tok"

  private def withScore(d: DataFrame): DataFrame = d
    .select(scoreCols: _*)
    .withColumn("score", expr(ScoreExpr))

  /** One-scan curation base for the assemble queries: score AND the
    * content hash projected map-side in a single pass over
    * `documents`, so the exact-dedup window shuffles fixed-width rows
    * (doc_id, source, n_tok, n_uniq, score, h) instead of raw text —
    * at corpus scale the dedup exchange shrinks from O(corpus bytes)
    * to O(rows × ~60 B). Scoring runs on every doc (duplicates and
    * the eval split included) rather than on post-filter survivors;
    * that map-side CPU on to-be-dropped rows is the price of never
    * scanning `documents` twice nor joining two corpus-sized frames
    * back on doc_id (the pre-r17 assemble_provenance shape). Score is
    * a pure function of text, so WHERE it is computed cannot change
    * any hash-gated result. */
  private[graft] def withScoreH(d: DataFrame): DataFrame = d
    .select(scoreCols :+ md5(col("text")).as("h"): _*)
    .withColumn("score", expr(ScoreExpr))
    .withColumn("cid", min(col("doc_id")).over(Window.partitionBy(col("h"))))

  private val scoreCte =
    """s AS (SELECT doc_id, source,
      |             CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok,
      |             CAST(len(list_distinct(string_split(trim(text), ' '))) AS BIGINT) AS n_uniq,
      |             (1000000 * CAST(len(list_distinct(string_split(trim(text), ' '))) AS BIGINT))
      |               // CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS score
      |      FROM documents)""".stripMargin

  /** Quality floor for `corpus_assemble` (median-ish on the fixture —
    * the gate drops roughly half the candidates at every SF). */
  private val QMin = 450000L

  /** Two-phase per-source top-K on a scored frame (see `source_cap`).
    * Input needs (source, doc_id, score); keeps input columns + `rk`. */
  private def capPerSource(scored: DataFrame): DataFrame = {
    val cell = portableHash(col("doc_id").cast("string")) % CapCells
    val local = Window.partitionBy(col("source"), col("cell"))
      .orderBy(col("score").desc, col("doc_id"))
    val global = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("cell", cell)
      .withColumn("rk_cell", row_number().over(local))
      .filter(col("rk_cell") <= SrcCap)
      .withColumn("rk", row_number().over(global))
      .filter(col("rk") <= SrcCap)
      .drop("cell", "rk_cell")
      .withColumn("rk", col("rk").cast("long"))
  }

  /** The two-phase primitives now live in `operators.TwoPhase` (they
    * grew more callers: the exact distributed ntile under
    * rfm_segments / revenue_pareto rides the same recipe). Four
    * production queries here ride the frozen exchange
    * (pack_sequences, pack_sequences_bpe, corpus_shard,
    * token_budget_select) — see TwoPhase.rangeParted's scaladoc for
    * the AQE branch-consistency bug it fixes and the localCheckpoint
    * fault-tolerance trade. */
  private def rangeParted(df: DataFrame, orderCols: Column*): DataFrame =
    graft.operators.TwoPhase.rangeParted(df, orderCols: _*)

  private def prefixFrame(parted: DataFrame, weight: Column): DataFrame =
    graft.operators.TwoPhase.prefixFrame(parted, weight)

  /** Two-phase greedy token-budget prefix on a scored frame (see
    * `token_budget_select`). Input needs (doc_id, score, n_tok); keeps
    * input columns + inclusive `cum_tokens`, filtered to the budget. */
  private def budgetSelect(scored: DataFrame): DataFrame = {
    val parted = rangeParted(scored, col("score").desc, col("doc_id"))
    val local = parted.withColumn("cum_local",
      sum(col("n_tok")).over(Window.partitionBy(col("pid"))
        .orderBy(col("score").desc, col("doc_id"))))
    local.join(broadcast(prefixFrame(parted, sum(col("n_tok")))), Seq("pid"))
      .withColumn("cum_tokens", col("cum_local") + col("before"))
      .filter(col("cum_tokens") <= Budget)
      .drop("pid", "cum_local")
  }

  /** Window / stride (in tokens) for `doc_chunks` — 16-token overlap. */
  private[queries] val ChunkW = 64
  private[queries] val ChunkS = 48

  /** The doc_chunks frame `(doc_id, chunk_idx, chunk_start, chunk_len,
    * chunk_text)` — factored so passage-level retrieval
    * (TextQueries.passage_search_fp) scores EXACTLY the chunking the
    * oracled doc_chunks query defines. */
  private[queries] def chunkRows(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("chunk_idx", explode(expr(
        s"sequence(0L, CASE WHEN n_tok > $ChunkW " +
          s"THEN (n_tok - $ChunkW + ${ChunkS - 1}) div $ChunkS ELSE 0L END)")))
      .withColumn("chunk_start", col("chunk_idx") * ChunkS)
      .withColumn("chunk_len",
        least(lit(ChunkW.toLong), col("n_tok") - col("chunk_start")))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_start"), col("chunk_len"),
        array_join(slice(col("toks"),
          (col("chunk_start") + 1).cast("int"), col("chunk_len").cast("int")), " ")
          .as("chunk_text"))

  /** Epochs / output shards for `corpus_shard`. */
  private val Epochs = 2
  private val NShards = 8

  /** Encode a document frame's DISTINCT words with a merge table and
    * freeze + measure the result (the vocabulary-granularity recipe:
    * the sequential merge loop runs once per distinct word; see
    * Bpe.freezeVocab). */
  private def encodeWords(s: SparkSession, d: DataFrame,
      merges: Seq[graft.operators.Bpe.Merge]): (DataFrame, Long) =
    graft.operators.Bpe.freezeVocab(
      graft.operators.Bpe.wordSegments(s, d, merges)
        .withColumn("nw", size(col("syms")).cast("long")))

  /** The doc_id-ordered SYMBOL stream of a document frame: one row
    * per encoded symbol as `(doc_id, off, sym)`, where `off` is the
    * symbol's 0-based offset in the frame-wide concatenation of all
    * documents in doc_id order. Everything corpus-sized is explode +
    * hash join + partitioned windows (all codegen); the join side is
    * gated by MEASURED vocab size (Bpe.vocabJoin — a raw web corpus
    * has an unbounded word vocabulary), and the global offsets are
    * the two-phase prefix sum (rangeParted + driver-side
    * prefixFrame). */
  private def symbolStream(d: DataFrame, ws: DataFrame,
                           nVocab: Long): DataFrame = {
    val wordRows = d
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("wi", "w")))
      .filter(length(col("w")) > 0)
    val wj = graft.operators.Bpe.vocabJoin(wordRows, ws, nVocab)
    // doc start offsets: two-phase prefix sum over the NARROW
    // per-doc symbol totals (branch-consistent via rangeParted;
    // offsets prefix-summed driver-side — prefixFrame)
    val narrow = wj.groupBy(col("doc_id")).agg(sum(col("nw")).as("n_sym"))
    val parted = rangeParted(narrow, col("doc_id"))
    val local = parted.withColumn("cum_end",
      sum(col("n_sym")).over(Window.partitionBy(col("pid")).orderBy(col("doc_id"))))
    val starts = local
      .join(broadcast(prefixFrame(parted, sum(col("n_sym")))), Seq("pid"))
      .select(col("doc_id"),
        (col("cum_end") + col("before") - col("n_sym")).as("start"))
    // within-doc word offsets: per-doc window, bounded by doc length
    wj.withColumn("word_off", coalesce(
        sum(col("nw")).over(Window.partitionBy(col("doc_id")).orderBy(col("wi"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .join(starts, Seq("doc_id"))
      .select(col("doc_id"), (col("start") + col("word_off")).as("woff"),
        posexplode(col("syms")).as(Seq("si", "sym")))
      .select(col("doc_id"), (col("woff") + col("si")).as("off"), col("sym"))
  }

  /** Deterministic vocab ids `(sym, token_id)` = lexicographic rank
    * of the distinct SYMBOLS of an encoded word frame — ranked with
    * the same two-phase recipe (range-part by sym, partition-local
    * row_number, driver-side prefix counts), so no partition-less
    * rank sort exists even though the symbol set is provably small:
    * every merge round mints at most ONE new symbol, so |syms| <=
    * |charset| + |merge table| (~150k unicode + R) — which is also
    * why consumers can always broadcast this frame. */
  private[graft] def symbolVocab(ws: DataFrame): DataFrame = {
    val vparted = rangeParted(
      ws.select(explode(col("syms")).as("sym")).distinct(), col("sym"))
    vparted
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("pid")).orderBy(col("sym"))).cast("long"))
      .join(broadcast(prefixFrame(vparted, count(lit(1)))), Seq("pid"))
      .select(col("sym"), (col("rn") + col("before") - 1).as("token_id"))
  }

  /** The reserved out-of-vocabulary token id. Vocab ids are the
    * 0-based lexicographic ranks, so -1 is provably outside the id
    * space. A frozen production tokenizer MUST ship one: a symbol
    * first seen after the vocab froze still consumed its offset, and a
    * training loader needs a row there, not a hole. */
  private val UnkTokenId: Long = -1L

  /** The tokenized-and-packed training stream `(seq_id, position,
    * token_id)` — `bpe_encode`'s learned tokenizer composed with
    * `pack_sequences`' concat-and-chunk packer, i.e. the frame a
    * training job's data loader actually reads. Documents are BPE-
    * segmented with the shared merge table (broadcast, vocab-sized;
    * encoding is embarrassingly parallel), token ids come from the
    * deterministic vocab rank (distinct encoded symbols in
    * lexicographic order — ASCII corpus, so Spark UTF-16 and DuckDB
    * memcmp order agree), and each token's GLOBAL stream offset is
    * its document's two-phase prefix-sum start (the `pack_sequences`
    * recipe — no whole-corpus single-partition window) plus its
    * in-document position. `seq_id`/`position` are the offset's
    * div/mod by [[Cap]]. Both the distinct-word join and the vocab
    * rank are built for an UNBOUNDED web-corpus vocabulary (size-
    * gated broadcast via Bpe.vocabJoin; two-phase symbol rank), and
    * no partition-less window exists anywhere in the plan — the
    * prefix offsets are driver-side (`prefixFrame`), asserted by
    * PackingQueriesSpec on the executed plan. Shared by the
    * `pack_sequences_bpe` gate query and the CorpusWriter
    * shard-export spec. */
  private[graft] def bpePackedTokens(s: SparkSession, dir: String): DataFrame = {
    val merges = TextQueries.bpeMergesCached(s, dir)
    // the frame is frozen + counted ONCE (freezeVocab) so the corpus
    // join and the symbol-vocab rank read the same materialization
    val (ws, nVocab) = encodeWords(s, docs(s, dir), merges)
    // left join + UNK coalesce: self-trained vocab covers every
    // symbol here (identical output to an inner join), but the
    // frame keeps a frozen tokenizer's contract — an out-of-vocab
    // symbol maps to UnkTokenId at its offset
    symbolStream(docs(s, dir), ws, nVocab)
      .join(broadcast(symbolVocab(ws)), Seq("sym"), "left_outer")
      .select(expr(s"off div $Cap").as("seq_id"),
        (col("off") % Cap).as("position"),
        coalesce(col("token_id"), lit(UnkTokenId)).as("token_id"))
  }

  /** PII patterns, shared by the `pii_redaction` gate query, the
    * `documents_redacted` view (GraftViews), and both specs — one
    * definition so the served view can never silently diverge from the
    * oracle-checked redaction. Java∩RE2∩DuckDB common dialect (char
    * classes + bounded quantifiers only), so the same raw string works
    * as a Spark regex and inside a DuckDB single-quoted literal. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+[0-9]{1,2} \\([0-9]{3}\\) [0-9]{2,}"

  /** corpus_drift's INPUT frame: per-token occurrence counts in the
    * train vs eval split (doc_id % 10, the decontaminate convention) —
    * `(token, c_train, c_eval)`. */
  def driftCounts(d: DataFrame): DataFrame =
    d.select((col("doc_id") % 10 === 0).as("is_eval"),
        explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(
        count(when(!col("is_eval"), 1)).as("c_train"),
        count(when(col("is_eval"), 1)).as("c_eval"))

  /** corpus_drift's scoring stage over a counts frame: add-one
    * smoothing, chi-square contribution as fixed-point BIGINT, top 30.
    * One definition serves the batch query AND the streaming monitor's
    * read path, so the served scores can never drift (sic) from the
    * oracle-checked ones. */
  def driftScores(counts: DataFrame): DataFrame = {
    val totals = counts.agg(
      sum(col("c_train")).cast("double").as("n_train"),
      sum(col("c_eval")).cast("double").as("n_eval"),
      count(lit(1)).cast("double").as("vocab"))
    val pt = (col("c_train") + 1) / (col("n_train") + col("vocab"))
    val pe = (col("c_eval") + 1) / (col("n_eval") + col("vocab"))
    counts.crossJoin(broadcast(totals))
      // chi ≤ max(pt,pe) ≤ 1, so 1e12·chi < 2^53: floor+cast is exact
      .withColumn("drift_ppm_fp6",
        floor(lit(1e12) * (pt - pe) * (pt - pe) / (pt + pe)))
      .select(col("token"), col("c_train"), col("c_eval"), col("drift_ppm_fp6"))
      .orderBy(col("drift_ppm_fp6").desc, col("token"))
      .limit(30)
  }

  val all: Seq[Q] = Seq(

    // Sequence packing, concat-and-chunk style: documents concatenate
    // in doc_id order into one virtual token stream that is cut every
    // `Cap` tokens; a document whose span crosses a cut lands in both
    // chunks (no padding, no document shuffling — the maximally simple
    // deterministic packer). Output is the per-chunk occupancy map:
    // how many docs touch the chunk, how many start in it, and how
    // many of its token slots are filled (all but the tail chunk =
    // Cap by construction — asserted by the oracle hash).
    Q("pack_sequences",
      (s, dir) => {
        val base = docs(s, dir)
          .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tok"))
        // two-phase distributed prefix sum (see scaladoc above),
        // branch-consistent via the frozen exchange (rangeParted)
        val parted = rangeParted(base, col("doc_id"))
        val local = parted.withColumn("cum_end",
          sum(col("n_tok")).over(Window.partitionBy(col("pid")).orderBy(col("doc_id"))))
        // totals come straight off `parted` (map-side partial sum), not
        // max(cum_end): the latter would evaluate the partition-local
        // sort+window a second time in the totals branch
        local.join(broadcast(prefixFrame(parted, sum(col("n_tok")))), Seq("pid"))
          .withColumn("fin", col("cum_end") + col("before"))
          .withColumn("start", col("fin") - col("n_tok"))
          // integer div keeps the chunk math exact at any corpus size
          // (a double floor() is only exact below 2^53 tokens)
          .withColumn("chunk_id",
            explode(expr(s"sequence(start div $Cap, (fin - 1) div $Cap)")))
          .groupBy(col("chunk_id"))
          .agg(
            count(lit(1)).as("n_docs"),
            count(when(expr(s"start div $Cap") === col("chunk_id"), 1))
              .as("n_docs_starting"),
            sum(least(col("fin"), (col("chunk_id") + 1) * Cap) -
              greatest(col("start"), col("chunk_id") * Cap))
              .as("n_tokens_filled"))
      },
      Some(s"""WITH n AS (SELECT doc_id,
              |                  CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS nt
              |           FROM documents),
              |o AS (SELECT doc_id, nt,
              |             CAST(sum(nt) OVER (ORDER BY doc_id
              |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fin
              |      FROM n),
              |e AS (SELECT doc_id, nt, fin, fin - nt AS strt,
              |             unnest(range((fin - nt) // $Cap, (fin - 1) // $Cap + 1)) AS chunk_id
              |      FROM o)
              |SELECT chunk_id,
              |       count(*) AS n_docs,
              |       count(CASE WHEN strt // $Cap = chunk_id THEN 1 END) AS n_docs_starting,
              |       CAST(sum(least(fin, (chunk_id + 1) * $Cap) -
              |                greatest(strt, chunk_id * $Cap)) AS BIGINT) AS n_tokens_filled
              |FROM e GROUP BY chunk_id""".stripMargin)),

    // The packed TRAINING stream itself: bpe_encode's learned merge
    // table composed with pack_sequences' global packer — every
    // document BPE-segmented, the symbol stream concatenated in
    // doc_id order and cut every Cap tokens, each token carrying its
    // (seq_id, position) slot and deterministic vocab id. Gated as
    // the per-sequence occupancy + position-weighted checksum frame
    // (exact BIGINTs: token_id < |vocab|, position < Cap, so the
    // weighted sum stays far under 2^63), which pins every token's
    // id AND slot without shipping the corpus-sized token frame
    // through the oracle compare. The oracle re-trains the tokenizer
    // via the unrolled MATERIALIZED CTEs (the bpe_merges recipe),
    // re-encodes by joining words against the final round's word
    // frame, and replays the same pack — engine-identical by
    // integer construction. The full (seq_id, position, token_id)
    // frame is exported to CorpusWriter shards in CorpusWriterSpec.
    Q("pack_sequences_bpe",
      (s, dir) => bpePackedTokens(s, dir)
        .groupBy(col("seq_id"))
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("token_id")).as("n_distinct"),
          sum(col("token_id") * (col("position") + lit(1L))).as("checksum"),
          max(col("token_id")).as("max_id")),
      Some {
        val R = TextQueries.BpeRounds
        TextQueries.bpeOracleCtes(R) +
          s""",
             |dwp AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS wi, ws
             |        FROM (SELECT doc_id, string_split(trim(text), ' ') AS ws
             |              FROM documents)),
             |wp AS (SELECT doc_id, wi, ws[wi] AS w FROM dwp WHERE len(ws[wi]) > 0),
             |wsy AS (SELECT wp.doc_id, wp.wi,
             |               list_filter(string_split(wc$R.rep, chr(31)),
             |                           x -> x <> '') AS syms
             |        FROM wp JOIN wc$R ON wp.w = wc$R.word),
             |sep AS (SELECT doc_id, wi, unnest(range(1, len(syms) + 1)) AS si, syms
             |        FROM wsy),
             |st AS (SELECT doc_id, wi, si, syms[si] AS sym FROM sep),
             |g AS (SELECT sym,
             |             CAST(row_number() OVER (ORDER BY doc_id, wi, si) - 1
             |                  AS BIGINT) AS gpos
             |      FROM st),
             |vid AS (SELECT sym,
             |               CAST(row_number() OVER (ORDER BY sym) - 1 AS BIGINT)
             |                 AS token_id
             |        FROM (SELECT DISTINCT sym FROM g)),
             |tk AS (SELECT gpos // $Cap AS seq_id, gpos % $Cap AS position, token_id
             |       FROM g JOIN vid USING (sym))
             |SELECT seq_id, count(*) AS n_tokens,
             |       CAST(count(DISTINCT token_id) AS BIGINT) AS n_distinct,
             |       CAST(sum(token_id * (position + 1)) AS BIGINT) AS checksum,
             |       max(token_id) AS max_id
             |FROM tk GROUP BY seq_id""".stripMargin
      }),

    // Sliding-window chunking: each document independently cut into
    // ChunkW-token windows advancing by ChunkS (HuggingFace
    // return_overflowing_tokens semantics — the last window shrinks to
    // the doc end; a doc at or under ChunkW tokens is one chunk). The
    // chunk TEXT is re-materialized from the token slice so downstream
    // embedding/indexing reads real strings, not offsets.
    Q("doc_chunks",
      (s, dir) => chunkRows(s, dir),
      Some(s"""WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks,
              |                  CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok
              |           FROM documents),
              |c AS (SELECT doc_id, toks, n_tok,
              |             unnest(range(0, CASE WHEN n_tok > $ChunkW
              |                  THEN (n_tok - $ChunkW + ${ChunkS - 1}) // $ChunkS
              |                  ELSE 0 END + 1)) AS chunk_idx
              |      FROM t)
              |SELECT doc_id, chunk_idx,
              |       chunk_idx * $ChunkS AS chunk_start,
              |       least($ChunkW, n_tok - chunk_idx * $ChunkS) AS chunk_len,
              |       array_to_string(list_slice(toks, chunk_idx * $ChunkS + 1,
              |           chunk_idx * $ChunkS +
              |           least($ChunkW, n_tok - chunk_idx * $ChunkS)), ' ') AS chunk_text
              |FROM c""".stripMargin)),

    // Distribution-drift monitor between the train and eval splits
    // (doc_id % 10, the decontaminate_overlap convention): per-token
    // add-one-smoothed probabilities in each split, ranked by the
    // chi-square-style contribution (p_t − p_e)² / (p_t + p_e). The
    // standard corpus-shift tripwire before a training run — a token
    // whose mass moved between splits surfaces at the top. Chi-square
    // instead of KL on purpose: +−×/ are IEEE-exact and bit-identical
    // across engines, ln() is not — and the score is emitted as a
    // FIXED-POINT BIGINT (floor of 1e12×chi, i.e. ppm with 6 decimals)
    // rather than round(double, n): floor of an identical IEEE double
    // is identical everywhere, while decimal rounding of a double is
    // engine-specific on half-way-representable boundaries (Spark
    // BigDecimal HALF_UP vs DuckDB float rounding) — the gate stays
    // hash-stable at every scale factor, not just the tested one.
    // One explode + one token groupBy + a ONE-ROW broadcast totals
    // frame (the tfidf shape).
    Q("corpus_drift",
      (s, dir) => driftScores(driftCounts(docs(s, dir))),
      Some("""WITH tok AS (SELECT doc_id % 10 = 0 AS is_eval,
             |                    unnest(string_split(trim(text), ' ')) AS token
             |             FROM documents),
             |c AS (SELECT token,
             |             count(CASE WHEN NOT is_eval THEN 1 END) AS c_train,
             |             count(CASE WHEN is_eval THEN 1 END) AS c_eval
             |      FROM tok GROUP BY token),
             |t AS (SELECT CAST(sum(c_train) AS DOUBLE) AS n_train,
             |             CAST(sum(c_eval) AS DOUBLE) AS n_eval,
             |             CAST(count(*) AS DOUBLE) AS vocab FROM c),
             |d AS (SELECT token, c_train, c_eval,
             |             (c_train + 1) / (n_train + vocab) AS pt,
             |             (c_eval + 1) / (n_eval + vocab) AS pe
             |      FROM c, t)
             |SELECT token, c_train, c_eval,
             |       CAST(floor(1e12 * (pt - pe) * (pt - pe) / (pt + pe)) AS BIGINT)
             |         AS drift_ppm_fp6
             |FROM d
             |ORDER BY drift_ppm_fp6 DESC, token
             |LIMIT 30""".stripMargin)),

    // PII redaction: plant one deterministic contact line per doc
    // (email + phone), then count and mask both patterns. The regexes
    // stay in the Java∩RE2 common dialect (char classes + bounded
    // quantifiers, no lookaround/backrefs) so Spark and DuckDB agree
    // byte-for-byte — pinned by the md5 of the redacted text.
    Q("pii_redaction",
      (s, dir) => {
        val emailRe = EmailRe
        val phoneRe = PhoneRe
        val aug = concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com or +1 (555) 0"),
          col("doc_id").cast("string"))
        docs(s, dir)
          .withColumn("aug", aug)
          .select(
            col("doc_id"),
            regexp_count(col("aug"), lit(emailRe)).cast("long").as("n_emails"),
            regexp_count(col("aug"), lit(phoneRe)).cast("long").as("n_phones"),
            md5(regexp_replace(regexp_replace(col("aug"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>")).as("redacted_md5"),
            length(regexp_replace(regexp_replace(col("aug"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>")).as("redacted_len"))
      },
      Some(s"""WITH a AS (SELECT doc_id,
              |                  text || ' contact user' || doc_id ||
              |                  '@example.com or +1 (555) 0' || doc_id AS aug
              |           FROM documents)
              |SELECT doc_id,
              |       CAST(len(regexp_extract_all(aug, '$EmailRe')) AS BIGINT)
              |         AS n_emails,
              |       CAST(len(regexp_extract_all(aug, '$PhoneRe')) AS BIGINT) AS n_phones,
              |       md5(regexp_replace(regexp_replace(aug,
              |           '$EmailRe', '<EMAIL>', 'g'),
              |           '$PhoneRe', '<PHONE>', 'g'))
              |         AS redacted_md5,
              |       length(regexp_replace(regexp_replace(aug,
              |           '$EmailRe', '<EMAIL>', 'g'),
              |           '$PhoneRe', '<PHONE>', 'g'))
              |         AS redacted_len
              |FROM a""".stripMargin)),

    // Token-budget corpus selection: greedily take the highest-quality
    // documents (score desc, doc_id tiebreak) until a global token
    // budget is filled — the "best N tokens" curation step that decides
    // what a training run actually sees. Selected = every doc whose
    // inclusive running token total fits the budget; the running total
    // is monotone along the order, so the filter IS the greedy prefix.
    //
    // Scale design: a global running sum over a quality ORDER is the
    // same inherently-sequential prefix sum as pack_sequences, and gets
    // the same two-phase treatment — range-partition by (score desc,
    // doc_id) so partitions tile the global order, partition-local
    // cumsum, then add the broadcast prefix of earlier partitions'
    // totals (driver-side prefix, prefixFrame). No whole-corpus
    // single-partition window; no partition-less window at all.
    Q("token_budget_select",
      (s, dir) => budgetSelect(withScore(docs(s, dir)))
        .select(col("doc_id"), col("score"), col("n_tok"), col("cum_tokens")),
      Some(s"""WITH $scoreCte,
              |o AS (SELECT doc_id, score, n_tok,
              |             CAST(sum(n_tok) OVER (ORDER BY score DESC, doc_id
              |                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
              |               AS cum_tokens
              |      FROM s)
              |SELECT doc_id, score, n_tok, cum_tokens
              |FROM o WHERE cum_tokens <= $Budget""".stripMargin)),

    // Per-source document cap: keep the top-$SrcCap docs of each source
    // by (score desc, doc_id) — the dedup-by-provenance step that stops
    // one crawl domain from dominating the mixture. Deterministic and
    // growth-stable within a source's top set.
    //
    // Scale design: a bare rank over Window.partitionBy(source) funnels
    // each source's ENTIRE corpus through one task (the corpus_mix
    // anti-pattern the round-6 verdict flagged). Bounded K admits the
    // cheaper classic two-phase top-K instead: phase 1 ranks inside
    // (source, hash-cell) — any row partition works, order need not be
    // respected across cells — and keeps at most K per cell; phase 2
    // ranks the survivors, at most cells x K rows per source, never the
    // stratum. Every top-K member is a top-K member of its own cell, so
    // phase 1 drops no answer row.
    Q("source_cap",
      (s, dir) => capPerSource(withScore(docs(s, dir)))
        .select(col("source"), col("doc_id"), col("score"), col("rk")),
      Some(s"""WITH $scoreCte
              |SELECT source, doc_id, score,
              |       CAST(row_number() OVER (PARTITION BY source
              |                               ORDER BY score DESC, doc_id) AS BIGINT) AS rk
              |FROM s
              |QUALIFY rk <= $SrcCap""".stripMargin)),

    // The whole curation chain as ONE query — the corpus a training run
    // would actually read. Exact dedup (min doc_id per content hash)
    // -> decontamination (drop the eval split, and any train doc
    // sharing >= 3 distinct 3-grams with it — the decontaminate_overlap
    // gate applied as a filter) -> quality floor (fixed-point
    // unique-token score >= QMin) -> per-source cap (top-$SrcCap
    // two-phase, no full-stratum window) -> global token budget (greedy
    // two-phase prefix, $Budget tokens). Every stage is the already-
    // oracled operator, composed; the oracle replays the same chain in
    // SQL. Stage costs: one content-hash shuffle, one gram-keyed join
    // (never doc x doc), projections, and the two-phase cap/budget —
    // each O(corpus/partitions) per task at any scale.
    Q("corpus_assemble",
      (s, dir) => {
        val dd = withScoreH(docs(s, dir))
          .filter(col("doc_id") === col("cid") && col("doc_id") % 10 =!= 0)
          .drop("h", "cid")
        val sh = TextQueries.shingleRowsCached(s, dir).select(col("doc_id"), col("s"))
        val evalGrams = sh.filter(col("doc_id") % 10 === 0)
          .select(col("s")).distinct()
        val contaminated = sh.filter(col("doc_id") % 10 =!= 0)
          .join(evalGrams, Seq("s"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("shared"))
          .filter(col("shared") >= 3)
          .select(col("doc_id"))
        val clean = dd.join(contaminated, Seq("doc_id"), "left_anti")
        val scored = clean.filter(col("score") >= QMin)
        budgetSelect(capPerSource(scored).drop("rk"))
          .select(col("doc_id"), col("source"), col("score"),
            col("n_tok"), col("cum_tokens"))
      },
      Some(s"""WITH dd AS (
              |  SELECT doc_id, source, text
              |  FROM (SELECT doc_id, source, text,
              |               min(doc_id) OVER (PARTITION BY md5(text)) AS cid
              |        FROM documents)
              |  WHERE doc_id = cid AND doc_id % 10 <> 0),
              |tok AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
              |shg AS (SELECT doc_id,
              |               unnest(list_distinct(list_transform(
              |                 range(1, len(t) - 1),
              |                 i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS s
              |        FROM tok WHERE len(t) >= 3),
              |ev AS (SELECT DISTINCT s FROM shg WHERE doc_id % 10 = 0),
              |cont AS (SELECT shg.doc_id
              |         FROM shg JOIN ev ON shg.s = ev.s
              |         WHERE shg.doc_id % 10 <> 0
              |         GROUP BY shg.doc_id HAVING count(*) >= 3),
              |sc AS (SELECT dd.doc_id, dd.source,
              |              CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok,
              |              (1000000 * CAST(len(list_distinct(string_split(trim(text), ' '))) AS BIGINT))
              |                // CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS score
              |       FROM dd ANTI JOIN cont ON dd.doc_id = cont.doc_id),
              |q AS (SELECT * FROM sc WHERE score >= $QMin),
              |cap AS (SELECT doc_id, source, score, n_tok
              |        FROM q
              |        QUALIFY row_number() OVER (PARTITION BY source
              |                                   ORDER BY score DESC, doc_id) <= $SrcCap),
              |bud AS (SELECT doc_id, source, score, n_tok,
              |               CAST(sum(n_tok) OVER (ORDER BY score DESC, doc_id
              |                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
              |                 AS cum_tokens
              |        FROM cap)
              |SELECT doc_id, source, score, n_tok, cum_tokens
              |FROM bud WHERE cum_tokens <= $Budget""".stripMargin)),

    // Deterministic per-epoch corpus shuffle + sharding: the step that
    // turns a curated corpus into the SHARD FILES a training job reads.
    // Each epoch gets its own reproducible global permutation (order by
    // md5(epoch:doc_id) — reshuffling between epochs without ever
    // re-materializing the corpus differently per worker), and rows are
    // dealt round-robin along that order into NShards shards, so shard
    // sizes are balanced to ±1 ROW regardless of key skew and
    // (shard, pos) is a bijection into the permutation — any worker can
    // reconstruct exactly what it should read from the seed alone.
    //
    // Scale design: the global rank along the permutation is the same
    // inherently-sequential construct as pack_sequences' prefix sum and
    // gets the same two-phase treatment — range-partition by (epoch,
    // key, doc_id) so partitions tile each epoch's permutation order,
    // rank locally inside (pid, epoch), then add the broadcast count of
    // earlier partitions' rows in the same epoch. A bare
    // Window.partitionBy(epoch) rank would funnel each epoch's ENTIRE
    // corpus through one task (the corpus_mix anti-pattern); here the
    // only partition-less work is the #partitions×#epochs-row prefix
    // frame.
    Q("corpus_shard",
      (s, dir) => {
        val keyed = docs(s, dir).select(col("doc_id"))
          .withColumn("epoch",
            explode(sequence(lit(0L), lit(Epochs - 1L))))
          .withColumn("k", md5(concat(col("epoch").cast("string"), lit(":"),
            col("doc_id").cast("string"))))
        val parted = rangeParted(keyed, col("epoch"), col("k"), col("doc_id"))
        val local = parted.withColumn("rn",
          row_number().over(Window.partitionBy(col("pid"), col("epoch"))
            .orderBy(col("k"), col("doc_id"))).cast("long"))
        val prefix = parted.groupBy(col("pid"), col("epoch"))
          .agg(count(lit(1)).as("ptot"))
          .withColumn("before", coalesce(
            sum(col("ptot")).over(Window.partitionBy(col("epoch"))
              .orderBy(col("pid"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("pid"), col("epoch"), col("before"))
        local.join(broadcast(prefix), Seq("pid", "epoch"))
          .withColumn("rk", col("rn") + col("before"))
          .select(col("epoch"), col("doc_id"),
            ((col("rk") - 1) % NShards).as("shard"),
            expr(s"(rk - 1) div $NShards").as("pos"))
      },
      Some(s"""WITH e AS (SELECT unnest(range(0, $Epochs)) AS epoch),
              |r AS (SELECT epoch, doc_id,
              |             CAST(row_number() OVER (
              |               PARTITION BY epoch
              |               ORDER BY md5(epoch || ':' || doc_id), doc_id)
              |               AS BIGINT) AS rk
              |      FROM documents, e)
              |SELECT epoch, doc_id,
              |       (rk - 1) % $NShards AS shard,
              |       (rk - 1) // $NShards AS pos
              |FROM r""".stripMargin)),

    // Curation-chain provenance: for EVERY document, the first stage of
    // the corpus_assemble chain that dropped it (or 'selected'). The
    // audit trail a data-governance review asks for — "why is doc X not
    // in release Y?" answered without re-running the pipeline, and the
    // per-stage attrition histogram falls out of a GROUP BY stage.
    // Precedence mirrors the chain order: duplicate → eval_split →
    // contaminated → low_quality → source_capped → over_budget →
    // selected; each doc carries exactly one verdict.
    //
    // Scale: the flags reuse the assemble stages verbatim (one-scan
    // score+hash base `withScoreH`, gram-keyed contamination join —
    // never doc×doc, two-phase cap/budget), plus two left joins on
    // doc_id of the KEPT-id frames, which are budget-bounded
    // (≤ sources×cap rows). Cost ≈ one corpus_assemble plus two cheap
    // hash joins; `documents` is scanned exactly once and no
    // corpus-sized frame is ever joined to another.
    Q("assemble_provenance",
      (s, dir) => {
        val sh = TextQueries.shingleRowsCached(s, dir).select(col("doc_id"), col("s"))
        val evalGrams = sh.filter(col("doc_id") % 10 === 0)
          .select(col("s")).distinct()
        val contaminated = sh.filter(col("doc_id") % 10 =!= 0)
          .join(evalGrams, Seq("s"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("shared"))
          .filter(col("shared") >= 3)
          .select(col("doc_id"), lit(true).as("contam"))
        // The scored+dedup-windowed+contamination-joined base feeds
        // TWO consumers (the survivor chain and the final verdict
        // select); without a materialization the whole
        // scan→score→md5-window→contamination-join subtree ran once
        // per consumer (before-plan: 13 corpus scans / 46 Exchanges).
        // One eager checkpoint of the NARROW proxy frame (~50 B/row,
        // no text) is the §8 move: every downstream decision reads
        // fixed-width rows, the corpus is scanned exactly once.
        val base = withScoreH(docs(s, dir)).drop("h")
          .join(contaminated, Seq("doc_id"), "left")
          .localCheckpoint(true)
        val survivors = base.filter(col("doc_id") === col("cid") &&
            col("doc_id") % 10 =!= 0 && col("contam").isNull &&
            col("score") >= QMin)
          .select(col("doc_id"), col("source"), col("score"), col("n_tok"))
        // cap feeds capIds AND budgetSelect — checkpoint the
        // budget-bounded (≤ sources×cap rows) frame instead of
        // re-running the two-phase top-K windows per consumer
        val cap = capPerSource(survivors).drop("rk").localCheckpoint(true)
        val capIds = cap.select(col("doc_id"), lit(true).as("in_cap"))
        val budIds = budgetSelect(cap)
          .select(col("doc_id"), lit(true).as("in_bud"))
        base.join(capIds, Seq("doc_id"), "left")
          .join(budIds, Seq("doc_id"), "left")
          .select(col("doc_id"), col("source"), col("score"),
            when(col("doc_id") =!= col("cid"), "duplicate")
              .when(col("doc_id") % 10 === 0, "eval_split")
              .when(col("contam").isNotNull, "contaminated")
              .when(col("score") < QMin, "low_quality")
              .when(col("in_cap").isNull, "source_capped")
              .when(col("in_bud").isNull, "over_budget")
              .otherwise("selected").as("stage"))
      },
      Some(s"""WITH d0 AS (SELECT doc_id, source, text,
              |                   min(doc_id) OVER (PARTITION BY md5(text)) AS cid
              |            FROM documents),
              |tok AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
              |shg AS (SELECT doc_id,
              |               unnest(list_distinct(list_transform(
              |                 range(1, len(t) - 1),
              |                 i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS s
              |        FROM tok WHERE len(t) >= 3),
              |ev AS (SELECT DISTINCT s FROM shg WHERE doc_id % 10 = 0),
              |cont AS (SELECT shg.doc_id
              |         FROM shg JOIN ev ON shg.s = ev.s
              |         WHERE shg.doc_id % 10 <> 0
              |         GROUP BY shg.doc_id HAVING count(*) >= 3),
              |$scoreCte,
              |base AS (SELECT d0.doc_id, s.source, s.score, s.n_tok, d0.cid,
              |                d0.doc_id IN (SELECT doc_id FROM cont) AS contam
              |         FROM d0 JOIN s ON d0.doc_id = s.doc_id),
              |surv AS (SELECT doc_id, source, score, n_tok FROM base
              |         WHERE doc_id = cid AND doc_id % 10 <> 0
              |           AND NOT contam AND score >= $QMin),
              |cap AS (SELECT doc_id, source, score, n_tok
              |        FROM surv
              |        QUALIFY row_number() OVER (PARTITION BY source
              |                                   ORDER BY score DESC, doc_id) <= $SrcCap),
              |bud AS (SELECT doc_id,
              |               CAST(sum(n_tok) OVER (ORDER BY score DESC, doc_id
              |                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
              |                 AS cum_tokens
              |        FROM cap)
              |SELECT doc_id, source, score,
              |       CASE WHEN doc_id <> cid THEN 'duplicate'
              |            WHEN doc_id % 10 = 0 THEN 'eval_split'
              |            WHEN contam THEN 'contaminated'
              |            WHEN score < $QMin THEN 'low_quality'
              |            WHEN doc_id NOT IN (SELECT doc_id FROM cap)
              |              THEN 'source_capped'
              |            WHEN doc_id NOT IN (SELECT doc_id FROM bud
              |                                WHERE cum_tokens <= $Budget)
              |              THEN 'over_budget'
              |            ELSE 'selected' END AS stage
              |FROM base""".stripMargin))
  )
}
