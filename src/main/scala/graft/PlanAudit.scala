package graft

import org.apache.spark.sql.SparkSession

/** Formatted-physical-plan audit flagging scale smells: cartesian
  * products, missing whole-stage codegen, unexpected
  * broadcast-nested-loop joins. `audit` is the reusable check
  * (PlanAuditSpec enforces an empty smell list in CI); the main dumps
  * the full plans for eyeballing.
  *
  * Usage: runMain graft.PlanAudit [sfDir] [query ...]
  */
object PlanAudit {

  /** Queries deliberately NOT plan-audited, each with its
    * justification. The audited set is derived as registry ∖ this
    * map, so coverage is structural: a new registry query is audited
    * automatically unless an exclusion (with a reason) is added here
    * — PlanAuditSpec asserts audited ∪ excluded == SparkEntry.queries
    * exactly. */
  val Excluded: Map[String, String] = Map(
    "bpe_merges" -> ("the trained merge table is assembled on the " +
      "driver (bounded iterative pair-merge loop) and returned as a " +
      "LocalTableScan — there is no distributed scan/compute " +
      "pipeline to codegen, so the no-WholeStageCodegen smell is " +
      "structural, not a regression; the distributed encode path " +
      "over the trained table is audited as bpe_encode/token_count_bpe"))

  /** Every registry query not explicitly excluded above — the full
    * audited surface (178-query registry as of round 13). */
  lazy val DefaultNames: Seq[String] =
    (SparkEntry.queries.keySet -- Excluded.keySet).toSeq.sorted


  // BNLJ is by design in exactly these: embed_cosine_topk's exact
  // baseline crosses against a FIXED 5-query set, the IVF assignment
  // (pivot and k-means-trained variants) crosses each vector against
  // <=16 broadcast centroids (no equi-key exists; bounded O(N·C)
  // work), tfidf_top_terms crosses against the ONE-ROW broadcast
  // corpus-count frame (the lazy alternative to an eager count()),
  // and q22_idle_balances compares every customer against the
  // ONE-ROW broadcast scalar-average frame (no equi-key in
  // `c_acctbal > avg_bal`). q11_important_parts is the same shape:
  // every part value against the ONE-ROW broadcast 1.5×-average cut.
  // heavy_hitter_tokens likewise rides ONE-ROW broadcasts (the
  // candidate array / the corpus count). bloom_semi_join does NOT:
  // its bloom is a driver-materialized literal, so the plan is a
  // plain filtered join (audited in DefaultNames).
  // embed_ann_indexed's BNLJ is the QUERY side only (20 queries × ≤16
  // broadcast pivots, ranking probe cells) — the data side reads the
  // persisted cell store's bucket files, never a corpus re-assignment
  // (file-pruning asserted in IvfIndexStoreSpec).
  // negative_samples rides the ONE-ROW broadcast keyspace frame
  // (max part key) — same scalar shape as q15/q22.
  // source_overlap_kmv pairs the #sources-row sketch frame against
  // itself on source_a < source_b (no equi-key by construction;
  // bounded O(sources²) over a broadcast of O(sources·k) bytes).
  // pagerank_suppliers rides the ONE-ROW broadcast node-count frame
  // in every Jacobi round (the tfidf scalar shape).
  // token_freq_cms joins candidates against the ONE-ROW broadcast
  // sketch frame (8 KiB binary scalar — the tfidf shape again).
  // embed_ann_recall composes embed_ann_ivf (≤16 broadcast pivots)
  // with embed_cosine_topk's exact side (20 broadcast queries × the
  // corpus — ground truth for a SAMPLED query set, by design).
  val ExpectedBnlj: Set[String] = Set(
    "embed_ann_ivf", "embed_ann_ivf_kmeans", "embed_cosine_topk",
    "tfidf_top_terms", "q22_idle_balances", "heavy_hitter_tokens",
    "q11_important_parts", "corpus_drift", "embed_ann_indexed",
    "negative_samples", "source_overlap_kmv", "pagerank_suppliers",
    "dedup_semantic", "token_freq_cms", "embed_ann_recall",
    // the fixed-point ANN pair crosses each (sub)vector against ≤16
    // broadcast integer centroids (the IVF-assignment shape); the
    // retrieval pair rides ONE-ROW broadcasts (corpus stats / the
    // query embedding)
    "embed_ann_ivf_fp", "embed_ann_pq_fp", "bm25_search", "hybrid_rrf",
    // round 10: the indexed/fp BM25 pair rides the same ONE-ROW
    // broadcast corpus-stats frame; source_overlap_kmv_md5 pairs the
    // #sources-row sketch frame against itself on source_a < source_b
    // (no equi-key by construction) like its xxhash64 twin
    "bm25_indexed", "bm25_search_fp", "source_overlap_kmv_md5",
    // hybrid_rrf_indexed composes bm25_indexed (one-row stats
    // broadcast) with embed_ann_indexed's query-side pivot ranking
    // (1 query × ≤16 broadcast pivots)
    "hybrid_rrf_indexed",
    // lm_perplexity_fp rides the ONE-ROW broadcast total-token frame
    // (the bm25 corpus-stats shape); dedup_incremental the ONE-ROW
    // broadcast delta threshold; corpus_cluster_balance and
    // embed_hard_negatives the ≤16 broadcast integer centroids (the
    // IVF-assignment shape — hard-negative anchors rank probe cells
    // against the broadcast centroid frame)
    "lm_perplexity_fp", "dedup_incremental", "corpus_cluster_balance",
    "embed_hard_negatives",
    // corpus_curriculum scores through the same ONE-ROW broadcast
    // total-token frame as lm_perplexity_fp
    "corpus_curriculum",
    // collocations_pmi_fp rides the same ONE-ROW broadcast
    // total-token frame (everything else is token-keyed equi-joins);
    // embed_knn_label_fp ranks query vectors against the ≤16
    // broadcast integer centroids (the IVF-assignment shape);
    // ppr_suppliers rides the ONE-ROW broadcast seed-count frame
    // (the pagerank_suppliers node-count shape);
    // embed_mmr_topk_fp crosses the corpus against the ONE-ROW
    // broadcast query vector (the embed_cosine_topk shape) and then
    // ≤12-row shortlist frames against the ≤5-row selected set
    "collocations_pmi_fp", "embed_knn_label_fp", "ppr_suppliers",
    "embed_mmr_topk_fp",
    // basket_rules rides the ONE-ROW broadcast basket-count frame
    // (the tfidf scalar shape); basket_rec_recall's final summary
    // crosses two ONE-ROW count frames
    "basket_rules", "basket_rec_recall",
    // bm25_prf_fp and bm25_known_item_fp ride the same ONE-ROW
    // broadcast corpus-stats frame as the bm25 family (per scoring
    // pass)
    "bm25_prf_fp", "bm25_known_item_fp",
    // passage_search_fp: the same ONE-ROW broadcast stats frame, at
    // chunk granularity; rfm_segments rides the ONE-ROW broadcast
    // corpus-horizon frame (max purchase day)
    "passage_search_fp", "rfm_segments",
    // revenue_pareto rides the ONE-ROW broadcast total-spend frame
    "revenue_pareto",
    // round 18: embed_ann_pq's gated recall check carries the same
    // exact ground-truth side as embed_ann_recall (20 broadcast
    // queries × the corpus — truth for a SAMPLED query set by
    // design; the PQ/ADC leg itself stays broadcast equi-joins)
    "embed_ann_pq")

  /** Queries whose partition-less Window is over a PROVABLY bounded
    * frame for a reason the plan itself cannot show (no LIMIT below
    * it), each with the bound that protects it. Everything else in
    * the registry must either have no bare window at all or stamp
    * ranks below a LIMIT (the top-k shape — TakeOrdered feeds a ≤k-row
    * window). Kept tiny on purpose: an unbounded bare window is the
    * single-partition-sort scale cliff r13 flagged on
    * pack_sequences_bpe, and rfm_segments / revenue_pareto now ride
    * TwoPhase.withNtile instead of one. */
  val BoundedBareWindow: Map[String, String] = Map(
    "monthly_revenue" -> ("cumulative revenue over the month-granularity " +
      "aggregate — the window input is #months rows, bounded by the " +
      "calendar horizon, not the data volume"),
    "a6_circuit_breaker_ref" -> ("the r21 range-decomposition's running " +
      "sum rides the per-window-start DELTA frame (endpoint deltas " +
      "pre-aggregated by win_us): #window-starts ≈ time-horizon/slide " +
      "rows — the breaker's own output cardinality, bounded by the " +
      "event-time horizon, never by event volume (GrantBoundsSpec " +
      "measures it)"),
    "corpus_mix" -> ("the feasible-total/quota windows ride the per-" +
      "language count frame (#langs rows — the mixture spec's own " +
      "cardinality, 5 here); the per-doc stratum rank is the two-phase " +
      "64-cell recipe, never a bare window over documents"),
    "corpus_mix_temperature" -> ("the mass/largest-remainder quota " +
      "windows ride the per-source aggregate (#sources rows — a " +
      "catalog-bounded cardinality); the per-doc rank is the same " +
      "two-phase 64-cell recipe as corpus_mix"))

  /** Equi-joins carrying a cross-side RANGE residual whose candidate
    * fan-out is nonetheless bounded, each with the bound that
    * protects it. This is the r18 basket-cap / multitouch class made
    * structural: an equi-join whose post-join (or residual) filter
    * compares a left-side expression against a right-side one joins
    * on a coarser key than it filters on, so per-key candidate work
    * grows with key history unless something else bounds it. Every
    * flagged query must either be rewritten (the RangeJoin.binnedUs
    * recipe: fold a bin of the range column into the equi key) or
    * carry a grant here naming the bound — PlanAuditSpec asserts
    * grants are live and justified, and plants the naive
    * join-then-filter shape to prove the detector fires. */
  val BoundedRangeResidual: Map[String, String] = Map(
    "range_join_binned" -> ("this IS the binned recipe: the equi key " +
      "includes the day bin derived from the range columns, so the " +
      "residual only prunes the O(1) bins-per-interval candidates " +
      "the binning admitted"),
    "attribution_multitouch" -> ("RangeJoin.binnedUs day-binned join " +
      "— the equi key includes the click's day bin; candidates per " +
      "purchase = clicks in its 8 covered days " +
      "(AttributionBinnedSpec's planted bot user pins the bound)"),
    // ---- canonical-pair orientation over already-bounded candidates:
    // the residual is `idA < idB` on a self-join whose EQUI key is the
    // thing that bounds candidates (an LSH band bucket, a capped-df
    // gram, a Voronoi cell, a fingerprint window). The ordering
    // predicate only halves/orients the pair set — it never admits a
    // candidate the bucket key didn't.
    "dedup_jaccard_prefix" -> ("d1 < d2 orients pairs from the PPJoin " +
      "prefix-filter join (df ≤ 50 token cap bounds per-key bucket " +
      "size; JaccardPrefixSpec pins the rewrite)"),
    "dedup_embedding_cosine" -> ("v1 < v2 orients pairs from the " +
      "banded-LSH candidate join — per-key candidates = band-bucket " +
      "size, never corpus-sized"),
    "dedup_semantic" -> ("v1 < v2 orients pairs inside one Voronoi " +
      "cell (dominance is cell-scoped by construction — ncells = " +
      "⌊∛(N/4)⌋² scales WITH the corpus since r21, so per-cell " +
      "candidates ~ N^(1/3)-sized cell membership, never corpus-" +
      "sized)"),
    "dedup_title_edit" -> ("d1 < d2 orients pairs from the multi-pass " +
      "token-block join (block keys df-capped at 1000) before the " +
      "thresholded edit-distance verify"),
    "dedup_incremental" -> ("x.doc_id < y.doc_id orients delta-vs-" +
      "index pairs — the equi key is the minhash band bucket; the " +
      "delta side is O(batch), never the corpus"),
    "image_dedup_ahash" -> ("x.ahash < y.ahash orients pairs from " +
      "the banded-Hamming join AFTER the distinct-hash collapse " +
      "(ImageDedupClusteringSpec pins the collapse ≡ doc-level " +
      "all-pairs)"),
    "winnow_candidates" -> ("d1 < d2 orients pairs from the " +
      "winnowing-fingerprint bucket join — per-key candidates = docs " +
      "sharing one selected fingerprint, df-capped like the gram " +
      "joins"),
    // ---- the r20 cold-plan additions: these five ride module memos
    // (the minhash banded-pair frame / the ngram shared-shingle
    // frame), so a WARM audit saw an InMemoryRelation leaf instead of
    // the join — the cold sweep (cache cleared inside audit()) sees
    // the real tree. Same canonical-pair class as above.
    "dedup_minhash_lsh" -> ("d1 < d2 orients pairs from the banded-" +
      "LSH candidate join (minhashPairsCached) — the equi key is the " +
      "(band, 4-minhash signature) bucket, per-key candidates = " +
      "bucket membership, never corpus-sized; exact-Jaccard verify " +
      "only touches collision pairs"),
    "dedup_clusters" -> ("connected components over the banded-LSH " +
      "verified pairs — the d1 < d2 residual is the memoized " +
      "minhashPairsCached band-bucket join (dedup_minhash_lsh's " +
      "bound); per-round CC joins are plain equi-joins on the label"),
    "dedup_keep_best" -> ("composes dedup_clusters' labels with a " +
      "per-cluster quality window — the flagged residual is the same " +
      "memoized band-bucket pair join, bounded by bucket membership"),
    "dedup_rate_by_source" -> ("per-source rate over the banded-LSH " +
      "verified pairs — the flagged residual is the same memoized " +
      "band-bucket pair join; everything above it is source-keyed " +
      "aggregates against a ≤#sources frame"),
    "dedup_ngram_jaccard" -> ("a.doc_id < b.doc_id orients pairs " +
      "from the shingle inverted-index join — shingles df-capped at " +
      "50 ablate boilerplate, so any shingle contributes ≤ C(50,2) " +
      "pairs (the ngramShared memo; same bound the prefix-filter " +
      "twin carries)"),
    "dedup_threshold_sweep" -> ("the decile histogram over the SAME " +
      "df≤50-capped shingle pair frame as dedup_ngram_jaccard " +
      "(third consumer of the ngramShared memo) — identical bound"),
    "basket_rules" -> ("i1 < i2 orients item pairs inside ONE " +
      "order's basket — the equi key is the order key and " +
      "capBasketItems hard-caps any basket at 64 items before the " +
      "join, so per-key candidates ≤ C(64,2) (BasketCapSpec plants " +
      "a mega-basket and asserts the carve)"),
    "copurchase_cosine" -> ("same memoized basket self-join as " +
      "basket_rules (basketPairs) — per-order pair fan-out hard-" +
      "capped at C(64,2) by the capBasketItems hash-rank carve"),
    "basket_rec_recall" -> ("leave-one-out recall over the SAME " +
      "memoized capped basket self-join (basketPairs) — C(64,2) " +
      "per-order bound; the held-out probe joins are plain " +
      "equi-joins on the item"),
    "dedup_containment" -> ("containment metric over the SAME " +
      "df≤50-capped shingle pair frame as dedup_ngram_jaccard " +
      "(ngramShared memo) — any shingle contributes ≤ C(50,2) pairs"),
    "corpus_split_leakage_safe" -> ("splits keyed by dedup_clusters' " +
      "canonical labels — the flagged residual is the same memoized " +
      "band-bucket pair join (dedup_minhash_lsh's bound); the split " +
      "itself is one left equi-join of docs against the label frame"),
    // ---- tiny-frame and order-bounded residuals
    "source_overlap_kmv" -> ("source_a < source_b pairs the #sources-" +
      "row sketch frame against itself — O(sources²) over a frame of " +
      "O(sources·k) bytes, catalog-bounded (also in ExpectedBnlj)"),
    "q4_priority_semi" -> ("l_shipdate > o_orderdate + 60d rides the " +
      "l_orderkey equi-join — candidates per order = its lineitems " +
      "(≤ 7 by the TPC-H order-size bound), not history-sized"),
    "corpus_mix" -> ("rk <= quota joins the per-doc stratum rank " +
      "against the per-language quota frame on language — the quota " +
      "side is ONE row per language (#langs rows total, the mixture " +
      "spec's own cardinality; built via windows, so the Aggregate-" +
      "singleton suppression can't prove it structurally)"),
    "corpus_mix_temperature" -> ("rk <= quota joins the per-doc rank " +
      "against the per-source largest-remainder quota frame on " +
      "source — ONE row per source (catalog-bounded), same shape as " +
      "corpus_mix"))

  /** Joins in the optimized logical plan that pair an equi conjunct
    * with a cross-side range conjunct — i.e. a BinaryComparison
    * (non-equality) whose two operand trees draw from OPPOSITE join
    * sides. Looks through a Filter/Project directly above the join
    * too (outer joins keep cross-side filters above the join instead
    * of folding them into the condition). A comparison of a
    * both-sides expression against a literal (the LSH verify shape,
    * `sim(l, r) >= t`) is NOT this class — the coarse-key fan-out
    * smell needs left-vs-right operands.
    *
    * Structurally suppressed: joins where EITHER side is a PER-KEY
    * SINGLETON — an Aggregate (reached through cardinality-preserving
    * unaries, equi keys translated through Project aliases) whose
    * grouping attributes are a subset of that side's equi keys. Each
    * probe row then matches ≤ 1 row whatever the key's history, so
    * the range residual prunes a bounded candidate set (the
    * funnel/min-aggregate and scalar-threshold shapes: `us >= s_us`
    * against a per-user min frame, `qty < 0.2·avg` against a per-part
    * avg frame, a global-aggregate frame trivially). Everything else
    * flagged must be rewritten or carry a [[BoundedRangeResidual]]
    * grant. */
  def crossSideRangeResidualJoins(
      df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical._
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def sided(j: Join, l: Expression, r: Expression): Boolean = {
      val (lo, ro) = (j.left.outputSet, j.right.outputSet)
      (l.references.nonEmpty && r.references.nonEmpty) &&
        ((l.references.subsetOf(lo) && r.references.subsetOf(ro)) ||
          (l.references.subsetOf(ro) && r.references.subsetOf(lo)))
    }
    def equiConjunct(j: Join)(e: Expression): Boolean = e match {
      case EqualTo(l, r) => sided(j, l, r)
      case EqualNullSafe(l, r) => sided(j, l, r)
      case _ => false
    }
    def rangeConjunct(j: Join)(e: Expression): Boolean = e match {
      case _: EqualTo | _: EqualNullSafe => false
      case b: BinaryComparison => sided(j, b.left, b.right)
      case _ => false
    }
    // equi-key ATTRIBUTES per side (only bare-attribute equi operands
    // count — an expression key can't be traced into a grouping)
    def sideKeys(j: Join, cs: Seq[Expression],
                 side: LogicalPlan): AttributeSet = AttributeSet(
      cs.collect {
        case EqualTo(l: Attribute, r: Attribute) => Seq(l, r)
        case EqualNullSafe(l: Attribute, r: Attribute) => Seq(l, r)
      }.flatten.filter(side.outputSet.contains))
    @annotation.tailrec
    def singletonFor(p: LogicalPlan, keys: AttributeSet): Boolean = p match {
      case a: Aggregate => a.groupingExpressions.forall {
        case at: Attribute => keys.contains(at)
        case _ => false
      }
      case pr: Project =>
        val mapped = pr.projectList.collect {
          case al @ Alias(child: Attribute, _)
            if keys.contains(al.toAttribute) => child
          case at: Attribute if keys.contains(at) => at
        }
        singletonFor(pr.child, AttributeSet(mapped))
      case n @ (_: Filter | _: SubqueryAlias | _: RepartitionOperation |
                _: Sort) => singletonFor(n.children.head, keys)
      case _ => false
    }
    def flag(j: Join, extra: Seq[Expression]): Option[String] = {
      val cs = j.condition.toSeq.flatMap(conjuncts) ++ extra
      val ranges = cs.filter(rangeConjunct(j))
      val bounded = singletonFor(j.left, sideKeys(j, cs, j.left)) ||
        singletonFor(j.right, sideKeys(j, cs, j.right))
      if (cs.exists(equiConjunct(j)) && ranges.nonEmpty && !bounded)
        Some(ranges.map(_.sql).mkString(" AND "))
      else None
    }
    val plan = df.queryExecution.optimizedPlan
    // One verdict per Join NODE (identity-keyed): a Filter-over-Join
    // used to hit both the Filter arm and the bare-Join arm of the
    // collect, double-reporting near-duplicate flag strings whenever
    // both the filter and the join condition carried range conjuncts
    // (ADVICE r19). Conjuncts gathered above an intervening Project
    // are translated through its alias map first — a range residual
    // expressed over RENAMED join outputs used to fail the sidedness
    // test and slip through (same ADVICE item).
    val extras = new java.util.IdentityHashMap[Join, Seq[Expression]]()
    plan.foreach {
      case Filter(cond, j: Join) => extras.put(j, conjuncts(cond))
      case Filter(cond, Project(pl, j: Join)) =>
        val aliases = AttributeMap(pl.collect {
          case a: Alias => (a.toAttribute, a.child)
        })
        extras.put(j, conjuncts(cond).map(_.transform {
          case at: Attribute => aliases.getOrElse(at, at)
        }))
      case _ =>
    }
    plan.collect { case j: Join =>
      flag(j, Option(extras.get(j)).getOrElse(Nil)).toSeq
    }.flatten.distinct
  }

  /** Equi-joins whose key domain is a COMPILE-TIME constant while
    * BOTH sides are corpus-sized — the structural form of the r19
    * sf10 cliff (embed_hard_negatives at its fixed-16-cell quantizer:
    * anchors ~N joined to cell members ~N/16 on a 16-value key ⇒
    * O(N²/16) candidate rows; "bounded by cell size" silently becomes
    * "bounded by N/K" whenever K doesn't scale with the corpus). The
    * smell the cliff diagnosis itself prescribed: catch the CLASS at
    * plan time instead of sweeping decades of scale factors per
    * query.
    *
    * A key's domain is constant when the key attribute traces (through
    * Project aliases, order-insensitive aggregates min/max/first/
    * any_value/min_by/max_by — their output domain is a subset of the
    * traced input's — join sides, and cardinality-preserving unaries)
    * to an attribute that some Filter on the path bounds against
    * foldable values (`k < lit`, `k <= lit`, `k = lit`, `k IN
    * (lits)`), or that a LocalRelation / GlobalLimit produces (≤ k
    * rows ⇒ ≤ k values). The pivot-carve idiom `vec_id < 16` is
    * exactly the first case; a data-derived cell count (the
    * dedup_semantic √N rewrite) is a non-foldable bound and does NOT
    * match — scaling the domain with the corpus is the fix, and the
    * detector sees it.
    *
    * Suppressed when EITHER side is row-bounded: rooted in a
    * LocalRelation or GlobalLimit, or a per-key singleton (an
    * Aggregate grouping by a subset of that side's equi keys — the
    * centroid/pivot frame itself, or any K-row dimension built by
    * grouping on the constant key). A corpus-sized probe against the
    * ≤K-row centroid frame is the bounded O(N·K) assignment shape,
    * not this smell. Everything else flagged must be rewritten
    * (scale the domain with N) or carry a [[BoundedConstDomainJoin]]
    * grant naming the out-of-band row bound. */
  def constDomainKeyJoins(
      df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    import org.apache.spark.sql.catalyst.plans.logical._
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    // does `cond` bound attribute `a`'s value domain to a finite
    // literal set? (an upper bound alone suffices for the carve idiom
    // only because ids are non-negative by construction — accept
    // both-directional anyway: <, <=, =, IN against foldables)
    def litBounds(cond: Expression, a: Attribute): Boolean =
      conjuncts(cond).exists {
        case LessThan(x: Attribute, v) => x.exprId == a.exprId && v.foldable
        case LessThanOrEqual(x: Attribute, v) => x.exprId == a.exprId && v.foldable
        case GreaterThan(v, x: Attribute) => x.exprId == a.exprId && v.foldable
        case GreaterThanOrEqual(v, x: Attribute) => x.exprId == a.exprId && v.foldable
        case EqualTo(x: Attribute, v) => x.exprId == a.exprId && v.foldable
        case EqualTo(v, x: Attribute) => x.exprId == a.exprId && v.foldable
        case In(x: Attribute, vs) => x.exprId == a.exprId && vs.forall(_.foldable)
        case InSet(x: Attribute, _) => x.exprId == a.exprId
        case _ => false
      }
    // the traced input an order-insensitive aggregate's output domain
    // is a subset of (min_by(pid, d) emits SOME pid — never a value
    // outside pid's domain)
    def domainSource(e: Expression): Option[Attribute] = e match {
      case ae: AggregateExpression => ae.aggregateFunction match {
        case Min(c: Attribute) => Some(c)
        case Max(c: Attribute) => Some(c)
        case First(c: Attribute, _) => Some(c)
        case Last(c: Attribute, _) => Some(c)
        case AnyValue(c: Attribute, _) => Some(c)
        case mb: MinBy => mb.valueExpr match { case c: Attribute => Some(c); case _ => None }
        case mb: MaxBy => mb.valueExpr match { case c: Attribute => Some(c); case _ => None }
        case _ => None
      }
      case _ => None
    }
    def constDomain(p: LogicalPlan, a: Attribute): Boolean = p match {
      case _ if !p.outputSet.contains(a) => false
      case Filter(cond, child) =>
        litBounds(cond, a) || constDomain(child, a)
      case Project(pl, child) =>
        pl.collectFirst { case al: Alias if al.toAttribute.exprId == a.exprId => al.child } match {
          case Some(c: Attribute) => constDomain(child, c)
          case Some(_) => false // computed expression — untraceable
          case None => constDomain(child, a)
        }
      case ag: Aggregate =>
        ag.aggregateExpressions.collectFirst {
          case al: Alias if al.toAttribute.exprId == a.exprId => al.child
        } match {
          case Some(e) => domainSource(e).exists(constDomain(ag.child, _))
          case None => constDomain(ag.child, a) // grouping passthrough
        }
      case _: LocalRelation => true
      case _: GlobalLimit => true
      case j: Join => j.children.exists(constDomain(_, a))
      case n @ (_: SubqueryAlias | _: Sort | _: RepartitionOperation |
                _: Window | _: Deduplicate) => constDomain(n.children.head, a)
      case _ => false
    }
    // row-bounded side: LocalRelation/GlobalLimit-rooted, or an
    // Aggregate grouping by ⊆ equi keys (≤ one row per key) — keys
    // translated through Project aliases on the way down
    def rowBounded(p: LogicalPlan, keys: AttributeSet): Boolean = p match {
      case _: GlobalLimit | _: LocalRelation => true
      case ag: Aggregate => ag.groupingExpressions.forall {
        case at: Attribute => keys.contains(at)
        case _ => false
      }
      case pr: Project =>
        val mapped = pr.projectList.collect {
          case al @ Alias(c: Attribute, _) if keys.contains(al.toAttribute) => c
          case at: Attribute if keys.contains(at) => at
        }
        rowBounded(pr.child, AttributeSet(mapped))
      case n @ (_: Filter | _: SubqueryAlias | _: Sort |
                _: RepartitionOperation | _: Window | _: Deduplicate) =>
        rowBounded(n.children.head, keys)
      case _ => false
    }
    df.queryExecution.optimizedPlan.collect { case j: Join =>
      val cs = j.condition.toSeq.flatMap(conjuncts)
      val equiPairs = cs.collect {
        case EqualTo(l: Attribute, r: Attribute)
          if (j.left.outputSet.contains(l) && j.right.outputSet.contains(r)) =>
          (l, r)
        case EqualTo(r: Attribute, l: Attribute)
          if (j.left.outputSet.contains(l) && j.right.outputSet.contains(r)) =>
          (l, r)
      }
      val lKeys = AttributeSet(equiPairs.map(_._1))
      val rKeys = AttributeSet(equiPairs.map(_._2))
      val constKey = equiPairs.collectFirst {
        case (l, r) if constDomain(j.left, l) || constDomain(j.right, r) =>
          s"${l.name} = ${r.name}"
      }
      constKey match {
        case Some(k) if equiPairs.nonEmpty &&
          !rowBounded(j.left, lKeys) && !rowBounded(j.right, rKeys) =>
          Seq(s"const-domain equi key [$k] with both sides unbounded")
        case _ => Nil
      }
    }.flatten.distinct
  }

  /** Joins whose constant-domain equi key is safe for a reason the
    * plan cannot show, each with the row bound that protects it. The
    * dominant family: ANN/retrieval serving paths whose probe side is
    * the fixed 20-query sample carve (`vec_id < 20`) or the literal
    * query-term set — a ROW bound through id uniqueness / the query
    * contract, which the plan walk cannot prove (it sees only a
    * filtered corpus scan). Candidate work in all of them is
    * (#queries × per-key group), with #queries fixed by the serving
    * request, never a second corpus. */
  val BoundedConstDomainJoin: Map[String, String] = Map(
    "embed_ann_pq" -> ("the ADC join keys on the constant (subvector," +
      " centroid-code) domain, but one side is the 20-query distance " +
      "table (20 × m × 256 rows — the query sample carve); per-query " +
      "cost is one linear ADC scan of the code frame, the PQ serving " +
      "contract (recall gated in-query)"),
    "embed_ann_pq_fp" -> ("fixed-point twin of embed_ann_pq — same " +
      "20-query distance-table side on the constant code domain, " +
      "same linear-per-query ADC bound"),
    "embed_ann_pq_indexed" -> ("store-served PQ: codes read from the " +
      "persisted probed cells only (IvfIndexStore bucket files), " +
      "joined to the 20-query ADC table on the constant code domain " +
      "— candidates = probed-cell membership × 20 queries"),
    "bm25_indexed" -> ("the term join keys on the literal query-term " +
      "set (constant by the query contract); the postings side reads " +
      "ONLY those terms' buckets from the persisted PostingsStore " +
      "(file-pruning asserted in PostingsStoreSpec) — candidates = " +
      "Σ df(query terms), the BM25 serving bound"),
    "hybrid_rrf_indexed" -> ("composes bm25_indexed's literal-term " +
      "probe (its grant) with embed_ann_indexed's 20-query pivot " +
      "ranking — both legs query-bounded, fused by a rank join on " +
      "doc id"))

  /** Partition-less Window nodes in the optimized logical plan whose
    * INPUT cardinality is not bounded by a LIMIT — each one is a
    * whole-frame single-partition sort at scale. The bound must sit on
    * the window's own input chain (through cardinality-preserving /
    * -reducing unary nodes only): a GlobalLimit elsewhere in the
    * subtree — e.g. on the small side of a join feeding the window —
    * bounds nothing about the window's input and must not suppress
    * the smell. */
  def unboundedBareWindows(
      df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    // Chain cases: nodes through which a LIMIT below still bounds the
    // window's input — cardinality-preserving unaries (Project/Filter/
    // Sort/alias/repartition, Window itself) and bounded-in-implies-
    // bounded-out ones (Aggregate/Distinct: |out| ≤ |in|). Anything
    // else (a join, a generator/explode, a union) can re-inflate
    // cardinality and stops the walk (ADVICE r15: the conservative
    // version false-positived on stacked windows over limited inputs).
    @annotation.tailrec
    def boundedInput(p: LogicalPlan): Boolean = p match {
      case _: GlobalLimit => true
      case n @ (_: Project | _: Filter | _: Sort | _: SubqueryAlias |
                _: RepartitionOperation | _: Window | _: Aggregate |
                _: Distinct) => boundedInput(n.children.head)
      case _ => false
    }
    df.queryExecution.optimizedPlan.collect {
      case w: Window if w.partitionSpec.isEmpty && !boundedInput(w.child) =>
        w.windowExpressions.map(_.sql).mkString(",")
    }
  }

  /** Build `name`'s frame with a guaranteed-cold plan. Audited plans
    * are COLD plans by contract: a registered cache — a module memo,
    * or a leak from an earlier caller — substitutes an
    * InMemoryRelation leaf for the whole join/window subtree it
    * covers and blinds every structural walk below it (the r19
    * order-dependent PlanAuditSpec flake, generalized). The clear
    * runs AFTER construction, immediately before plans are forced:
    * module memos register their cache() at CONSTRUCTION time, so a
    * clear-then-construct order leaves the audit order-dependent —
    * the one query that happens to CREATE a memo sees an
    * InMemoryRelation where every later consumer sees the real tree
    * (observed live: the cold-sweep flag set changed with Map
    * iteration order until the clear moved here). Costs a memo
    * recompute at audit scale (sf0.001); correctness unaffected. */
  def coldPlan(spark: SparkSession, sfDir: String,
               name: String): org.apache.spark.sql.DataFrame = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    spark.catalog.clearCache()
    df
  }

  /** Run `name` at `sfDir`, return (formatted plan, smells) — over
    * the [[coldPlan]], so the sweep is deterministic and
    * authoritative. */
  def audit(spark: SparkSession, sfDir: String,
            name: String): (String, Seq[String]) = {
    val df = coldPlan(spark, sfDir, name)
    df.collect() // materialize so AQE finalizes and codegen stages appear
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val smells = Seq(
      "CartesianProduct" -> plan.contains("CartesianProduct"),
      "no-WholeStageCodegen" -> !plan.contains("codegen id"),
      "BroadcastNestedLoop" -> (plan.contains("BroadcastNestedLoopJoin")
        && !ExpectedBnlj.contains(name)),
      "unbounded-bare-window" -> (!BoundedBareWindow.contains(name)
        && unboundedBareWindows(df).nonEmpty),
      "cross-side-range-residual" -> (!BoundedRangeResidual.contains(name)
        && crossSideRangeResidualJoins(df).nonEmpty),
      "const-domain-key-join" -> (!BoundedConstDomainJoin.contains(name)
        && constDomainKeyJoins(df).nonEmpty)
    ).collect { case (s, true) => s }
    (plan, smells)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else DefaultNames
    // the shipped session, so audited plans are the shipped plans
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val (plan, smells) = audit(spark, sfDir, name)
      println(s"\n===== $name =====")
      println(plan)
      println(if (smells.nonEmpty) s"[audit] $name SMELLS: ${smells.mkString(", ")}"
        else if (plan.contains("BroadcastNestedLoopJoin"))
          s"[audit] $name clean (BNLJ expected: bounded broadcast side)"
        else s"[audit] $name clean")
    }
    spark.stop()
  }
}
