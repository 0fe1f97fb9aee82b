package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface serves the same results as the DataFrame API: a
  * pure-SQL session (views + registered functions, no DataFrame
  * calls) can read grants, join the circuit state, and run the
  * registered scalar functions. */
class GraftViewsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("SQL-only serve path: grants join circuits equals the DataFrame form") {
    GraftViews.register(spark, dir)
    val sql = spark.sql(
      """SELECT g.user_id, g.feature,
        |       coalesce(c.circuit_open, false) OR g.has_grant AS has_access
        |FROM grants g LEFT JOIN feature_circuits c ON g.feature = c.feature""".stripMargin)
    assert(sql.count() > 0)
    // the DataFrame serve path agrees row-for-row on the same requests
    val svc = graft.operators.AccessService.fromEvents(
      spark, graft.sources.Tables.events(spark, dir),
      graft.config.DefaultConfig.config)
    val df = svc.check(spark.sql("SELECT user_id, feature FROM grants"))
      .select("user_id", "feature", "has_access")
    assert(sql.exceptAll(df).isEmpty && df.exceptAll(sql).isEmpty,
      "SQL view serve path must equal the DataFrame serve path")
  }

  test("views are lazy plans: predicates push through into the scan") {
    GraftViews.register(spark, dir)
    val plan = spark.sql(
      "SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("o_orderpriority"),
      s"filter must reach the parquet scan, got:\n$plan")
  }

  test("assembly views: chunk coverage, packing conservation, masked corpus") {
    GraftViews.register(spark, dir)
    // doc_chunks covers every document and chunk_text is real text
    val cover = spark.sql(
      """SELECT count(DISTINCT doc_id) AS nd,
        |       count(CASE WHEN chunk_text = '' THEN 1 END) AS empties
        |FROM doc_chunks""".stripMargin).head()
    assert(cover.getLong(0) == spark.table("documents").count())
    assert(cover.getLong(1) == 0)
    // packed_sequences conserves the corpus token count
    val packed = spark.sql(
      "SELECT sum(n_tokens_filled) FROM packed_sequences").head().getLong(0)
    val toks = spark.sql(
      "SELECT sum(cast(size(split(trim(text), ' ')) AS bigint)) FROM documents")
      .head().getLong(0)
    assert(packed == toks, "packed token slots must equal corpus tokens")
    // the redacted view masks anything e-mail-shaped — probed with the
    // gate query's own shared pattern, so the view and the oracle-
    // checked redaction cannot drift apart unnoticed
    assert(spark.table("documents_redacted")
      .filter(org.apache.spark.sql.functions.col("text")
        .rlike(graft.queries.PackingQueries.EmailRe))
      .count() == 0)
    // the curation views serve the same frames as the registered
    // queries, and the assembled corpus respects its budget invariant
    val assembled = spark.sql(
      "SELECT max(cum_tokens) AS mx, count(*) AS n FROM corpus_assembled").head()
    assert(assembled.getLong(1) > 0 && assembled.getLong(0) <= 20000L,
      "corpus_assembled is non-empty and within the token budget")
    assert(spark.sql(
      """SELECT count(*) FROM (
        |  SELECT source, count(*) AS n FROM corpus_source_capped
        |  GROUP BY source HAVING count(*) > 10)""".stripMargin)
      .head().getLong(0) == 0L, "no source exceeds its cap through the view")
    assert(spark.sql("SELECT max(cum_tokens) FROM corpus_budget")
      .head().getLong(0) <= 20000L)
  }

  test("shard/provenance/centrality views serve the round-7 surface in SQL") {
    GraftViews.register(spark, dir)
    // a training job reads its shard straight off the view
    val shardSizes = spark.sql(
      """SELECT max(n) - min(n) AS spread FROM (
        |  SELECT epoch, shard, count(*) AS n FROM corpus_shards
        |  GROUP BY epoch, shard)""".stripMargin).head()
    assert(shardSizes.getLong(0) <= 1, "shards balanced to ±1 through the view")
    // the attrition report is one GROUP BY over the provenance view
    val attrition = spark.sql(
      "SELECT stage, count(*) AS n FROM corpus_provenance GROUP BY stage")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = spark.sql("SELECT count(*) FROM documents").head().getLong(0)
    assert(attrition.values.sum == total, "every doc gets exactly one verdict")
    assert(attrition.contains("selected"))
    // centrality view: ranks positive, suppliers and customers present
    val cent = spark.sql(
      """SELECT count(*) AS n, min(rank_fp) AS lo,
        |       count(CASE WHEN node LIKE 's%' THEN 1 END) AS sups
        |FROM trade_centrality""".stripMargin).head()
    assert(cent.getLong(0) > 0 && cent.getLong(1) > 0 && cent.getLong(2) > 0)
  }

  test("decontamination + sampling views serve the round-9 surface in SQL") {
    GraftViews.register(spark, dir)
    // excluding benchmark-adjacent docs is one WHERE over the view;
    // the view covers EVERY train vec (negatives hash-gated too)
    val nTrain = spark.sql(
      "SELECT count(*) FROM embeddings WHERE vec_id % 10 <> 0")
      .head().getLong(0)
    val contam = spark.sql(
      """SELECT count(*) AS n,
        |       count(CASE WHEN contaminated THEN 1 END) AS n_contam
        |FROM semantic_contamination""".stripMargin).head()
    assert(contam.getLong(0) == nTrain)
    assert(contam.getLong(1) > 0, "fixture must exercise the contamination path")
    // stratum accounting conserves the corpus and never oversamples
    val strata = spark.sql(
      """SELECT CAST(sum(n_docs) AS BIGINT) AS total,
        |       count(CASE WHEN n_sampled > n_docs THEN 1 END) AS bad
        |FROM corpus_sample_strata""".stripMargin).head()
    val total = spark.sql("SELECT count(*) FROM documents").head().getLong(0)
    assert(strata.getLong(0) == total && strata.getLong(1) == 0)
  }

  test("quality views: annotated covers the corpus, splits agree with the gate query") {
    GraftViews.register(spark, dir)
    val total = spark.sql("SELECT count(*) FROM documents").head().getLong(0)
    val ann = spark.sql("SELECT count(*) FROM documents_annotated").head().getLong(0)
    val clean = spark.sql("SELECT count(*) FROM documents_clean").head().getLong(0)
    val quar = spark.sql("SELECT count(*) FROM documents_quarantined").head().getLong(0)
    assert(ann == total && clean + quar == total)
    assert(quar > 0, "fixture must exercise the quarantine")
    // the view and the oracled gate query quarantine the same docs
    val fromView = spark.sql(
      "SELECT doc_id FROM documents_quarantined ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    val fromQuery = SparkEntry.queries("expectations_quarantine")(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(fromView == fromQuery)
  }

  test("selection + modality views join documents by doc_id in pure SQL") {
    GraftViews.register(spark, dir)
    // every document has an importance weight; weights are in range
    val iw = spark.sql(
      """SELECT count(*) AS n,
        |       count(CASE WHEN weight_fp < 0 OR weight_fp > 1000000 THEN 1 END)
        |         AS oob
        |FROM doc_importance""".stripMargin).head()
    assert(iw.getLong(0) == spark.table("documents").count())
    assert(iw.getLong(1) == 0)
    // image dedup labels cover the corpus and compress it
    val img = spark.sql(
      """SELECT count(*) AS n, count(DISTINCT canonical_id) AS clusters
        |FROM image_dedup_labels""".stripMargin).head()
    assert(img.getLong(0) == spark.table("documents").count())
    assert(img.getLong(1) < img.getLong(0), "planted dups must cluster")
    // audio features decode for every doc; a SQL user filters silence
    val aud = spark.sql(
      """SELECT count(*) AS n,
        |       count(CASE WHEN NOT decode_ok THEN 1 END) AS bad,
        |       count(CASE WHEN n_silent * 5 > n_samples THEN 1 END) AS quiet
        |FROM audio_features""".stripMargin).head()
    assert(aud.getLong(0) == spark.table("documents").count())
    assert(aud.getLong(1) == 0)
    // cohesion view: degrees positive, lcc within [0, 1]
    val coh = spark.sql(
      """SELECT count(CASE WHEN degree < 1 OR lcc < 0 OR lcc > 1 THEN 1 END)
        |FROM doc_similarity_cohesion""".stripMargin).head()
    assert(coh.getLong(0) == 0)
  }

  test("registered SQL functions work over the views") {
    // extensions normally attach at build time via
    // spark.sql.extensions=graft.GraftExtensions; for the already-built
    // test session, register through the function registry directly
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash",
      exprs => graft.functions.expressions.SimHash(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue()),
      "built-in")
    GraftViews.register(spark, dir)
    val n = spark.sql(
      "SELECT simhash(split(trim(text), ' '), 32) AS sig FROM documents")
      .filter("sig IS NOT NULL").count()
    assert(n > 0)
  }

  test("pin → merge → rollback, all through spark.sql (GRAFT statements)") {
    import spark.implicits._
    import graft.sources.BucketedUpsert
    val table = "views_sql_store"
    val snapDir = java.nio.file.Files
      .createTempDirectory("views_sql_pin").resolve("snap").toString
    def state(): Map[Long, Int] =
      BucketedUpsert.read(spark, table).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    BucketedUpsert.drop(spark, table)
    try {
      BucketedUpsert.materialize(
        (1L to 20L).map(k => k -> 1).toDF("k", "v"), table, "k", 8)
      val pinned = state()

      // the daily training-run script: pin the exact store state read
      val pin = spark.sql(s"GRAFT SNAPSHOT $table TO '$snapDir'").collect()
      assert(pin.length == 1 && pin(0).getInt(2) > 0,
        s"snapshot must report linked files: ${pin.toSeq}")
      assert(pin(0).getString(0) == table && pin(0).getString(1) == snapDir)

      // a poisoned merge lands...
      BucketedUpsert.upsert(spark, table,
        Seq(1L -> 99, 21L -> 99).toDF("k", "v"), Seq("k"), "k", 8)
      assert(state() != pinned, "merge must change the served state")

      // ...and SQL rolls it off the serve path
      val rb = spark.sql(s"GRAFT ROLLBACK $table").collect()
      assert(rb.length == 1 && rb(0).getString(0) == table &&
        rb(0).getString(1).nonEmpty)
      assert(state() == pinned, "rollback must serve the pre-merge state")

      // the pin reads back the same state through any engine's reader
      val snap = BucketedUpsert.readSnapshot(spark, snapDir, Some(table))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(snap == pinned)

      // real SQL is untouched by the injected parser
      assert(spark.sql("SELECT 1 + 1 AS two").collect()(0).getInt(0) == 2)
      // and a malformed graft statement does not shadow the ANSI error
      intercept[Exception](spark.sql("GRAFT SNAPSHOT"))
    } finally BucketedUpsert.drop(spark, table)
  }

  test("GRAFT BUILD POSTINGS / PQ stand up the serving stores from pure SQL") {
    import org.apache.spark.sql.functions._
    import graft.sources.{IvfIndexStore, PostingsStore}
    val (pfx, vfx) = ("views_sql_postings", "views_sql_pq")
    PostingsStore.drop(spark, pfx)
    IvfIndexStore.drop(spark, vfx)
    try {
      graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
        .createOrReplaceTempView("views_sql_docs")
      val built = spark.sql(
        s"GRAFT BUILD POSTINGS $pfx FROM views_sql_docs BUCKETS 8").collect()
      assert(built.length == 1 && built(0).getLong(2) == 500,
        s"postings build must report the corpus stats: ${built.toSeq}")
      // the built store probes like the Scala-built one
      val probe = PostingsStore.postingsFor(spark, Seq("join"), pfx, 8)
      assert(probe.count() > 0)
      // idempotent re-run: membership filter drops every re-sent doc
      val again = spark.sql(
        s"GRAFT BUILD POSTINGS $pfx FROM views_sql_docs BUCKETS 8").collect()
      assert(again(0).getLong(2) == 500, "re-build must not double-count stats")

      graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        .createOrReplaceTempView("views_sql_vecs")
      val pq = spark.sql(
        s"GRAFT BUILD PQ $vfx FROM views_sql_vecs BUCKETS 8").collect()
      val nVecs = spark.table("views_sql_vecs").count()
      assert(pq.length == 1 && pq(0).getLong(2) ==
        nVecs * graft.operators.PqFp.M,
        s"every vector encoded once per subspace: ${pq.toSeq}")
    } finally {
      PostingsStore.drop(spark, pfx)
      IvfIndexStore.drop(spark, vfx)
    }
  }

  test("GRAFT BUILD LM rebuilds the count stores idempotently from SQL") {
    import org.apache.spark.sql.functions._
    import graft.streaming.LmCountsStream
    val lfx = "views_sql_lm_"
    LmCountsStream.drop(spark, lfx)
    try {
      graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
        .createOrReplaceTempView("views_sql_lm_docs")
      val ref = graft.operators.NgramLm
        .train(spark.table("views_sql_lm_docs"))
      val want = ref.totals.collect().head.getLong(0)
      val built = spark.sql(
        s"GRAFT BUILD LM $lfx FROM views_sql_lm_docs BUCKETS 8").collect()
      assert(built.length == 1 && built(0).getLong(2) == want,
        s"LM build must report total training tokens: ${built.toSeq}")
      // the statement is drop-and-build, so a second run reports the
      // same totals
      val again = spark.sql(
        s"GRAFT BUILD LM $lfx FROM views_sql_lm_docs BUCKETS 8").collect()
      assert(again(0).getLong(2) == want, "re-build must not double-count")
      FirstGeneration.check(spark, Seq(LmCountsStream.BigramTable, LmCountsStream.ContextTable,
        LmCountsStream.UnigramTable, LmCountsStream.TotalsTable).map(lfx + _))
      // the built store scores like the one-shot counts
      val eval = spark.table("views_sql_lm_docs").limit(20)
      val got = graft.operators.NgramLm.score(eval, LmCountsStream.readCounts(spark, lfx)).collect()
        .map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
      val exp = graft.operators.NgramLm.score(eval, ref).collect()
        .map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
      assert(got.sameElements(exp))
    } finally LmCountsStream.drop(spark, lfx)
  }

  test("GRAFT BUILD DAILY stands up the anomaly store from pure SQL") {
    GraftViews.register(spark, dir)
    val table = "daily_sql_t"
    graft.streaming.AnomalyMonitorStream.drop(spark, table)
    try {
      val r = spark.sql(s"GRAFT BUILD DAILY $table FROM events BUCKETS 4")
        .collect()
      assert(r.head.getString(0) == table && r.head.getLong(1) > 0)
      val fromStore = graft.queries.AnalyticsQueries
        .madFlags(graft.streaming.AnomalyMonitorStream.daily(spark, table)).collect()
        .map(x => (x.getString(0), x.getLong(1), x.getDouble(2), x.getBoolean(5)))
        .toSet
      val batch = SparkEntry.queries("revenue_anomaly_mad")(spark, dir)
        .collect()
        .map(x => (x.getString(0), x.getLong(1), x.getDouble(2), x.getBoolean(5)))
        .toSet
      assert(fromStore == batch, "SQL-built store must serve the gated flags")
      // drop-and-rebuild: a second run must not double-count
      val r2 = spark.sql(s"GRAFT BUILD DAILY $table FROM events BUCKETS 4")
        .collect()
      assert(r2.head.getLong(1) == r.head.getLong(1))
      FirstGeneration.check(spark, Seq(table))
    } finally graft.streaming.AnomalyMonitorStream.drop(spark, table)
  }

  test("GRAFT BUILD BASKET stands up the co-purchase stores from pure SQL") {
    import org.apache.spark.sql.functions._
    import graft.streaming.BasketStream
    val bfx = "views_sql_basket_"
    BasketStream.drop(spark, bfx)
    try {
      graft.sources.Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("i"))
        .createOrReplaceTempView("views_sql_basket_lines")
      val r = spark.sql(
        s"GRAFT BUILD BASKET $bfx FROM views_sql_basket_lines BUCKETS 4")
        .collect()
      assert(r.head.getString(0) == bfx && r.head.getLong(2) > 0)
      // the SQL-built store serves the gated batch outputs
      def stored(t: String) = graft.sources.BucketedUpsert.read(spark, bfx + t)
      val fromStore = graft.queries.AnalyticsQueries.basketCosine(
        stored(BasketStream.PairsTable)
          .filter(col("c") >= graft.queries.AnalyticsQueries.BasketMinSupport),
        stored(BasketStream.ItemsTable)).collect()
        .map(_.mkString("|")).sorted.toSeq
      val batch = SparkEntry.queries("copurchase_cosine")(spark, dir)
        .collect().map(_.mkString("|")).sorted.toSeq
      assert(fromStore == batch, "SQL-built store must serve the gated cosine")
      // drop-and-rebuild: a second run must not double-count
      val r2 = spark.sql(
        s"GRAFT BUILD BASKET $bfx FROM views_sql_basket_lines BUCKETS 4")
        .collect()
      assert(r2.head.getLong(2) == r.head.getLong(2))
      FirstGeneration.check(spark, Seq(BasketStream.PairsTable, BasketStream.ItemsTable,
        BasketStream.TotalsTable).map(bfx + _))
    } finally BasketStream.drop(spark, bfx)
  }

  test("telemetry-analytics views: funnel/retention/series/motifs in pure SQL") {
    GraftViews.register(spark, dir)
    // funnel stages are 1..3 with positive user counts
    val funnel = spark.sql(
      "SELECT stage, n_users FROM funnel_report ORDER BY stage").collect()
    assert(funnel.nonEmpty && funnel.forall(r =>
      r.getLong(0) >= 1 && r.getLong(0) <= 3 && r.getLong(1) > 0))
    // every cohort's offset-0 retention is exactly 1.0
    assert(spark.sql(
      """SELECT count(*) FROM retention_triangle
        |WHERE week_offset = 0 AND retention_rate <> 1.0""".stripMargin)
      .head().getLong(0) == 0)
    // the gap-filled series and the anomaly frame agree on the day
    // grid per type (a pure-SQL cross-view join)
    assert(spark.sql(
      """SELECT count(*) FROM daily_series s
        |FULL OUTER JOIN daily_anomalies a
        |  ON s.event_type = a.event_type AND s.day = a.day
        |WHERE s.n_events > 0 AND a.day IS NULL""".stripMargin)
      .head().getLong(0) == 0,
      "every active day in the series must appear in the anomaly frame")
    // motif space is bounded by |event types|^3
    val nTypes = spark.sql("SELECT count(DISTINCT event_type) FROM events")
      .head().getLong(0)
    assert(spark.sql("SELECT count(*) FROM behavior_motifs").head().getLong(0)
      <= nTypes * nTypes * nTypes)
  }
}
