package graft.queries

import graft.Memo
import graft.config.DefaultConfig
import graft.operators.{AsOf, EventAggregates, Grants, Windowed}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's core event pipeline as batch queries over the
  * driver's `events` table — every [S] operator from SURVEY.md §2.2-2.5
  * (schema filter, JSON property extraction, the three aggregate types,
  * the aggregate-aggregate join, null-safe DIVIDE, denom_min, feature
  * conjunction grants, default-grant lookup, sliding-window stats,
  * circuit breaker, grant-flip CDC, access check).
  */
object EventQueries extends QueryModule {
  private val cfg = DefaultConfig.config
  private def events(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)
  // For queries whose dominant cost is per-row JSON parsing of `props`:
  // a split-starved events file would run every from_json on one core
  // (sf1 sweep, BENCHNOTES.md); the rebalance restores scan parallelism.
  private def eventsJson(s: SparkSession, dir: String): DataFrame =
    Tables.eventsRebalanced(s, dir)

  /** Session-scoped memo of the per-user aggregate frame — the spine
    * every A/R/J query stands on. Registering it once in the cache
    * means every later plan equal to it (a1/a2/a3, the rule queries,
    * the grants views, AccessService.serveFrames' wide build) reads
    * the InMemoryRelation instead of re-aggregating the events scan.
    * One ~|users|-row frame per (session, source). */
  private val perUserCached = memo("per_user_aggs", Seq("events.parquet"), warm = true) {
    (s, dir) => Memo.cache(EventAggregates.perUser(events(s, dir), cfg.aggregates))
  }

  /** Shared oracle CTE: the per-user aggregate frame, mirroring
    * EventAggregates.perUser. event_id is unique in the test data, so
    * the dedup is a no-op there (dedup itself is unit-tested). */
  private val aggCte =
    """WITH agg AS (
      |  SELECT user_id,
      |         count(CASE WHEN event_type = 'signup' THEN event_id END) AS total_signups,
      |         count(DISTINCT CASE WHEN event_type = 'click' THEN CAST(props::JSON->>'k' AS BIGINT) END) AS distinct_click_keys,
      |         coalesce(sum(CASE WHEN event_type = 'purchase' THEN value END), 0.0) AS total_purchase_amount,
      |         coalesce(sum(CASE WHEN event_type = 'error' THEN value END), 0.0) AS total_error_amount,
      |         count(CASE WHEN event_type = 'error' THEN event_id END) AS total_errors
      |  FROM events GROUP BY user_id)""".stripMargin

  private val registered = cfg.aggregates.map(_.eventType).distinct

  /** Wide grants CTE (depends on aggCte): one boolean per feature,
    * mirroring Grants.wide over DefaultConfig. */
  private val gWideCte =
    """g AS (
      |  SELECT user_id,
      |    (CASE WHEN coalesce(total_purchase_amount, 0) < 500.0 THEN TRUE
      |          ELSE coalesce(total_error_amount / nullif(total_purchase_amount, 0) < 1.0, TRUE) END
      |     AND coalesce(total_errors < 15.0, TRUE)) AS purchase,
      |    coalesce(total_errors < 15.0, TRUE) AS message
      |  FROM agg)""".stripMargin

  /** Access-attempt log CTE (depends on gWideCte), mirroring
    * AccessService.attempts: every event access-checks every
    * registered feature; success = the user's grant (default TRUE). */
  private val attCte =
    """att AS (
      |  SELECT e.ts, e.user_id, f.feature,
      |         CASE f.feature WHEN 'purchase' THEN coalesce(g.purchase, TRUE)
      |                        ELSE coalesce(g.message, TRUE) END AS success
      |  FROM events e
      |  LEFT JOIN g ON e.user_id = g.user_id
      |  CROSS JOIN (SELECT unnest(['purchase','message']) AS feature) f)""".stripMargin

  /** Sliding 10-min/5-min windows over the attempt log (depends on
    * attCte): each attempt lands in two window starts. */
  private val attWinCte =
    """w AS (
      |  SELECT feature, make_timestamp(t.s) AS win_start, user_id, success
      |  FROM att,
      |       unnest([(epoch_us(ts) // 300000000) * 300000000,
      |               (epoch_us(ts) // 300000000) * 300000000 - 300000000]) AS t(s))""".stripMargin

  val all: Seq[Q] = Seq(

    // P1: schema registry filter — unregistered event names rejected
    // (reference app.py:19-28). 'view' is the unregistered type here.
    Q("p1_filter_registered",
      (s, dir) => events(s, dir)
        .filter(col("event_type").isin(registered: _*))
        .groupBy(col("event_type")).agg(count(lit(1)).as("n")),
      Some(s"""SELECT event_type, count(*) AS n FROM events
              |WHERE event_type IN (${registered.map(r => s"'$r'").mkString(",")})
              |GROUP BY event_type""".stripMargin)),

    // P2: JSON property parse/validate (reference app.py:30-41);
    // integer sums keep the oracle comparison exact.
    Q("p2_props_extract",
      (s, dir) => eventsJson(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_k"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k")),
      Some("""SELECT event_type,
             |       count(CAST(props::JSON->>'k' AS BIGINT)) AS n_k,
             |       CAST(sum(CAST(props::JSON->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
             |       min(CAST(props::JSON->>'k' AS BIGINT))   AS min_k,
             |       max(CAST(props::JSON->>'k' AS BIGINT))   AS max_k
             |FROM events GROUP BY event_type""".stripMargin)),

    // P1+P2 as the reusable ingest API: schema-registry classification
    // with dead-letter routing (EventIngest; reference app.py:19-44)
    Q("ingest_classify",
      (s, dir) => graft.sources.EventIngest.classify(eventsJson(s, dir))
        .groupBy(col("ingest_status"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          count(col("props_parsed.k")).as("n_parsed_k")),
      Some("""SELECT CASE
             |         WHEN event_type NOT IN ('click','signup','purchase','error')
             |           THEN 'unknown_event_type'
             |         WHEN try_cast(props AS JSON) IS NULL
             |              OR json_extract(try_cast(props AS JSON), '$.k') IS NULL
             |           THEN 'invalid_properties'
             |         ELSE 'valid'
             |       END AS ingest_status,
             |       event_type,
             |       count(*) AS n,
             |       count(CASE WHEN event_type IN ('click','signup','purchase','error')
             |                  THEN CAST(try_cast(props AS JSON)->>'k' AS BIGINT) END) AS n_parsed_k
             |FROM events
             |GROUP BY 1, 2""".stripMargin)),

    // A1: COUNT aggregate, dedup-by-uuid (reference aggregate.py:52-54)
    Q("a1_count_dedup",
      (s, dir) => perUserCached(s, dir)
        .select(col("user_id"), col("total_signups")),
      Some(aggCte + "\nSELECT user_id, total_signups FROM agg")),

    // A2: DISTINCT_COUNT(field) (reference aggregate.py:59-60)
    Q("a2_distinct_count",
      (s, dir) => perUserCached(s, dir)
        .select(col("user_id"), col("distinct_click_keys")),
      Some(aggCte + "\nSELECT user_id, distinct_click_keys FROM agg")),

    // A2 scale path: HLL approximate distinct count (opt-in; exact
    // count_distinct stays the correctness contract, SURVEY.md A2).
    // The sketch VALUE is engine-specific (DuckDB's approx sketch
    // differs from Spark's), so the raw estimate never leaves the
    // query — the output is the CHECK itself: the exact per-user
    // count (DuckDB recomputes it) plus the within_bound verdict the
    // oracle asserts as the constant claim "every user's estimate is
    // inside max(2, 10%) of exact". Both sides of the verdict are
    // deterministic in Spark (HLL++ register maxes are merge-order
    // free), so the full row set sits under the hash gate — a sketch
    // regression past the bound now flips the gate red instead of
    // hiding in a rows-only check.
    Q("a2_distinct_approx",
      (s, dir) => eventsJson(s, dir)
        .filter(col("event_type") === "click")
        .groupBy(col("user_id"))
        .agg(
          countDistinct(get_json_object(col("props"), "$.k").cast("long"))
            .as("distinct_click_keys"),
          approx_count_distinct(
            get_json_object(col("props"), "$.k").cast("long"), 0.02)
            .as("approx_click_keys"))
        .select(col("user_id"), col("distinct_click_keys"),
          (abs(col("distinct_click_keys") - col("approx_click_keys"))
            <= greatest(lit(2.0), col("distinct_click_keys") * 0.1)).as("within_bound")),
      Some("""SELECT user_id,
             |       count(DISTINCT CAST(props::JSON->>'k' AS BIGINT)) AS distinct_click_keys,
             |       TRUE AS within_bound
             |FROM events WHERE event_type = 'click'
             |GROUP BY user_id""".stripMargin)),

    // A2 scale path #2: the custom TypedImperativeAggregate HLL sketch
    // (graft.functions.expressions.HllSketchAgg) — mergeable fixed-size
    // state; same gated-check shape as a2_distinct_approx (exact
    // count recomputed by DuckDB, bound verdict asserted as the
    // oracle's constant claim — the estimate itself stays internal).
    Q("a2_distinct_hll",
      (s, dir) => eventsJson(s, dir)
        .filter(col("event_type") === "click")
        .groupBy(col("user_id"))
        .agg(
          countDistinct(get_json_object(col("props"), "$.k").cast("long"))
            .as("exact_keys"),
          graft.functions.expressions.HllSketchAgg(
            get_json_object(col("props"), "$.k").cast("long")).as("hll_keys"))
        .select(col("user_id"), col("exact_keys"),
          (abs(col("exact_keys") - col("hll_keys"))
            <= greatest(lit(3.0), col("exact_keys") * 0.1)).as("within_bound")),
      Some("""SELECT user_id,
             |       count(DISTINCT CAST(props::JSON->>'k' AS BIGINT)) AS exact_keys,
             |       TRUE AS within_bound
             |FROM events WHERE event_type = 'click'
             |GROUP BY user_id""".stripMargin)),

    // A2 through the EXACT-GATE sketch: per-user distinct click keys
    // via the md5-40 KMV sketch (the source_overlap_kmv_md5 family
    // applied to the reference's DISTINCT_COUNT aggregate). Per-user
    // key cardinalities sit far below the k=256 capacity, where a KMV
    // sketch is EXACT by construction (it holds every distinct hash)
    // — so unlike the HLL/approx rows this sketch path hash-matches a
    // DuckDB replay (distinct md5-40 per user + count), and the
    // exact_below_capacity column proves estimate ≡ exact inside the
    // gate itself. The sketch's value at 100 TB: fixed-size mergeable
    // state per group (the countDistinct expands per-key rows; the
    // sketch caps at k hashes) — this query documents when that trade
    // is also lossless.
    Q("a2_distinct_kmv_md5",
      (s, dir) => eventsJson(s, dir)
        .filter(col("event_type") === "click")
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").as("ks"))
        // the oracle's CTE filters null keys; without this a user whose
        // clicks ALL lack props.k would exist only on the Spark side
        // (exact_keys=0) — align on degenerate users explicitly
        .filter(col("ks").isNotNull)
        .groupBy(col("user_id"))
        .agg(countDistinct(col("ks")).as("exact_keys"),
          graft.functions.expressions.KmvEstimateFp(
            graft.functions.expressions.KmvSketchBuildMd5(col("ks"), 256))
            .as("kmv_keys"))
        .select(col("user_id"), col("exact_keys"), col("kmv_keys"),
          (col("exact_keys") === col("kmv_keys")).as("exact_below_capacity")),
      Some("""WITH c AS (SELECT user_id, props::JSON->>'k' AS ks
             |           FROM events
             |           WHERE event_type = 'click'
             |             AND (props::JSON->>'k') IS NOT NULL),
             |h AS (SELECT DISTINCT user_id,
             |             ('0x' || substr(md5(ks), 1, 10))::BIGINT AS h
             |      FROM c),
             |r AS (SELECT user_id, h,
             |             row_number() OVER (PARTITION BY user_id ORDER BY h) AS rn
             |      FROM h),
             |sk AS (SELECT user_id, h FROM r WHERE rn <= 256),
             |st AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             |              CASE WHEN count(*) >= 256 THEN max(h)
             |                   ELSE 1099511627776 END AS th
             |       FROM sk GROUP BY user_id),
             |ex AS (SELECT user_id, CAST(count(DISTINCT ks) AS BIGINT) AS exact_keys
             |       FROM c GROUP BY user_id)
             |SELECT ex.user_id, ex.exact_keys,
             |       CASE WHEN st.n < 256 THEN st.n
             |            ELSE (255 * 1099511627776) // st.th END AS kmv_keys,
             |       ex.exact_keys = (CASE WHEN st.n < 256 THEN st.n
             |            ELSE (255 * 1099511627776) // st.th END) AS exact_below_capacity
             |FROM ex JOIN st ON ex.user_id = st.user_id""".stripMargin)),

    // A3: SUM(field) dedup-by-uuid (reference aggregate.py:55-58)
    Q("a3_sum_dedup",
      (s, dir) => perUserCached(s, dir)
        .select(col("user_id"),
          round(col("total_purchase_amount"), 4).as("total_purchase_amount")),
      Some(aggCte +
        "\nSELECT user_id, round(total_purchase_amount, 4) AS total_purchase_amount FROM agg")),

    // J4: the one real data-data join of the core — numerator frame ⨝
    // denominator frame per user (reference rules.py:56-62 reads two
    // aggregates for the same user). Built as an explicit full-outer
    // join of two independently-aggregated frames.
    Q("j4_agg_join",
      (s, dir) => {
        val e = events(s, dir)
        val p = e.filter(col("event_type") === "purchase").groupBy(col("user_id"))
          .agg(sum(col("value")).as("purchase_sum"))
        val x = e.filter(col("event_type") === "error").groupBy(col("user_id"))
          .agg(sum(col("value")).as("error_sum"))
        p.join(x, Seq("user_id"), "full_outer")
          .select(col("user_id"),
            round(coalesce(col("purchase_sum"), lit(0.0)), 4).as("purchase_sum"),
            round(coalesce(col("error_sum"), lit(0.0)), 4).as("error_sum"))
      },
      Some("""SELECT coalesce(p.user_id, x.user_id) AS user_id,
             |       round(coalesce(p.purchase_sum, 0.0), 4) AS purchase_sum,
             |       round(coalesce(x.error_sum, 0.0), 4)    AS error_sum
             |FROM (SELECT user_id, sum(value) AS purchase_sum FROM events
             |      WHERE event_type = 'purchase' GROUP BY user_id) p
             |FULL OUTER JOIN
             |     (SELECT user_id, sum(value) AS error_sum FROM events
             |      WHERE event_type = 'error' GROUP BY user_id) x
             |ON p.user_id = x.user_id""".stripMargin)),

    // R2: null-safe DIVIDE (reference rules.py:56-62; divergence doc'd)
    Q("r2_divide_nullsafe",
      (s, dir) => perUserCached(s, dir)
        .select(col("user_id"),
          round(Grants.ruleValue(cfg.rule("error_ratio_low")), 6).as("error_ratio")),
      Some(aggCte +
        "\nSELECT user_id, round(total_error_amount / nullif(total_purchase_amount, 0), 6) AS error_ratio FROM agg")),

    // R3+R4: denom_min small-sample override + LT condition
    // (reference rules.py:34,58-59,68-75)
    Q("r3_denom_min",
      (s, dir) => perUserCached(s, dir)
        .select(col("user_id"), col("total_signups").as("denom"),
          Grants.ruleAbides(cfg.rule("click_key_spread")).as("abides")),
      Some(aggCte +
        """
          |SELECT user_id, total_signups AS denom,
          |       CASE WHEN coalesce(total_signups, 0) < 3.0 THEN TRUE
          |            ELSE coalesce(distinct_click_keys / nullif(total_signups, 0) < 2.5, TRUE)
          |       END AS abides
          |FROM agg""".stripMargin)),

    // R5 (+R1,R2,R3): features = AND of rules, long-form grants view
    // (reference event_processer.py:50-63)
    Q("r5_feature_grants",
      (s, dir) => Grants.long(
        perUserCached(s, dir), cfg),
      Some(aggCte + ",\n" +
        """g AS (
          |  SELECT user_id,
          |    (CASE WHEN coalesce(total_purchase_amount, 0) < 500.0 THEN TRUE
          |          ELSE coalesce(total_error_amount / nullif(total_purchase_amount, 0) < 1.0, TRUE) END
          |     AND coalesce(total_errors < 15.0, TRUE)) AS purchase,
          |    coalesce(total_errors < 15.0, TRUE) AS message
          |  FROM agg)
          |SELECT user_id, 'purchase' AS feature, purchase AS has_grant FROM g
          |UNION ALL
          |SELECT user_id, 'message' AS feature, message AS has_grant FROM g""".stripMargin)),

    // J5+R9: grant point-lookup with default-grant for unseen users
    // (reference user_feature.py:75-79, rules.py:112). The orders
    // custkey universe is wider than the events user universe, so the
    // coalesce(default TRUE) branch is genuinely exercised.
    Q("j5_grant_lookup",
      (s, dir) => {
        val universe = Tables.orders(s, dir)
          .select(col("o_custkey").as("user_id")).distinct()
        val g = Grants.wide(
          perUserCached(s, dir), cfg)
          .select(col("user_id"), col("purchase"))
        universe.join(g, Seq("user_id"), "left_outer")
          .select(col("user_id"),
            coalesce(col("purchase"), lit(true)).as("has_grant"))
      },
      Some(aggCte + ",\n" +
        """g AS (
          |  SELECT user_id,
          |    (CASE WHEN coalesce(total_purchase_amount, 0) < 500.0 THEN TRUE
          |          ELSE coalesce(total_error_amount / nullif(total_purchase_amount, 0) < 1.0, TRUE) END
          |     AND coalesce(total_errors < 15.0, TRUE)) AS purchase
          |  FROM agg),
          |u AS (SELECT DISTINCT o_custkey AS user_id FROM orders)
          |SELECT u.user_id, coalesce(g.purchase, TRUE) AS has_grant
          |FROM u LEFT JOIN g ON u.user_id = g.user_id""".stripMargin)),

    // A5: sliding-window distinct users / denials (reference
    // user_feature.py:57-73, with its eviction bug fixed by
    // construction — see Windowed.slidingStats)
    Q("a5_sliding_window",
      (s, dir) => Windowed.slidingStats(events(s, dir)),
      Some("""WITH w AS (
             |  SELECT make_timestamp(t.s) AS win_start, user_id, event_type
             |  FROM events,
             |       unnest([(epoch_us(ts) // 300000000) * 300000000,
             |               (epoch_us(ts) // 300000000) * 300000000 - 300000000]) AS t(s))
             |SELECT win_start,
             |       count(DISTINCT user_id) AS n_users,
             |       count(DISTINCT CASE WHEN event_type = 'error' THEN user_id END) AS n_denied_users,
             |       count(*) AS n_events,
             |       count(CASE WHEN event_type = 'error' THEN 1 END) AS n_denials
             |FROM w GROUP BY win_start""".stripMargin)),

    // A6: circuit breaker on the DISTINCT-USER denial rate — the
    // reference's len(denied_users)/len(total_users)
    // (user_feature.py:116-120), not an event-count rate
    Q("a6_circuit_breaker",
      (s, dir) => Windowed.circuit(events(s, dir)),
      Some("""WITH w AS (
             |  SELECT make_timestamp(t.s) AS win_start, user_id, event_type
             |  FROM events,
             |       unnest([(epoch_us(ts) // 300000000) * 300000000,
             |               (epoch_us(ts) // 300000000) * 300000000 - 300000000]) AS t(s)),
             |c AS (SELECT win_start,
             |             count(DISTINCT user_id) AS n_users,
             |             count(DISTINCT CASE WHEN event_type = 'error' THEN user_id END) AS n_denied_users
             |      FROM w GROUP BY win_start)
             |SELECT win_start, n_users, n_denied_users,
             |       round(n_denied_users / (1.0 * n_users), 6) AS denial_rate,
             |       n_denied_users / (1.0 * n_users) > 0.05 AS circuit_open
             |FROM c""".stripMargin)),

    // A6 at the REFERENCE cadence (user_feature.py:98-104): the
    // breaker loop re-evaluates a 10-minute lookback every 15
    // SECONDS. The batch queries default to a 5-minute slide (each
    // attempt in 2 windows, not 40 — a documented divergence); this
    // gate makes the reference cadence SELECTABLE, wired through
    // CircuitStore.cadence(referenceCadence = true), and pins its
    // batch semantics: same distinct-user rate, 40 window starts per
    // event in the oracle's unnest.
    Q("a6_circuit_breaker_ref",
      (s, dir) => {
        val c = graft.sources.CircuitStore.cadence(referenceCadence = true)
        Windowed.circuit(events(s, dir), size = c.size, slide = c.slide)
      },
      Some("""WITH w AS (
             |  SELECT make_timestamp((epoch_us(ts) // 15000000) * 15000000
             |                        - r.k * 15000000) AS win_start,
             |         user_id, event_type
             |  FROM events CROSS JOIN range(0, 40) AS r(k)),
             |c AS (SELECT win_start,
             |             count(DISTINCT user_id) AS n_users,
             |             count(DISTINCT CASE WHEN event_type = 'error' THEN user_id END) AS n_denied_users
             |      FROM w GROUP BY win_start)
             |SELECT win_start, n_users, n_denied_users,
             |       round(n_denied_users / (1.0 * n_users), 6) AS denial_rate,
             |       n_denied_users / (1.0 * n_users) > 0.05 AS circuit_open
             |FROM c""".stripMargin)),

    // S4 read-path side effect: every API touch logs an access attempt
    // per registered feature with the user's REAL grant as `success`
    // (reference user_feature.py:52-55) — the stream the breaker feeds on
    Q("access_log",
      (s, dir) => graft.operators.AccessService
        .serveFrames(s, dir, cfg)._2
        .select(unix_micros(col("ts")).as("ts_us"), col("user_id"),
          col("feature"), col("success")),
      Some(aggCte + ",\n" + gWideCte + "\n" +
        """SELECT epoch_us(e.ts) AS ts_us, e.user_id, f.feature,
          |       CASE f.feature WHEN 'purchase' THEN coalesce(g.purchase, TRUE)
          |                      ELSE coalesce(g.message, TRUE) END AS success
          |FROM events e
          |LEFT JOIN g ON e.user_id = g.user_id
          |CROSS JOIN (SELECT unnest(['purchase','message']) AS feature) f""".stripMargin)),

    // A6 per-feature: each feature's circuit opens independently on its
    // own distinct-user denial rate over the access-attempt log
    // (reference keys circuits/logs/user-sets by feature,
    // user_feature.py:26-30,106-126)
    Q("a6_feature_circuit",
      (s, dir) => Windowed.featureCircuit(graft.operators.AccessService
        .serveFrames(s, dir, cfg)._2),
      Some(aggCte + ",\n" + gWideCte + ",\n" + attCte + ",\n" + attWinCte + "\n" +
        """SELECT feature, win_start,
          |       count(DISTINCT user_id) AS n_users,
          |       count(DISTINCT CASE WHEN NOT success THEN user_id END) AS n_denied_users,
          |       round(count(DISTINCT CASE WHEN NOT success THEN user_id END)
          |             / (1.0 * count(DISTINCT user_id)), 6) AS denial_rate,
          |       count(DISTINCT CASE WHEN NOT success THEN user_id END)
          |         / (1.0 * count(DISTINCT user_id)) > 0.05 AS circuit_open
          |FROM w GROUP BY feature, win_start""".stripMargin)),

    // Sessionization (extension surface): session_window with 30-min
    // gap vs a gaps-and-islands oracle. Session starts are emitted as
    // epoch-µs BIGINTs (raw ns timestamps never leave the engine).
    Q("sessionization",
      (s, dir) => events(s, dir)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("session"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session.start")).as("session_start_us"),
          col("n_events")),
      Some("""WITH o AS (
             |  SELECT user_id, epoch_us(ts) AS tus,
             |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
             |  FROM events),
             |m AS (SELECT user_id, tus,
             |             CASE WHEN prev IS NULL OR tus - prev >= 1800000000 THEN 1 ELSE 0 END AS new_s
             |      FROM o),
             |s AS (SELECT user_id, tus,
             |             sum(new_s) OVER (PARTITION BY user_id ORDER BY tus
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |      FROM m)
             |SELECT user_id, min(tus) AS session_start_us, count(*) AS n_events
             |FROM s GROUP BY user_id, sid""".stripMargin)),

    // Binned range join: each event matched to ITS session interval
    // via the equi-join-on-(user, time-bin) pattern (RangeJoin.binned)
    // — the scale-safe form of a point-in-interval join (a raw
    // BETWEEN join plans as a nested loop). Oracle = assign sessions
    // by gaps-and-islands and read off each event's session start.
    Q("range_join_binned",
      (s, dir) => {
        val e = events(s, dir)
        val sessions = e
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
          .agg(count(lit(1)).as("n"))
          .select(col("user_id"), col("w.start").as("s_start"), col("w.end").as("s_end"))
        graft.operators.RangeJoin.binned(
          e.select(col("event_id"), col("user_id"), col("ts")),
          sessions, "user_id", "ts", "s_start", "s_end",
          binMicros = 1800000000L) // 30-min bins ≈ the session gap
          .select(col("event_id"), col("user_id"),
            unix_micros(col("s_start")).as("session_start_us"))
      },
      Some("""WITH o AS (
             |  SELECT event_id, user_id, epoch_us(ts) AS tus,
             |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
             |  FROM events),
             |m AS (SELECT event_id, user_id, tus,
             |             CASE WHEN prev IS NULL OR tus - prev >= 1800000000 THEN 1 ELSE 0 END AS new_s
             |      FROM o),
             |s AS (SELECT event_id, user_id, tus,
             |             sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |      FROM m)
             |SELECT event_id, user_id,
             |       min(tus) OVER (PARTITION BY user_id, sid) AS session_start_us
             |FROM s""".stripMargin)),

    // R7: grant-flip CDC — emit only on state change (reference
    // user_feature.py:32-44), batch form via running aggs + lag
    Q("r7_grant_flips",
      (s, dir) => Windowed.grantFlips(events(s, dir))
        .select(col("user_id"), col("event_id"), col("granted")),
      Some("""WITH t AS (
             |  SELECT user_id, event_id, ts,
             |    sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(28,6)) END)
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_p,
             |    sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(28,6)) END)
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_e
             |  FROM events),
             |g AS (SELECT user_id, event_id, ts,
             |             CASE WHEN coalesce(run_p, 0) = 0 THEN TRUE
             |                  ELSE coalesce(run_e, 0) < run_p * 1.0 END AS granted
             |      FROM t),
             |f AS (SELECT *, lag(granted) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
             |      FROM g)
             |SELECT user_id, event_id, granted
             |FROM f WHERE prev IS NOT NULL AND prev <> granted""".stripMargin)),

    // R8: access = circuit_open OR grant (reference user_feature.py:46-55),
    // joining each feature's LATEST circuit window against the grants
    // view — two features can be in different circuit states
    // (per-feature circuits, user_feature.py:26,106-126)
    Q("r8_access_check",
      (s, dir) => {
        // the shared serve-tier materialization: one cached wide-grants
        // frame + attempt log feeds this check, the access log, and the
        // per-feature circuits (AccessService.serveFrames)
        val (wide, att) = graft.operators.AccessService
          .serveFrames(s, dir, cfg)
        val circuits = Windowed.latestFeatureCircuit(att)
        val g = Grants.longFromWide(wide, cfg)
        g.join(broadcast(circuits), Seq("feature"), "left_outer")
          .select(col("user_id"), col("feature"), col("has_grant"),
            coalesce(col("circuit_open"), lit(false)).as("circuit_open"),
            (coalesce(col("circuit_open"), lit(false)) || col("has_grant"))
              .as("has_access"))
      },
      Some(aggCte + ",\n" + gWideCte + ",\n" + attCte + ",\n" + attWinCte + ",\n" +
        """c AS (SELECT feature, win_start,
          |             count(DISTINCT CASE WHEN NOT success THEN user_id END)
          |               / (1.0 * count(DISTINCT user_id)) > 0.05 AS circuit_open
          |      FROM w GROUP BY feature, win_start),
          |latest AS (SELECT feature, arg_max(circuit_open, win_start) AS circuit_open
          |           FROM c GROUP BY feature),
          |gl AS (SELECT user_id, 'purchase' AS feature, purchase AS has_grant FROM g
          |       UNION ALL
          |       SELECT user_id, 'message' AS feature, message AS has_grant FROM g)
          |SELECT gl.user_id, gl.feature, gl.has_grant,
          |       coalesce(l.circuit_open, FALSE) AS circuit_open,
          |       (coalesce(l.circuit_open, FALSE) OR gl.has_grant) AS has_access
          |FROM gl LEFT JOIN latest l ON gl.feature = l.feature""".stripMargin)),

    // Native as-of join (custom LogicalPlan + Strategy + SparkPlan,
    // graft.plans): same semantics and oracle as asof_click_attribution,
    // executed by the co-partitioned linear-merge AsOfJoinExec
    Q("asof_native_click",
      (s, dir) => {
        val e = events(s, dir)
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts"))
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("cts"))
        graft.operators.AsOfNative
          .join(purchases, clicks, "user_id", "ts", "cts", "event_id", "click_id")
          .toDF("user_id", "event_id", "ts", "b_user_id", "asof_click_id", "cts")
          .select(col("user_id"), col("event_id"), col("asof_click_id"))
      },
      Some("""WITH u AS (
             |  SELECT user_id, ts, 1 AS side, event_id, NULL::BIGINT AS click_id
             |  FROM events WHERE event_type = 'purchase'
             |  UNION ALL
             |  SELECT user_id, ts, 0 AS side, NULL::BIGINT, event_id
             |  FROM events WHERE event_type = 'click'),
             |w AS (
             |  SELECT user_id, side, event_id,
             |         last_value(click_id IGNORE NULLS)
             |           OVER (PARTITION BY user_id ORDER BY ts, side, coalesce(event_id, click_id)
             |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_click_id
             |  FROM u)
             |SELECT user_id, event_id, asof_click_id
             |FROM w WHERE side = 1""".stripMargin)),

    // FORWARD as-of: for each click, the FIRST purchase of the same
    // user at or after it — the LABEL-GENERATION join of a training
    // pipeline ("did the user purchase after this interaction, and
    // how fast"), the time-mirror of the attribution join below.
    // Forward joins are where label leakage lives, so the direction
    // deserves its own oracled operator: a backward join here would
    // silently train on the future. Clicks with no future purchase
    // keep a NULL label (left join semantics — the carried columns
    // stay NULL; label-coverage stats need them).
    // Plan: AsOf.join on NEGATED timestamps — "first purchase at or
    // after the click" is "most recent purchase at or before" on the
    // time-mirrored axis — so the cost is the backward join's: ONE
    // user-keyed shuffle + per-user sort, where the former
    // join-then-min shape fanned each user's clicks × purchases
    // through a task before aggregating (the r19 PlanAudit
    // cross-side-range-residual class; AsofLabelSpec pins parity
    // with the naive shape and the bot-user bound). Tie-break: among
    // purchases at the same earliest p_us, AsOf's last-in-order wins,
    // so the negated-id tie column makes that min(purchase_id) —
    // matching the oracle's min() exactly.
    Q("asof_next_purchase_label",
      (s, dir) => {
        val e = events(s, dir).select(col("user_id"), col("event_type"),
          col("event_id"), unix_micros(col("ts")).as("us"))
        val c = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("us").as("c_us"), (-col("us")).as("neg_us"))
        val p = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("us").as("p_us"), (-col("us")).as("neg_us"),
            (-col("event_id")).as("neg_pid"))
        AsOf.join(c, p, "user_id", "neg_us", "neg_us",
          "click_id", "neg_pid", Seq("purchase_id", "p_us"))
          .select(col("click_id"), col("user_id"),
            col("asof_purchase_id").as("label_purchase_id"),
            (col("asof_p_us") - col("c_us")).as("label_lag_us"))
      },
      Some("""WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_us
             |           FROM events WHERE event_type = 'click'),
             |p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
             |      FROM events WHERE event_type = 'purchase'),
             |f AS (SELECT c.user_id, c.click_id, c.c_us, min(p.p_us) AS p_us
             |      FROM c JOIN p ON c.user_id = p.user_id AND p.p_us >= c.c_us
             |      GROUP BY 1, 2, 3),
             |l AS (SELECT f.click_id, f.c_us, f.p_us,
             |             min(p.purchase_id) AS purchase_id
             |      FROM f JOIN p ON f.user_id = p.user_id AND f.p_us = p.p_us
             |      GROUP BY 1, 2, 3)
             |SELECT c.click_id, c.user_id,
             |       l.purchase_id AS label_purchase_id,
             |       l.p_us - c.c_us AS label_lag_us
             |FROM c LEFT JOIN l ON c.click_id = l.click_id""".stripMargin)),

    // As-of join (extension §7.4): for each purchase event, the most
    // recent click of the same user at or before it — the
    // point-in-time attribution join, via AsOf.join (one shuffle).
    Q("asof_click_attribution",
      (s, dir) => {
        val e = events(s, dir)
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts"))
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
        AsOf.join(purchases, clicks, "user_id", "ts", "ts",
          "event_id", "click_id", Seq("click_id"))
          .select(col("user_id"), col("event_id"), col("asof_click_id"))
      },
      Some("""WITH u AS (
             |  SELECT user_id, ts, 1 AS side, event_id, NULL::BIGINT AS click_id
             |  FROM events WHERE event_type = 'purchase'
             |  UNION ALL
             |  SELECT user_id, ts, 0 AS side, NULL::BIGINT, event_id
             |  FROM events WHERE event_type = 'click'),
             |w AS (
             |  SELECT user_id, side, event_id,
             |         last_value(click_id IGNORE NULLS)
             |           OVER (PARTITION BY user_id ORDER BY ts, side, coalesce(event_id, click_id)
             |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_click_id
             |  FROM u)
             |SELECT user_id, event_id, asof_click_id
             |FROM w WHERE side = 1""".stripMargin))
  )
}
