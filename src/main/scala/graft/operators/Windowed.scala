package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time windowing: the sliding-window access stats + denial-rate
  * circuit breaker (reference services/user_feature.py:57-73,98-126) and
  * the grant-flip CDC (user_feature.py:32-44), re-expressed as
  * event-time operators (SURVEY.md A5/A6/R7).
  *
  * The reference trims a processing-time deque and has an eviction bug
  * (`discard` drops a user who still has in-window entries,
  * user_feature.py:66-69); the event-time sliding `window()` is the
  * correct semantics and what we implement (documented divergence).
  */
object Windowed {

  /** The reference breaker's cadence: re-evaluate every 15 seconds
    * over a 10-minute lookback (user_feature.py:98-104). The batch
    * queries default to a 5-minute slide — a documented divergence
    * (README): at a 15 s slide every attempt lands in 40 windows
    * instead of 2, a 20× state/shuffle multiplier that buys nothing
    * at batch granularity. Pass these constants to featureStats /
    * featureCircuit / latestFeatureCircuit for exact cadence parity. */
  val ReferenceWindowSize = "10 minutes"
  val ReferenceSlide = "15 seconds"

  /** Distinct-user denial rate with an explicit zero-user guard. The
    * n_users counts ignore NULL user_ids (countDistinct semantics), so
    * a window whose every attempt has a NULL user would divide 0/0 —
    * and NaN compares GREATER than any threshold in Spark's ordering,
    * which would spuriously OPEN the breaker on a window with no
    * denials at all. No users ⇒ rate 0 ⇒ circuit stays closed. */
  private def safeRate =
    when(col("n_users") === 0, lit(0.0))
      .otherwise(col("n_denied_users").cast("double") / col("n_users"))

  /** Seconds in a window-duration string as `window()` accepts it
    * ("15 seconds", "10 minutes", …) — only the units the breaker
    * cadences use. Drives the replica-count plan choice below. */
  private def durationSec(s: String): Long = {
    val parts = s.trim.toLowerCase.split("\\s+")
    require(parts.length == 2, s"unsupported window duration: $s")
    val mult = parts(1).stripSuffix("s") match {
      case "second" => 1L
      case "minute" => 60L
      case "hour"   => 3600L
      case "day"    => 86400L
      case u => throw new IllegalArgumentException(s"unsupported window unit: $u")
    }
    parts(0).toLong * mult
  }

  /** Per (sliding window, ) distinct-user stats over the event stream,
    * treating `error` events as denials (A5). One shuffle on the window
    * key; distinct counts use Spark's Expand+partial-agg, which scales
    * out (state is per (window,gid) — no driver-side collection).
    *
    * At a high-replica cadence (size/slide ≥ 8, e.g. the reference's
    * 10 min / 15 s = 40 windows per event) the sliding window replica
    * multiplier is removed OUTRIGHT by an exact range decomposition
    * (r21; guide §2.3 "shuffle fewer bytes" taken to its limit —
    * shuffle NO replicated rows): events first collapse to one row
    * per (slide-aligned tumble, user) — window membership is a
    * function of the tumble alone, since every slide-aligned window
    * either contains a whole tumble or none of it — and then, instead
    * of exploding each row into its R member windows (the r20 plan:
    * R·|TU| rows through TWO full aggregations), each (user, tumble)
    * run contributes a WINDOW-RANGE [max(tum−(R−1)·s, prev+s), tum]
    * computed from lag(tum) per user: +1 at the range start, −1 one
    * slide past its end. Disjoint by construction, so summing range
    * deltas in window order — one tiny single-partition running sum
    * over ~#tumbles·R window starts, NOT corpus-sized — reproduces
    * the exact distinct-user count per window; per-tumble event/denial
    * totals ride the same endpoint frame with their full [tum−span,
    * tum] range. The heavy data crosses the wire exactly twice (the
    * (tumble,user) collapse and the per-user lag sort), both at
    * |TU| rows with zero replication; output is value-identical to
    * the expand plan (the oracle's 40-way unnest replays it
    * unchanged). Low-replica cadences (2 at the default 5-minute
    * slide) keep the direct plan: there the extra shuffle costs more
    * than the expand saves. */
  def slidingStats(events: DataFrame, size: String = "10 minutes",
                   slide: String = "5 minutes"): DataFrame = {
    val replicas = durationSec(size) / durationSec(slide)
    if (replicas >= 8)
      return slidingStatsRange(events, durationSec(slide) * 1000000L, replicas)
    val perWindowUser =
        events
          // two-phase distinct (see featureStats): per-(window, user)
          // partial counts first — no Expand, and the second shuffle is
          // one row per distinct user per window
          .groupBy(window(col("ts"), size, slide), col("user_id"))
          .agg(
            max(when(col("event_type") === "error", lit(1)).otherwise(lit(0)))
              .as("denied"),
            count(lit(1)).as("n"),
            count(when(col("event_type") === "error", lit(1))).as("nd"))
    perWindowUser
      .groupBy(col("window"))
      // countDistinct(user_id) ignored NULLs; the per-user rewrite
      // must not count a NULL-user group as a distinct user (event
      // totals still include NULL-user events, as count(*) did)
      .agg(count(col("user_id")).as("n_users"),
        coalesce(sum(when(col("user_id").isNotNull, col("denied"))), lit(0L))
          .as("n_denied_users"),
        sum(col("n")).as("n_events"),
        sum(col("nd")).as("n_denials"))
      .select(
        col("window.start").as("win_start"),
        col("n_users"), col("n_denied_users"), col("n_events"), col("n_denials"))
  }

  /** The high-replica plan behind [[slidingStats]] (doc there): exact
    * sliding-window distinct-user stats with ZERO row replication.
    * `slideUs` is the slide in µs, `replicas` = size/slide (windows
    * per tumble). Window starts are handled as epoch-µs longs and
    * converted back to TimestampType only in the final projection —
    * identical values to `window(ts, size, slide).start` for the
    * epoch-aligned cadences the breaker uses. */
  private def slidingStatsRange(events: DataFrame, slideUs: Long,
                                replicas: Long): DataFrame = {
    val spanUs = (replicas - 1) * slideUs
    // one row per (slide-aligned tumble, user): the only corpus-sized
    // aggregation, map-side combinable
    val tu = events
      .groupBy(expr(s"(unix_micros(ts) div $slideUs) * $slideUs").as("tum"),
        col("user_id"))
      .agg(
        max(when(col("event_type") === "error", lit(1)).otherwise(lit(0)))
          .as("denied"),
        count(lit(1)).as("n"),
        count(when(col("event_type") === "error", lit(1))).as("nd"))
    // per-tumble event/denial totals (NULL users included, as count(*)
    // did) — contribute over the full window range [tum-span, tum]
    val byTumble = tu.groupBy(col("tum"))
      .agg(sum(col("n")).as("n_t"), sum(col("nd")).as("nd_t"))
    val zero = lit(0L)
    val evDeltas = byTumble.select(explode(array(
        struct((col("tum") - spanUs).as("win_us"), zero.as("du"),
          zero.as("dd"), col("n_t").as("dn"), col("nd_t").as("dnd")),
        struct((col("tum") + slideUs).as("win_us"), zero.as("du"),
          zero.as("dd"), (-col("n_t")).as("dn"), (-col("nd_t")).as("dnd"))))
        .as("e"))
      .select(col("e.*"))
    // distinct-user ranges: consecutive active tumbles of a user yield
    // DISJOINT new-window ranges [max(tum-span, prev+slide), tum], so
    // the +1/-1 deltas sum to exactly "is this user visible in w".
    // NULL users are excluded (countDistinct semantics).
    def userDeltas(active: DataFrame, field: String): DataFrame = {
      val uw = Window.partitionBy(col("user_id")).orderBy(col("tum"))
      val one = lit(1L)
      active
        .withColumn("lo", greatest(col("tum") - spanUs,
          coalesce(lag(col("tum"), 1).over(uw) + slideUs,
            col("tum") - spanUs)))
        .select(explode(array(
            struct(col("lo").as("win_us"), one.as("d")),
            struct((col("tum") + slideUs).as("win_us"),
              (-one).as("d")))).as("e"))
        .select(col("e.win_us"),
          (if (field == "du") col("e.d") else zero).as("du"),
          (if (field == "dd") col("e.d") else zero).as("dd"),
          zero.as("dn"), zero.as("dnd"))
    }
    val presence = userDeltas(tu.filter(col("user_id").isNotNull), "du")
    val denials = userDeltas(
      tu.filter(col("user_id").isNotNull && col("denied") === 1), "dd")
    // the windows that EXIST in the output: exactly the replica set of
    // every event-bearing tumble — what window(ts, size, slide) emits
    val wins = byTumble.select(explode(
        sequence(col("tum") - spanUs, col("tum"), lit(slideUs)))
        .as("win_us"))
      .distinct()
    // collapse deltas per window start FIRST (map-side combinable,
    // result is window-count-sized), THEN one running sum in window
    // order — single-partition by design, over thousands of rows, not
    // the corpus
    val deltas = evDeltas.unionByName(presence).unionByName(denials)
      .groupBy(col("win_us"))
      .agg(sum(col("du")).as("du"), sum(col("dd")).as("dd"),
        sum(col("dn")).as("dn"), sum(col("dnd")).as("dnd"))
    val cw = Window.orderBy(col("win_us"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .join(wins.withColumn("w_exists", lit(1)), Seq("win_us"), "full_outer")
      .withColumn("n_users", coalesce(sum(col("du")).over(cw), zero))
      .withColumn("n_denied_users", coalesce(sum(col("dd")).over(cw), zero))
      .withColumn("n_events", coalesce(sum(col("dn")).over(cw), zero))
      .withColumn("n_denials", coalesce(sum(col("dnd")).over(cw), zero))
      .filter(col("w_exists") === 1)
      .select(timestamp_micros(col("win_us")).as("win_start"),
        col("n_users"), col("n_denied_users"), col("n_events"),
        col("n_denials"))
  }

  /** Circuit breaker (A6): DISTINCT-USER denial rate > threshold opens
    * the circuit (allow-all). The reference's rate is
    * `len(denied_users) / len(total_users)` (user_feature.py:116-120) —
    * sets of users, not event counts — so one hot user retrying cannot
    * open the breaker alone. */
  def circuit(events: DataFrame, threshold: Double = 0.05,
              size: String = "10 minutes",
              slide: String = "5 minutes"): DataFrame =
    slidingStats(events, size, slide)
      .withColumn("denial_rate", safeRate)
      .withColumn("circuit_open", col("denial_rate") > lit(threshold))
      .select(col("win_start"), col("n_users"), col("n_denied_users"),
        round(col("denial_rate"), 6).as("denial_rate"), col("circuit_open"))

  /** Per-feature sliding-window distinct-user stats over an
    * access-attempt log `[ts, user_id, feature, success]` — the exact
    * state the reference keeps per feature: a 10-minute deque of
    * attempts plus total/denied user sets (user_feature.py:26-30,57-73,
    * minus its eviction bug). One shuffle keyed (feature, window);
    * distinct counts expand map-side, so the plan scales out with the
    * number of (feature, window) groups. */
  def featureStats(attempts: DataFrame, size: String = "10 minutes",
                   slide: String = "5 minutes"): DataFrame = {
    val replicas = durationSec(size) / durationSec(slide)
    val perWindowUser =
      if (replicas >= 8)
        // same high-replica pre-dedup as slidingStats: collapse to one
        // row per (feature, slide-tumble, user) BEFORE the expand, so
        // the reference cadence's 40× multiplies distinct triples, not
        // raw attempts (window membership is a function of the tumble)
        attempts
          .select(col("feature"), window(col("ts"), slide).as("tumble"),
            col("user_id"), col("success"))
          .groupBy(col("feature"), col("tumble"), col("user_id"))
          .agg(max(when(!col("success"), lit(1)).otherwise(lit(0))).as("denied"))
          .groupBy(col("feature"),
            window(col("tumble.start"), size, slide), col("user_id"))
          .agg(max(col("denied")).as("denied"))
      else
        attempts
          // two-phase distinct instead of countDistinct's Expand (which
          // would triple the shuffled rows): first collapse to one row per
          // (feature, window, user) carrying "was this user denied here",
          // then plain counts. Both phases keep map-side partials; the
          // second shuffle is tiny (distinct users per window).
          .groupBy(col("feature"), window(col("ts"), size, slide),
            col("user_id"))
          .agg(max(when(!col("success"), lit(1)).otherwise(lit(0))).as("denied"))
    perWindowUser
      .groupBy(col("feature"), col("window"))
      // count(user_id)/NULL-guarded sum, not count(*): preserves
      // countDistinct's ignore-NULL semantics for a NULL-user attempt
      .agg(count(col("user_id")).as("n_users"),
        coalesce(sum(when(col("user_id").isNotNull, col("denied"))), lit(0L))
          .as("n_denied_users"))
      .select(col("feature"), col("window.start").as("win_start"),
        col("n_users"), col("n_denied_users"))
  }

  /** Per-feature circuit breaker (user_feature.py:106-126): each
    * feature's circuit opens independently on ITS distinct-user denial
    * rate — a denied-user burst against one feature leaves the others'
    * circuits closed. */
  def featureCircuit(attempts: DataFrame, threshold: Double = 0.05,
                     size: String = "10 minutes",
                     slide: String = "5 minutes"): DataFrame =
    featureStats(attempts, size, slide)
      .withColumn("denial_rate", safeRate)
      .withColumn("circuit_open", col("denial_rate") > lit(threshold))
      .select(col("feature"), col("win_start"), col("n_users"),
        col("n_denied_users"), round(col("denial_rate"), 6).as("denial_rate"),
        col("circuit_open"))

  /** Latest window's circuit state per feature as a small joinable
    * frame `[feature, circuit_open]` — the serve-path state. max_by
    * keeps the reduction fully distributed (no orderBy/limit/collect:
    * round 1 fetched the latest window with a global sort to the
    * driver, which does not survive a scale-up). */
  def latestFeatureCircuit(attempts: DataFrame,
                           threshold: Double = 0.05,
                           size: String = "10 minutes",
                           slide: String = "5 minutes"): DataFrame =
    featureCircuit(attempts, threshold, size, slide)
      .groupBy(col("feature"))
      .agg(max_by(col("circuit_open"), col("win_start")).as("circuit_open"))

  /** Per-feature streaming breaker over the access-attempt stream:
    * state is keyed (feature, window), so a burst of denied users
    * against one feature finalizes `circuit_open = true` for that
    * feature's windows only. The watermark bounds window state (the
    * reference trims its deque by hand, user_feature.py:63-69).
    * Streaming aggregation has no exact distinct count, so the stream
    * uses HLL++ (`approx_count_distinct`, exact in sparse mode at
    * small per-window cardinalities); the batch [[featureCircuit]] is
    * the exactness contract. Append mode emits each window once it is
    * final. */
  def featureCircuitStream(attempts: DataFrame, threshold: Double = 0.05,
                           watermark: String = "15 minutes",
                           size: String = "10 minutes",
                           slide: String = "5 minutes"): DataFrame =
    attempts
      .withWatermark("ts", watermark)
      .groupBy(col("feature"), window(col("ts"), size, slide))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("n_users"),
        approx_count_distinct(when(!col("success"), col("user_id")), 0.01)
          .as("n_denied_users"))
      .select(col("feature"), col("window.start").as("win_start"),
        col("n_users"), col("n_denied_users"),
        (safeRate > lit(threshold)).as("circuit_open"))

  /** Grant-flip CDC (R7): evaluate the grant after every event in
    * per-user time order (running aggregates), emit only the rows where
    * the grant CHANGED (reference user_feature.py:32-44 acts only on
    * state change). Batch formulation of the streaming
    * flatMapGroupsWithState semantics: lag() over a per-user window.
    *
    * One shuffle+sort on user_id; running sums and lag share the same
    * window spec, so Catalyst plans a single Window operator.
    */
  def grantFlips(events: DataFrame, ratioThreshold: Double = 1.0): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Decimal running sums + multiply-compare instead of a double
    // division: the test data plants users whose error and purchase
    // totals are EXACTLY equal, where double accumulation order (which
    // differs between engines and between partitionings) decides the
    // grant. Decimal addition is exact and order-independent, and
    // `run_e < run_p * t` avoids quotient rounding entirely.
    events
      .withColumn("run_purchase",
        sum(when(col("event_type") === "purchase",
          col("value").cast("decimal(28,6)"))).over(running))
      .withColumn("run_error",
        sum(when(col("event_type") === "error",
          col("value").cast("decimal(28,6)"))).over(running))
      .withColumn("granted",
        when(coalesce(col("run_purchase"), lit(0)) === 0, lit(true))
          .otherwise(coalesce(col("run_error"), lit(0)) <
            // decimal literal: lit(Double) would demote the whole
            // comparison to floating point again
            col("run_purchase") * lit(java.math.BigDecimal.valueOf(ratioThreshold))))
      .withColumn("prev_granted", lag(col("granted"), 1).over(byUser))
      .filter(col("prev_granted").isNotNull && col("prev_granted") =!= col("granted"))
      .select(col("user_id"), col("event_id"), col("ts"), col("granted"))
  }
}
