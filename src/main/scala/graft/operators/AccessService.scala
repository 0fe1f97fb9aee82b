package graft.operators

import graft.Memo
import graft.config.EngineConfig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The read path (SURVEY.md §3.2, S4/J5/R8/R9): materialized grants
  * view + PER-FEATURE circuit state, served as point lookups.
  *
  * The reference answers `GET /can<feature>` from in-process dicts
  * (app.py:63-79, user_feature.py:46-55) and keys its circuits by
  * feature (user_feature.py:26, `_circuits = {feature: healthy}`); here
  * the grants view is a hash-joinable table and the circuits are a tiny
  * `[feature, circuit_open]` frame (broadcast against any request
  * batch). `has_access = circuit_open OR grant`; unseen users and
  * unknown features default to granted/closed
  * (user_feature.py:75-79, rules.py:112).
  *
  * Every check also yields the read-path side effect the reference logs
  * on each call (user_feature.py:52-55): an access-attempt row
  * `(user_id, feature, success = real grant)` — `has_access` may be
  * true while `success` is false when the circuit is open. The breaker
  * consumes THAT attempt stream (`Windowed.featureCircuit`), not the
  * ingest stream.
  *
  * Serving contract over a `GrantStore.read` grants frame: the frame
  * resolves the store's view to one generation when it is read, and a
  * service answers from that generation for its whole life. A service
  * built before a publish keeps answering from its own generation; one
  * built after sees the publish. The two-generation store rewrites the
  * older generation on the SECOND publish after a service was built,
  * so rebuild the service within two publishes (the serve tier
  * rebuilds it per publish).
  */
final class AccessService(
    spark: SparkSession,
    grants: DataFrame,    // [user_id, feature, has_grant]
    circuits: DataFrame,  // [feature, circuit_open]
    maxBroadcastGrants: Long = AccessService.GrantsBroadcastMaxRows) {

  /** Cached on first use by the batch path only: a registered cache
    * would replace the point lookup's bucket-pruned scan with a full
    * scan of the cached view, and a service rebuilt per publish would
    * pin one cached frame per generation. */
  private lazy val g = grants.cache()
  private lazy val c = circuits.cache()

  /** Features whose circuit is open, read once per service: the
    * circuits frame is O(features). */
  private lazy val openCircuits: Set[String] =
    circuits.filter(col("circuit_open")).select(col("feature"))
      .collect().map(_.getString(0)).toSet

  /** Measured once per service instance (the cache makes the count a
    * one-time cost); drives the broadcast-vs-shuffle strategy below,
    * same recipe as `Bpe.vocabJoin`. */
  private lazy val nGrants: Long = g.count()

  /** Join a request batch against the grants view. Grants are
    * per-(user, feature) — bounded by the USER population, not by
    * config — so at 10⁹ users a forced broadcast blows Spark's 8 GiB
    * limit. Broadcast below [[AccessService.GrantsBroadcastMaxRows]]
    * (the request side then streams through shuffle-free); above it,
    * shuffle hash join building on the grants side — the bucketed
    * `sources/GrantStore` remains the true point-lookup serve tier,
    * this is the bulk-scoring path. */
  private def joinGrants(requests: DataFrame): DataFrame =
    if (nGrants <= maxBroadcastGrants)
      requests.join(broadcast(g), Seq("user_id", "feature"), "left_outer")
    else
      requests.join(g.hint("shuffle_hash"), Seq("user_id", "feature"), "left_outer")

  /** Batch point-lookup: one row per (user_id, feature) request, with
    * the logged-attempt `success` column alongside the served
    * `has_access`. The circuit frame is O(features) — always
    * broadcast; the grants join is size-gated by [[joinGrants]]. */
  def check(requests: DataFrame): DataFrame =
    joinGrants(requests)
      .join(broadcast(c), Seq("feature"), "left_outer")
      .select(col("user_id"), col("feature"),
        coalesce(col("has_grant"), lit(true)).as("has_grant"),
        coalesce(col("circuit_open"), lit(false)).as("circuit_open"),
        (coalesce(col("circuit_open"), lit(false)) ||
          coalesce(col("has_grant"), lit(true))).as("has_access"))

  /** The read-path side effect as a frame: requests `[ts, user_id,
    * feature]` → access log `[ts, user_id, feature, success]`, where
    * success is the REAL grant regardless of circuit state
    * (user_feature.py:52-55 logs `success=grant`). */
  def accessLog(requests: DataFrame): DataFrame =
    joinGrants(requests)
      .select(col("ts"), col("user_id"), col("feature"),
        coalesce(col("has_grant"), lit(true)).as("success"))

  /** Single lookup (the `GET /can<feature>` shape), same answer as
    * [[check]]'s `has_access`. An open circuit answers without reading
    * the grants; otherwise one filter on the uncached grants frame,
    * which over the user_id-bucketed `GrantStore` prunes to the single
    * bucket file holding `userId`: one job of one task. */
  def canAccess(userId: Long, feature: String): Boolean =
    openCircuits(feature) || {
      val hit = grants.filter(col("user_id") === userId && col("feature") === feature)
        .select(col("has_grant")).head(1)
      hit.isEmpty || hit(0).isNullAt(0) || hit(0).getBoolean(0)
    }

  /** `can<feature>` flag lookup, reference route shape (P5). */
  def canAccessFlag(userId: Long, flag: String): Option[Boolean] =
    AccessService.parseFlag(flag).map(canAccess(userId, _))
}

object AccessService {

  /** Broadcast ceiling (rows) for the grants view in a batch check —
    * same shape as `Bpe.VocabBroadcastMaxRows`: ~4M (user, feature)
    * rows is a few hundred MB broadcast, comfortably safe; a
    * 10⁹-user grants frame must take the shuffle-hash path instead of
    * dying inside an 8 GiB broadcast build. */
  val GrantsBroadcastMaxRows: Long = 4000000L

  /** Feature-flag route parsing (SURVEY.md P5): `can<feature>` with a
    * lowercase feature of 1-16 chars (reference app.py:65-71; the
    * reference's possessive quantifier is an anti-backtracking detail,
    * not a semantic one). P6's `[a-z]+` name validation lives in
    * FeatureSpec's constructor. */
  private val FlagPattern = "^can([a-z]{1,16})$".r
  def parseFlag(flag: String): Option[String] =
    FlagPattern.findFirstMatchIn(flag).map(_.group(1))

  /** Derive the access-attempt log from the event stream: each ingested
    * event is one user touching the platform, which access-checks every
    * registered feature (the reference logs an attempt on each
    * `GET /can<feature>`, user_feature.py:52-55); `success` is the
    * user's grant. One user_id join against an already-built wide
    * grants frame (callers that also serve grants reuse one aggregation
    * for both), then a zero-shuffle stack() unpivot — rows = events ×
    * features without a per-feature join. */
  def attempts(events: DataFrame, wideGrants: DataFrame,
               cfg: EngineConfig): DataFrame = {
    val stackArgs = cfg.features
      .map(f => s"'${f.name}', coalesce(${f.name}, true)")
      .mkString(", ")
    events.select(col("ts"), col("user_id"))
      .join(wideGrants, Seq("user_id"), "left_outer")
      .selectExpr("ts", "user_id",
        s"stack(${cfg.features.size}, $stackArgs) as (feature, success)")
  }

  /** Session-scoped serve-tier materialization: the wide grants frame
    * and the derived attempt log are built ONCE per (session, events
    * source) and every serve-path consumer — the access log, the
    * per-feature circuits, the access check — reads the same cached
    * frames, exactly how a real serve tier materializes the attempt
    * stream once instead of re-deriving it per endpoint. The windowed
    * featureStats aggregation is also registered in the cache: Spark's
    * CacheManager substitutes it into any later plan that equals it,
    * so featureCircuit / latestFeatureCircuit calls over the same
    * attempts frame reuse the aggregation for free. Bounded: one
    * entry per (session, source), each a users×features-sized frame. */
  private val serveMemo = Memo.keyed("serve_frames", Seq("events.parquet")) {
    (spark: SparkSession, sfDir: String, cfg: EngineConfig) =>
      val events = graft.sources.Tables.events(spark, sfDir)
      val wide = Memo.cache(Grants.wide(
        EventAggregates.perUser(events, cfg.aggregates), cfg))
      val att = Memo.cache(attempts(events, wide, cfg))
      // hot downstream agg, reused by plan identity; cached through
      // the memo so it is released with the entry
      Memo.cache(Windowed.featureStats(att))
      (wide, att)
  }

  /** Cached (wide grants, attempt log) for the events table at
    * `sfDir`. The memo OWNS its inputs (it loads the events frame
    * itself and keys on session + dir + config), so a cache hit can
    * never silently serve frames built from different inputs than the
    * caller's. */
  def serveFrames(spark: SparkSession, sfDir: String,
                  cfg: EngineConfig): (DataFrame, DataFrame) =
    serveMemo(spark, sfDir, cfg)

  /** Build from raw events: aggregates → grants view + per-feature
    * circuit state from the latest breaker window of the derived
    * access-attempt log. Fully distributed — no collect, no global
    * sort (round 1 froze a single global circuit Boolean at
    * construction time via orderBy().limit(1).collect()). */
  def fromEvents(spark: SparkSession, events: DataFrame,
                 cfg: EngineConfig): AccessService = {
    // one per-user aggregation feeds both the grants view and the
    // attempt log (cached: both consumers materialize it)
    val wide = Grants.wide(
      EventAggregates.perUser(events, cfg.aggregates), cfg).cache()
    val circuits = Windowed.latestFeatureCircuit(
      attempts(events, wide, cfg))
    new AccessService(spark, Grants.longFromWide(wide, cfg), circuits)
  }
}
