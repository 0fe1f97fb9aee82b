package graft.streaming

import graft.queries.AnalyticsQueries
import graft.sources.BucketedUpsert
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The persisted per-(type, day) daily revenue store behind `GRAFT
  * BUILD DAILY`: [[AnalyticsQueries.dailyRevenue]] of an event frame,
  * `(event_type, day, n_events, rev DECIMAL(38,6))`, materialized once
  * by [[build]] into a day-bucketed [[BucketedUpsert]] store.
  *
  * Reads go through the scoring stages of `revenue_anomaly_mad` and
  * `changepoint_cusum` verbatim ([[AnalyticsQueries.madFlags]],
  * [[AnalyticsQueries.cusumFlags]] over [[daily]]), so flags served
  * from the store equal the oracle-gated batch queries (asserted in
  * StreamingAnomalySpec). The MAD recompute at read time is
  * O(#types × #days) — the store frame, never the event log.
  */
object AnomalyMonitorStream {

  val DefaultTable = "graft_daily_revenue"
  val DefaultBuckets = 16

  /** Aggregate `events` to the daily frame and materialize it once. The
    * caller drops the table first: a store that already exists keeps
    * its other generation. */
  def build(events: DataFrame, table: String = DefaultTable,
            buckets: Int = DefaultBuckets): Unit =
    BucketedUpsert.materialize(AnalyticsQueries.dailyRevenue(events), table, "day", buckets)

  def drop(spark: SparkSession, table: String = DefaultTable): Unit =
    BucketedUpsert.drop(spark, table)

  /** The stored daily frame — the one-shot
    * [[AnalyticsQueries.dailyRevenue]] of the built events. */
  def daily(spark: SparkSession, table: String = DefaultTable): DataFrame =
    BucketedUpsert.read(spark, table)
}
