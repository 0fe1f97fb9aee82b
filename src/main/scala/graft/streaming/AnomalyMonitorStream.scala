package graft.streaming

import graft.queries.AnalyticsQueries
import graft.sources.BucketedUpsert
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming revenue-anomaly monitor: the per-(type, day) daily frame
  * behind `revenue_anomaly_mad`, maintained incrementally per ingest
  * micro-batch. Each arriving batch of events reduces to ITS OWN
  * `(event_type, day, n_events, rev)` delta (one map-side-combined
  * groupBy, O(types×days-touched) rows) and merges
  * ADDITIVELY into a day-bucketed store. Counts and DECIMAL sums are
  * associative over disjoint event sets, so the store equals the
  * one-shot batch aggregation after ANY chunking of the feed —
  * StreamingAnomalySpec asserts the monitor's flags equal the oracled
  * batch query exactly.
  *
  * Reads share `revenue_anomaly_mad`'s scoring stage verbatim
  * ([[AnalyticsQueries.madFlags]]) — the monitor can never diverge
  * from the gate-checked math. The MAD recompute at read time is
  * O(#types × #days) (the store frame, never the event log), which is
  * the correct cost model: daily grids are schedule-bounded.
  *
  * Exactly-once: additive merges are NOT replay-idempotent, so every
  * micro-batch carries its foreachBatch batchId into the store's
  * replay guard (`BucketedUpsert.upsert`'s `batchId`).
  */
object AnomalyMonitorStream {

  val DefaultTable = "graft_daily_revenue"
  val DefaultBuckets = 16

  private val schema = StructType(Seq(
    StructField("event_type", StringType),
    StructField("day", LongType),
    StructField("n_events", LongType),
    // sum-widened DECIMAL: dailyRevenue's sum(dec(value)) carries
    // (38,6), and the additive merge keeps (38,6) (precision already
    // capped) — declaring anything narrower would violate upsert's
    // "delta schema equals the table's" contract on the first merge
    StructField("rev", DecimalType(38, 6))))

  /** Create an empty daily store (idempotent). A store left on disk by an
    * earlier process is ADOPTED (catalog re-registration from its
    * publish marker, [[BucketedUpsert.adopt]]) instead of shadowed —
    * a restarted stream resumes its accumulated state, and the
    * restored replay-guard properties keep redelivered batches
    * no-ops across the restart. */
  def init(spark: SparkSession, table: String = DefaultTable,
           buckets: Int = DefaultBuckets): Unit =
    if (!BucketedUpsert.adopt(spark, table)) {
      BucketedUpsert.materialize(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema),
        table, "day", buckets)
    }

  def drop(spark: SparkSession, table: String = DefaultTable): Unit =
    BucketedUpsert.drop(spark, table)

  /** Merge one micro-batch of events: additive per-(type, day) counts
    * and DECIMAL revenue, O(delta-days) bucket rewrites. */
  def upsertBatch(spark: SparkSession, batch: DataFrame,
                  table: String = DefaultTable,
                  buckets: Int = DefaultBuckets,
                  batchId: Option[Long] = None): Unit =
    BucketedUpsert.upsert(spark, table,
      AnalyticsQueries.dailyRevenue(batch),
      Seq("event_type", "day"), "day", buckets,
      merge = (_, ex, dl) => coalesce(ex, lit(0)) + coalesce(dl, lit(0)),
      batchId = batchId)

  /** The accumulated daily frame — equals the one-shot
    * [[AnalyticsQueries.dailyRevenue]] over everything ingested. */
  def daily(spark: SparkSession, table: String = DefaultTable): DataFrame =
    BucketedUpsert.read(spark, table)

  /** Current anomaly flags — revenue_anomaly_mad's output over the
    * live store, same scoring code path. */
  def anomalies(spark: SparkSession, table: String = DefaultTable): DataFrame =
    AnalyticsQueries.madFlags(daily(spark, table))

  /** Current CUSUM shift flags — changepoint_cusum's output over the
    * live store, same scoring code path (madFlags' sustained-shift
    * twin): the store's DECIMAL revenue converts losslessly to the
    * batch query's integer micros, so the served statistics are
    * bit-equal to the one-shot query under any ingest chunking. */
  def shifts(spark: SparkSession, table: String = DefaultTable): DataFrame =
    AnalyticsQueries.cusumFlags(AnalyticsQueries.revMicros(
      daily(spark, table)))
}
