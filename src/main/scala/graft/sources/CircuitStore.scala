package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Persisted per-feature circuit state `[feature, circuit_open]` — the
  * serve-path counterpart of GrantStore for the breaker side
  * (reference `_circuits`, user_feature.py:26). The per-feature
  * streaming breaker (`Windowed.featureCircuitStream`) appends
  * finalized windows; each batch upserts every feature's LATEST window
  * verdict, so `AccessService(grants = GrantStore.read, circuits =
  * CircuitStore.read)` serves live state across restarts. The table is
  * n_features rows in one bucket — the merge cost is nil — and
  * publishes through [[BucketedUpsert]] like GrantStore: the repoint is
  * one catalog operation, so readers never see a missing table and a
  * crash mid-publish leaves the old generation served. */
object CircuitStore {

  val DefaultTable = "graft_circuits"

  /** Breaker evaluation cadence `(window size, slide)`. */
  final case class Cadence(size: String, slide: String)

  /** Batch/efficiency default: 10-minute lookback re-evaluated every
    * 5 minutes — each attempt lands in 2 windows. */
  val DefaultCadence: Cadence = Cadence("10 minutes", "5 minutes")

  /** The reference's cadence (user_feature.py:98-104): the breaker
    * loop re-evaluates the 10-minute lookback every 15 seconds —
    * each attempt lands in 40 windows, a 20× state/shuffle
    * multiplier over the default. Selectable, not just documented:
    * `cadence(referenceCadence = true)` wires it through the breaker
    * builders, and the `a6_circuit_breaker_ref` gate query pins the
    * batch semantics at exactly this cadence. */
  val ReferenceCadence: Cadence = Cadence(
    graft.operators.Windowed.ReferenceWindowSize,
    graft.operators.Windowed.ReferenceSlide)

  /** The config flag: pick the breaker cadence. */
  def cadence(referenceCadence: Boolean): Cadence =
    if (referenceCadence) ReferenceCadence else DefaultCadence

  /** Drop the view and both generations (test/cleanup utility). */
  def drop(spark: SparkSession, table: String): Unit =
    BucketedUpsert.drop(spark, table)

  /** Through [[BucketedUpsert.read]]: a breaker stream publishes from
    * its own session, whose publishes a bare `spark.table` here would
    * not see (a stale file listing of a rewritten generation). */
  def read(spark: SparkSession, table: String = DefaultTable): DataFrame =
    BucketedUpsert.read(spark, table)

  /** Upsert the latest window verdict per feature from a batch of
    * breaker windows `[feature, win_start, ..., circuit_open]`: the
    * first batch materializes the store, later ones merge
    * last-writer-wins, so a feature absent from the batch keeps its
    * verdict. */
  def upsert(spark: SparkSession, windows: DataFrame,
             table: String = DefaultTable): Unit = {
    val latest = windows.groupBy(col("feature"))
      .agg(max_by(col("circuit_open"), col("win_start")).as("circuit_open"))
    if (!spark.catalog.tableExists(table))
      BucketedUpsert.materialize(latest, table, "feature", 1)
    else BucketedUpsert.upsert(spark, table, latest, Seq("feature"), "feature", 1)
  }

  /** Streaming sink over the per-feature breaker output. */
  def writer(circuitWindows: DataFrame,
             table: String = DefaultTable): DataStreamWriter[Row] =
    circuitWindows.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsert(batch.sparkSession, batch, table)
      }

  /** The whole breaker leg from an access-attempt stream to this
    * store, with the cadence selected by the config flag: the default
    * 5-minute slide, or the reference's 15-second re-evaluation loop
    * (`referenceCadence = true`). */
  def breakerWriter(attempts: DataFrame, threshold: Double = 0.05,
                    referenceCadence: Boolean = false,
                    watermark: String = "15 minutes",
                    table: String = DefaultTable): DataStreamWriter[Row] = {
    val c = cadence(referenceCadence)
    writer(graft.operators.Windowed.featureCircuitStream(
      attempts, threshold, watermark, c.size, c.slide), table)
  }
}
