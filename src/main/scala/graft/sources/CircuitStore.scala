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
  * n_features rows — the merge cost is nil — and publishes through the
  * same generation-table + CREATE OR REPLACE VIEW pointer as
  * GrantStore: the repoint is one catalog operation, so readers never
  * see a missing table and a crash mid-publish leaves the old
  * generation served. */
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

  private def publish(spark: SparkSession, table: String, gen: String): Unit =
    spark.sql(s"CREATE OR REPLACE VIEW `$table` AS SELECT * FROM `$gen`")

  /** Drop the view and both generations (test/cleanup utility). */
  def drop(spark: SparkSession, table: String): Unit = {
    val (a, b) = BucketedUpsert.generations(table)
    spark.sql(s"DROP VIEW IF EXISTS `$table`")
    spark.sql(s"DROP TABLE IF EXISTS `$a`")
    spark.sql(s"DROP TABLE IF EXISTS `$b`")
  }

  def read(spark: SparkSession, table: String = DefaultTable): DataFrame =
    spark.table(table)

  /** Upsert the latest window verdict per feature from a batch of
    * breaker windows `[feature, win_start, ..., circuit_open]`. */
  def upsert(spark: SparkSession, windows: DataFrame,
             table: String = DefaultTable): Unit = {
    val latest = windows.groupBy(col("feature"))
      .agg(max_by(col("circuit_open"), col("win_start")).as("new_open"))
      .persist()
    try {
      if (latest.isEmpty) return
      val merged =
        if (!spark.catalog.tableExists(table))
          latest.select(col("feature"), col("new_open").as("circuit_open"))
        else spark.table(table)
          .join(broadcast(latest), Seq("feature"), "full_outer")
          .select(col("feature"),
            coalesce(col("new_open"), col("circuit_open")).as("circuit_open"))
      val gen = BucketedUpsert.inactiveGen(spark, table)
      merged.write.format("parquet")
        .mode(org.apache.spark.sql.SaveMode.Overwrite).saveAsTable(gen)
      publish(spark, table, gen)
    } finally latest.unpersist()
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
