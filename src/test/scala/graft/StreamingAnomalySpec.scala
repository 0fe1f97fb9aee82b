package graft

import graft.sources.Tables
import graft.streaming.AnomalyMonitorStream
import graft.streaming.EventPipeline.EventRow
import org.scalatest.funsuite.AnyFunSuite

/** Incremental anomaly monitor vs the batch ground truth: the
  * accumulated daily store must equal the one-shot daily aggregation
  * over everything ingested (DECIMAL sums are associative), and the
  * served flags must equal the oracled revenue_anomaly_mad query
  * row-for-row.
  */
class StreamingAnomalySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def flags(table: String): Set[(String, Long, Double, Boolean)] =
    AnomalyMonitorStream.anomalies(spark, table).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getBoolean(5)))
      .toSet

  test("chunked event stream converges to the oracled batch anomaly flags") {
    import spark.implicits._
    val table = "anom_converge"
    AnomalyMonitorStream.drop(spark, table)
    AnomalyMonitorStream.init(spark, table, buckets = 4)
    try {
      val events = Tables.events(spark, sf).as[EventRow].collect()
        .sortBy(_.event_id)
      // one micro-batch id per chunk, as a stream's foreachBatch passes it
      events.grouped(math.max(1, events.length / 3)).zipWithIndex.foreach { case (c, id) =>
        AnomalyMonitorStream.upsertBatch(spark, c.toSeq.toDF(), table, 4, Some(id.toLong))
      }

      val batch = SparkEntry.queries("revenue_anomaly_mad")(spark, sf)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getBoolean(5)))
        .toSet
      assert(flags(table) == batch,
        "monitor flags must equal the oracle-gated batch query exactly")
      assert(batch.exists(_._4), "fixture must contain at least one anomaly")

      // the CUSUM twin serves from the SAME store: bit-equal to the
      // oracled changepoint query over everything ingested
      val servedShifts = AnomalyMonitorStream.shifts(spark, table)
        .collect().map(_.mkString("|")).sorted.toSeq
      val batchShifts = SparkEntry.queries("changepoint_cusum")(spark, sf)
        .collect().map(_.mkString("|")).sorted.toSeq
      assert(servedShifts == batchShifts,
        "store-served CUSUM must equal the oracle-gated batch query")
    } finally AnomalyMonitorStream.drop(spark, table)
  }

  test("redelivered batch does not double-count (additive replay guard)") {
    import spark.implicits._
    val table = "anom_replay"
    AnomalyMonitorStream.drop(spark, table)
    AnomalyMonitorStream.init(spark, table, buckets = 4)
    try {
      val half = Tables.events(spark, sf).as[EventRow].collect()
        .sortBy(_.event_id).take(300).toSeq
      AnomalyMonitorStream.upsertBatch(spark, half.toDF(), table,
        buckets = 4, batchId = Some(7L))
      val once = AnomalyMonitorStream.daily(spark, table).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      // same batchId again: the replay guard must make this a no-op
      AnomalyMonitorStream.upsertBatch(spark, half.toDF(), table,
        buckets = 4, batchId = Some(7L))
      val twice = AnomalyMonitorStream.daily(spark, table).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(once == twice, "replayed batchId must not double-count")
    } finally AnomalyMonitorStream.drop(spark, table)
  }
}
