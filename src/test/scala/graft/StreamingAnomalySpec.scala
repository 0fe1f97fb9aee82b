package graft

import graft.queries.AnalyticsQueries
import graft.sources.Tables
import graft.streaming.AnomalyMonitorStream
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

/** The persisted daily revenue store vs the batch ground truth: the
  * flags scored over the built store must equal the oracled
  * revenue_anomaly_mad and changepoint_cusum queries row-for-row.
  */
class StreamingAnomalySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("built daily store serves the oracled anomaly and CUSUM flags") {
    val table = "anom_converge"
    AnomalyMonitorStream.drop(spark, table)
    try {
      AnomalyMonitorStream.build(Tables.events(spark, sf), table, buckets = 4)
      FirstGeneration.check(spark, Seq(table))
      val daily = AnomalyMonitorStream.daily(spark, table)
      assert(daily.schema("rev").dataType == DecimalType(38, 6))

      def flags(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getBoolean(5)))
        .toSet
      val batch = flags(SparkEntry.queries("revenue_anomaly_mad")(spark, sf))
      assert(flags(AnalyticsQueries.madFlags(daily)) == batch,
        "store flags must equal the oracle-gated batch query exactly")
      assert(batch.exists(_._4), "fixture must contain at least one anomaly")

      // the CUSUM stage over the SAME store: bit-equal to the oracled
      // changepoint query
      val servedShifts = AnalyticsQueries.cusumFlags(AnalyticsQueries.revMicros(daily))
        .collect().map(_.mkString("|")).sorted.toSeq
      val batchShifts = SparkEntry.queries("changepoint_cusum")(spark, sf)
        .collect().map(_.mkString("|")).sorted.toSeq
      assert(servedShifts == batchShifts,
        "store-served CUSUM must equal the oracle-gated batch query")
    } finally AnomalyMonitorStream.drop(spark, table)
  }
}
