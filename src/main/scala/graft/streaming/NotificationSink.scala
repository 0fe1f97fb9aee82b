package graft.streaming

import graft.streaming.EventPipeline.GrantChange
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/** Notification sink (SURVEY.md S3): on every grant flip, synthesize an
  * `access_granted` / `access_revoked` event envelope and hand it to a
  * transport — mirroring the reference's outbound webhook
  * (services/notifications.py:16-25, envelope built in
  * user_feature.py:81-96, where the transport is a stubbed print).
  *
  * The envelope's uuid must be deterministic for exactly-once delivery
  * under micro-batch retries: a random uuid() would re-randomize on
  * replay, so it is derived from (user, feature, grant, batch).
  */
object NotificationSink {

  final case class Notification(
      uuid: String, name: String, user_id: Long, feature: String)

  /** Pluggable transport; production = HTTP/Kafka producer per
    * partition, default = in-memory collector for tests/demos. */
  trait Transport extends Serializable {
    def send(batchId: Long, notifications: Iterator[Notification]): Unit
  }

  /** Subscriber routing (reference notifications.py:3-21): each event
    * NAME has a subscriber list; names with no subscribers are
    * silently dropped, and each notification fans out once per
    * subscriber — delegated to `inner` with the subscriber id so a
    * real transport can address it. */
  final class SubscriberRouter(
      subscribers: Map[String, Seq[String]],
      inner: (String, Notification) => Unit) extends Transport {
    override def send(batchId: Long, ns: Iterator[Notification]): Unit =
      ns.foreach { n =>
        subscribers.getOrElse(n.name, Seq.empty).foreach(s => inner(s, n))
      }
  }

  /** Batch-shaped envelope synthesis (shared by batch + streaming).
    * The uuid input is (batchId, user, feature, grant, dup_seq):
    * batchId distinguishes identical flips in DIFFERENT batches
    * (revoke→grant→revoke across batches), and dup_seq distinguishes
    * identical flips WITHIN one batch (the CDC emits one change per
    * flip per event, so revoke→grant→revoke inside a single
    * micro-batch yields two identical revoke rows). The rows in one
    * (user, feature, grant) group are indistinguishable, so whichever
    * physical row receives which sequence number, the SET of uuids is
    * the same — deterministic under micro-batch replay, unlike the
    * reference's per-send uuid4 (user_feature.py:88-96), while every
    * legitimate notification keeps a distinct uuid for consumer-side
    * exactly-once dedup. */
  def envelope(changes: DataFrame, batchId: Long = 0L): DataFrame = {
    val dupSeq = row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("feature"), col("has_grant"))
        .orderBy(col("has_grant")))
    changes
      .withColumn("dup_seq", dupSeq)
      .select(
        md5(concat_ws("|", lit(batchId), col("user_id"), col("feature"),
          col("has_grant"), col("dup_seq"))).as("uuid"),
        when(col("has_grant"), lit("access_granted"))
          .otherwise(lit("access_revoked")).as("name"),
        col("user_id"), col("feature"))
  }

  /** foreachBatch writer delivering grant-change notifications. */
  def writer(changes: Dataset[GrantChange], transport: Transport)
      : DataStreamWriter[GrantChange] =
    changes.writeStream.foreachBatch { (batch: Dataset[GrantChange], batchId: Long) =>
      val spark = batch.sparkSession
      import spark.implicits._
      val ns = envelope(batch.toDF(), batchId).as[Notification]
      // per-partition delivery: the transport connects once per
      // partition, not per notification
      ns.foreachPartition { it: Iterator[Notification] =>
        transport.send(batchId, it)
      }
    }

  /** Wire events → grant CDC → notifications, started. */
  def start(spark: org.apache.spark.sql.SparkSession,
            events: Dataset[EventPipeline.EventRow],
            cfg: graft.config.EngineConfig,
            transport: Transport): StreamingQuery =
    writer(EventPipeline.grantChangesBounded(spark, events, cfg), transport).start()
}
