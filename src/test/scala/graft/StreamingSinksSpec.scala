package graft

import graft.config.DefaultConfig
import graft.operators.Windowed
import graft.streaming.{EventPipeline, NotificationSink}
import graft.streaming.EventPipeline.EventRow
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Static collector so the Transport closure doesn't capture the
  * (non-serializable) ScalaTest suite. */
object NotificationCollector {
  val received = new java.util.concurrent.ConcurrentLinkedQueue[NotificationSink.Notification]()
  object transport extends NotificationSink.Transport {
    def send(batchId: Long, ns: Iterator[NotificationSink.Notification]): Unit =
      ns.foreach(received.add)
  }
}

/** S3 notification sink + watermark-based per-feature streaming breaker. */
class StreamingSinksSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def ev(id: Long, user: Long, typ: String, value: Double, minute: Int): EventRow =
    EventRow(id, java.sql.Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00"),
      user, typ, value, """{"k": 1}""")

  test("grant flips become notification envelopes through the transport") {
    import spark.implicits._
    NotificationCollector.received.clear()
    val ms = MemoryStream[EventRow](spark)
    val q = NotificationSink.start(spark, ms.toDS(), DefaultConfig.config,
      NotificationCollector.transport)
    try {
      ms.addData(Seq(
        ev(1, 3, "purchase", 600.0, 1),
        ev(2, 3, "error", 900.0, 2))) // ratio 1.5 → revoke purchase
      q.processAllAvailable()
    } finally q.stop()
    val ns = NotificationCollector.received.toArray(
      Array.empty[NotificationSink.Notification])
    assert(ns.length == 1)
    assert(ns.head.name == "access_revoked")
    assert(ns.head.user_id == 3 && ns.head.feature == "purchase")
    assert(ns.head.uuid.nonEmpty)
  }

  test("streaming per-feature breaker: a burst opens only the attacked feature") {
    import spark.implicits._
    def t(minute: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")
    val ms = MemoryStream[(java.sql.Timestamp, Long, String, Boolean)](spark)
    val q = Windowed.featureCircuitStream(
        ms.toDF().toDF("ts", "user_id", "feature", "success"))
      .writeStream.format("memory").queryName("feature_circuit_out")
      .outputMode("append").start()
    try {
      // window [00:00, 00:10): 20 users attempt both features; users
      // 11-20 are denied on purchase only → purchase 50%, message 0%
      ms.addData((1 to 20).flatMap { u =>
        Seq((t(3), u.toLong, "purchase", u <= 10),
          (t(3), u.toLong, "message", true))
      })
      q.processAllAvailable()
      // advance event time past the watermark to finalize the windows
      ms.addData(Seq((t(60), 1L, "purchase", true)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("feature_circuit_out").collect()
      .filter(_.getTimestamp(1).toString == "2024-01-01 00:00:00.0")
      .map(r => r.getString(0) -> r.getBoolean(4)).toMap
    assert(rows == Map("purchase" -> true, "message" -> false))
  }

  test("subscriber routing: per-name fan-out, unsubscribed names dropped") {
    val delivered = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val router = new NotificationSink.SubscriberRouter(
      Map("access_revoked" -> Seq("hook-a", "hook-b"),
        "access_granted" -> Seq("hook-a")),
      (sub, n) => delivered.synchronized { delivered += sub -> n.name })
    router.send(0L, Iterator(
      NotificationSink.Notification("u1", "access_revoked", 1L, "purchase"),
      NotificationSink.Notification("u2", "access_granted", 1L, "purchase"),
      NotificationSink.Notification("u3", "unknown_event", 1L, "purchase")))
    assert(delivered.toSet == Set(
      ("hook-a", "access_revoked"), ("hook-b", "access_revoked"),
      ("hook-a", "access_granted")))
  }

  test("batch envelope synthesis matches the reference's event names") {
    import spark.implicits._
    val changes = Seq(
      EventPipeline.GrantChange(1, "purchase", false),
      EventPipeline.GrantChange(2, "message", true)).toDF()
    val out = NotificationSink.envelope(changes).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getString(3))).toSet
    assert(out == Set(("access_revoked", 1L, "purchase"),
      ("access_granted", 2L, "message")))
  }

  test("identical flips WITHIN one batch get distinct uuids") {
    import spark.implicits._
    // revoke→grant→revoke inside one micro-batch: two identical revoke
    // rows must not share a uuid (a deduping consumer would drop one)
    val changes = Seq(
      EventPipeline.GrantChange(1, "purchase", false),
      EventPipeline.GrantChange(1, "purchase", true),
      EventPipeline.GrantChange(1, "purchase", false)).toDF()
    val uuids = NotificationSink.envelope(changes, batchId = 5).collect()
      .map(_.getString(0))
    assert(uuids.length == 3 && uuids.distinct.length == 3)
    // and the uuid SET is replay-deterministic
    val replay = NotificationSink.envelope(changes, batchId = 5).collect()
      .map(_.getString(0))
    assert(uuids.toSet == replay.toSet)
  }

  test("repeated identical flips in different batches get distinct uuids") {
    import spark.implicits._
    // revoke → (grant) → revoke: the second revocation must NOT reuse
    // the first one's uuid, or uuid-deduping consumers drop it; within
    // a batch the uuid stays deterministic for replay.
    val revoke = Seq(EventPipeline.GrantChange(1, "purchase", false)).toDF()
    val b0 = NotificationSink.envelope(revoke, batchId = 0).head().getString(0)
    val b0again = NotificationSink.envelope(revoke, batchId = 0).head().getString(0)
    val b2 = NotificationSink.envelope(revoke, batchId = 2).head().getString(0)
    assert(b0 == b0again)
    assert(b0 != b2)
  }
}
