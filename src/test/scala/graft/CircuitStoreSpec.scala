package graft

import graft.operators.{AccessService, Windowed}
import graft.sources.CircuitStore
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming breaker → persisted circuit table → served access checks:
  * the full control-path loop (reference §3.3) through storage. */
class CircuitStoreSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def t(minute: Int) = java.sql.Timestamp.valueOf(
    f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  test("breaker stream persists per-feature state served by AccessService") {
    import spark.implicits._
    val table = "cs_live"
    CircuitStore.drop(spark, table)
    try {
      val ms = MemoryStream[(java.sql.Timestamp, Long, String, Boolean)](spark)
      val q = CircuitStore.writer(Windowed.featureCircuitStream(
        ms.toDF().toDF("ts", "user_id", "feature", "success")), table).start()
      try {
        // purchase takes a 50% denied-user burst; message stays clean
        ms.addData((1 to 20).flatMap { u =>
          Seq((t(3), u.toLong, "purchase", u <= 10),
            (t(3), u.toLong, "message", true))
        })
        q.processAllAvailable()
        ms.addData(Seq((t(60), 1L, "purchase", true))) // advance watermark
        q.processAllAvailable()
      } finally q.stop()

      val circuits = CircuitStore.read(spark, table).collect()
        .map(r => r.getString(0) -> r.getBoolean(1)).toMap
      assert(circuits("purchase") == true && circuits("message") == false)

      // served: revoked user passes on purchase (open circuit), not on
      // message (closed) — live state, straight from the table
      val grants = Seq((1L, "purchase", false), (1L, "message", false))
        .toDF("user_id", "feature", "has_grant")
      val svc = new AccessService(spark, grants, CircuitStore.read(spark, table))
      assert(svc.canAccess(1L, "purchase"))
      assert(!svc.canAccess(1L, "message"))
    } finally CircuitStore.drop(spark, table)
  }

  test("referenceCadence flag drives the 15 s breaker loop end-to-end") {
    import spark.implicits._
    // the flag itself resolves to the reference constants…
    assert(CircuitStore.cadence(referenceCadence = true) ==
      CircuitStore.Cadence(Windowed.ReferenceWindowSize, Windowed.ReferenceSlide))
    assert(CircuitStore.cadence(referenceCadence = false) ==
      CircuitStore.DefaultCadence)
    // …and the streaming breaker built from it re-evaluates every
    // 15 s: a denial burst at t=3min flips later 15 s windows while
    // the first window (0:00-10:00 at the DEFAULT cadence spans the
    // whole burst) would have hidden the cadence — so assert the
    // persisted verdict AND that the default-cadence run sees 2
    // windows per attempt where the reference run sees 40.
    val table = "cs_refcad"
    CircuitStore.drop(spark, table)
    try {
      val ms = MemoryStream[(java.sql.Timestamp, Long, String, Boolean)](spark)
      val q = CircuitStore.breakerWriter(
        ms.toDF().toDF("ts", "user_id", "feature", "success"),
        referenceCadence = true, table = table).start()
      try {
        ms.addData((1 to 20).map(u => (t(3), u.toLong, "purchase", u <= 10)))
        q.processAllAvailable()
        ms.addData(Seq((t(60), 1L, "purchase", true)))
        q.processAllAvailable()
      } finally q.stop()
      val got = CircuitStore.read(spark, table).collect()
        .map(r => r.getString(0) -> r.getBoolean(1)).toMap
      assert(got("purchase") == true, "50% denied users must open the breaker")

      // batch twin: the reference cadence lands each attempt in 40
      // windows (10 min / 15 s), the default in 2 (10 min / 5 min)
      val attempts = (1 to 20).map(u => (t(3), u.toLong, "purchase", u <= 10))
        .toDF("ts", "user_id", "feature", "success")
      val ref = CircuitStore.ReferenceCadence
      assert(Windowed.featureStats(attempts, ref.size, ref.slide).count() == 40L)
      assert(Windowed.featureStats(attempts).count() == 2L)
    } finally CircuitStore.drop(spark, table)
  }

  test("upsert keeps features absent from the batch and takes the latest window") {
    import spark.implicits._
    val table = "cs_merge"
    CircuitStore.drop(spark, table)
    try {
      CircuitStore.upsert(spark,
        Seq(("purchase", t(0), true), ("message", t(0), false))
          .toDF("feature", "win_start", "circuit_open"), table)
      // next batch: purchase closes in a LATER window; message absent
      CircuitStore.upsert(spark,
        Seq(("purchase", t(5), true), ("purchase", t(10), false))
          .toDF("feature", "win_start", "circuit_open"), table)
      val got = CircuitStore.read(spark, table).collect()
        .map(r => r.getString(0) -> r.getBoolean(1)).toMap
      assert(got == Map("purchase" -> false, "message" -> false))
    } finally CircuitStore.drop(spark, table)
  }

  test("read sees publishes made from another session") {
    val table = "cs_stale"
    CircuitStore.drop(spark, table)
    def windows(s: org.apache.spark.sql.SparkSession, open: Boolean, m: Int) = {
      import s.implicits._
      Seq(("purchase", t(m), open), ("message", t(m), !open))
        .toDF("feature", "win_start", "circuit_open")
    }
    def served() = CircuitStore.read(spark, table).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    try {
      CircuitStore.upsert(spark, windows(spark, open = true, 0), table)
      assert(served() == Map("purchase" -> true, "message" -> false))
      // a breaker stream's foreachBatch publishes from a session of its
      // own; two publishes rewrite the generation `spark` last resolved
      val other = spark.newSession()
      CircuitStore.upsert(other, windows(other, open = false, 5), table)
      CircuitStore.upsert(other, windows(other, open = true, 10), table)
      assert(served() == Map("purchase" -> true, "message" -> false))
      CircuitStore.upsert(other, windows(other, open = false, 15), table)
      assert(served() == Map("purchase" -> false, "message" -> true))
    } finally CircuitStore.drop(spark, table)
  }

  test("a steady publish runs no SQL or catalog command") {
    import spark.implicits._
    val table = "cs_no_sql"
    CircuitStore.drop(spark, table)
    def windows(open: Boolean, m: Int) =
      Seq(("purchase", t(m), open), ("message", t(m), !open))
        .toDF("feature", "win_start", "circuit_open")
    try {
      CircuitStore.upsert(spark, windows(open = true, 0), table)  // materialize
      CircuitStore.upsert(spark, windows(open = false, 5), table) // write job
      val probe = PublishProbe(spark) {
        CircuitStore.upsert(spark, windows(open = true, 10), table)
      }
      assert(probe.executions.isEmpty, s"SQL/catalog commands: ${probe.executions}")
      val got = CircuitStore.read(spark, table).collect()
        .map(r => r.getString(0) -> r.getBoolean(1)).toMap
      assert(got == Map("purchase" -> true, "message" -> false))
      assert(spark.sql(s"SHOW CREATE TABLE `$table`").head().getString(0)
        .contains(s"`${graft.sources.BucketedUpsert.activeGen(spark, table).get}`"))
    } finally CircuitStore.drop(spark, table)
  }
}
