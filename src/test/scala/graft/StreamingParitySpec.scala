package graft

import graft.config._
import graft.operators.{EventAggregates, Grants}
import graft.streaming.EventPipeline
import graft.streaming.EventPipeline.{EventRow, GrantChange}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The engine's core quality invariant (SURVEY.md §7.5 #5): the
  * incremental streaming path (flatMapGroupsWithState keyed state) and
  * the batch compiler produce the SAME grants on the same events —
  * including uuid dedup within and across micro-batches — and the same
  * pipeline runs on a static frame. */
class StreamingParitySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val cfg = DefaultConfig.config

  private def ev(id: Long, user: Long, typ: String, value: Double, minute: Int): EventRow =
    EventRow(id, java.sql.Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00"),
      user, typ, value, """{"k": 1}""")

  test("streaming grant CDC matches batch compilation, dedups across batches") {
    import spark.implicits._
    val batch1 = Seq(
      ev(1, 1, "purchase", 600.0, 1), // denom 600 ≥ denom_min 500
      ev(2, 1, "error", 700.0, 2))    // ratio 1.17 ≥ 1.0 → revoke purchase
    val batch2 = Seq(
      ev(2, 1, "error", 700.0, 2),    // duplicate uuid → must be ignored
      ev(3, 1, "purchase", 200.0, 3)) // ratio 700/800 < 1.0 → re-grant

    val ms = MemoryStream[EventRow](spark)
    val q = EventPipeline.grantChangesBounded(spark, ms.toDS(), cfg)
      .writeStream.format("memory").queryName("flips").outputMode("append").start()
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
    } finally q.stop()

    val flips = spark.table("flips").as[GrantChange].collect().toSeq
    assert(flips == Seq(
      GrantChange(1, "purchase", false),
      GrantChange(1, "purchase", true)))

    // batch side on the SAME events (with the duplicate present):
    val all = (batch1 ++ batch2).toDF()
    val batchGrants = Grants.long(EventAggregates.perUser(all, cfg.aggregates), cfg)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getBoolean(2)).toMap

    // reconstruct streaming final state: default TRUE + last flip wins
    val streamFinal = cfg.features.map { f =>
      val last = flips.filter(c => c.user_id == 1 && c.feature == f.name).lastOption
      (1L, f.name) -> last.map(_.has_grant).getOrElse(true)
    }.toMap
    assert(streamFinal == batchGrants)
  }

  test("fractional values and varied props: stream and batch cast fields alike") {
    // A DISTINCT_COUNT over `value` counts the value cast to long in the
    // batch plan, so 1.2 and 1.7 are one value; the stream must count
    // the same. props.k varies per click, and feeds a SUM and a
    // DISTINCT_COUNT read through the same expressions.
    import spark.implicits._
    import AggregateType._, RuleOperation._, RuleCondition._
    val fracCfg = EngineConfig(
      aggregates = Seq(
        AggregateSpec("distinct_amounts", "purchase", DistinctCount, Some("value")),
        AggregateSpec("purchase_total", "purchase", Sum, Some("value")),
        AggregateSpec("distinct_click_keys", "click", DistinctCount, Some("props.k")),
        AggregateSpec("click_key_total", "click", Sum, Some("props.k")),
        AggregateSpec("errors", "error", Count)),
      rules = Seq(
        RuleSpec("few_amounts", Value, "distinct_amounts", None, Lt, 3.0),
        RuleSpec("spend_per_amount", Divide, "purchase_total", Some("distinct_amounts"), Gt, 3.0),
        RuleSpec("key_spread", Divide, "distinct_click_keys", Some("click_key_total"), Gt, 0.25,
          denomMin = Some(2.0)),
        RuleSpec("few_errors", Value, "errors", None, Lt, 3.0)),
      features = Seq(
        FeatureSpec("buy", Seq("few_amounts", "spend_per_amount")),
        FeatureSpec("click", Seq("key_spread", "few_errors"))))
    def fev(id: Long, user: Long, typ: String, value: Double, k: Int, minute: Int) =
      EventRow(id, java.sql.Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00"),
        user, typ, value, s"""{"k": $k}""")
    // user 1: four amounts, two distinct longs (1 and 2): "buy" stays
    // granted; counted as four strings it would flip off
    val pinned = Seq(
      fev(1, 1, "purchase", 1.2, 0, 1), fev(2, 1, "purchase", 1.7, 0, 2),
      fev(3, 1, "purchase", 2.4, 0, 3), fev(4, 1, "purchase", 2.9, 0, 4))
    val rnd = new scala.util.Random(20261020L)
    val types = Seq("purchase", "click", "error", "signup")
    val random = (5L to 400L).map { id =>
      fev(id, 2L + rnd.nextInt(30), types(rnd.nextInt(types.size)),
        rnd.nextInt(40) / 8.0, rnd.nextInt(6), rnd.nextInt(50))
    }
    // in event-time order, so no row of the second batch is late
    val all = (pinned ++ random).sortBy(e => (e.ts.getTime, e.event_id))
    val (batch1, batch2) = all.splitAt(all.length / 2)

    val ms = MemoryStream[EventRow](spark)
    val q = EventPipeline.grantChangesBounded(spark, ms.toDS(), fracCfg)
      .writeStream.format("memory").queryName("frac_flips").outputMode("append").start()
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2 ++ batch1.take(20)); q.processAllAvailable() // with replays
    } finally q.stop()
    val flips = spark.table("frac_flips").as[GrantChange].collect().toSeq

    val batchGrants = Grants.long(EventAggregates.perUser(all.toDF(), fracCfg.aggregates), fracCfg)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getBoolean(2)).toMap
    val streamFinal = (for (u <- all.map(_.user_id).distinct; f <- fracCfg.features) yield {
      val last = flips.filter(c => c.user_id == u && c.feature == f.name).lastOption
      (u, f.name) -> last.map(_.has_grant).getOrElse(true)
    }).toMap
    assert(batchGrants((1L, "buy")), "two distinct amounts keep buy granted in batch")
    assert(streamFinal == batchGrants,
      s"diverged on ${streamFinal.toSet.diff(batchGrants.toSet).take(5)}")
    assert(batchGrants.values.exists(!_), "the random users must revoke some grant")
  }

  test("bounded pipeline dedups via watermark state, same flips") {
    import spark.implicits._
    val ms = MemoryStream[EventRow](spark)
    val q = EventPipeline.grantChangesBounded(spark, ms.toDS(), cfg)
      .writeStream.format("memory").queryName("bounded_flips")
      .outputMode("append").start()
    try {
      // queueMetrics (the reference's GET /queue-size): no progress yet
      assert(EventPipeline.queueMetrics(q)("batch_id") == -1L)
      ms.addData(Seq(
        ev(1, 4, "purchase", 600.0, 1),
        ev(1, 4, "purchase", 600.0, 1), // in-batch duplicate: folded twice, 1200 would keep purchase
        ev(2, 4, "error", 700.0, 2)))  // revoke purchase
      q.processAllAvailable()
      ms.addData(Seq(
        ev(2, 4, "error", 700.0, 2),   // duplicate inside watermark → dropped
        ev(3, 4, "purchase", 200.0, 3))) // re-grant
      q.processAllAvailable()
      // two batches in, one user's state row
      val m = EventPipeline.queueMetrics(q)
      assert(m("batch_id").asInstanceOf[Long] >= 1L, m)
      assert(m("state_rows") == 1L, m)
    } finally q.stop()
    val flips = spark.table("bounded_flips").as[GrantChange].collect().toSeq
    assert(flips == Seq(
      GrantChange(4, "purchase", false),
      GrantChange(4, "purchase", true)))
  }

  test("queueMetrics names no batch after an idle trigger's progress") {
    import spark.implicits._
    val ms = MemoryStream[EventRow](spark)
    val q = EventPipeline.grantChangesBounded(spark, ms.toDS(), cfg)
      .writeStream.format("memory").queryName("idle_flips")
      .outputMode("append").start()
    try {
      // the first trigger finds no data and still reports progress
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (q.lastProgress == null && System.nanoTime() < deadline) Thread.sleep(10)
      assert(q.lastProgress != null, "no idle progress within 60 s")
      assert(EventPipeline.queueMetrics(q)("batch_id") == -1L)
      ms.addData(Seq(ev(1, 5, "purchase", 600.0, 1)))
      q.processAllAvailable()
      assert(EventPipeline.queueMetrics(q)("batch_id") == 0L)
    } finally q.stop()
  }

  test("bounded pipeline under the RocksDB state store: same flips") {
    // The config-gated 10⁹-user deployment path (VERDICT r15 #4): the
    // per-user state must behave identically under
    // RocksDBStateStoreProvider — same dedup, same flip sequence. The
    // provider is a session conf, so the pipeline code itself is
    // untouched; this pins that the gated path keeps working (measured
    // ev/s in BENCHNOTES "RocksDB state store").
    val ss = spark.newSession()
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import ss.implicits._
    val ms = MemoryStream[EventRow](ss)
    val q = EventPipeline.grantChangesBounded(ss, ms.toDS(), cfg)
      .writeStream.format("memory").queryName("rocksdb_flips")
      .outputMode("append").start()
    try {
      ms.addData(Seq(
        ev(1, 9, "purchase", 600.0, 1),
        ev(2, 9, "error", 700.0, 2)))  // revoke purchase
      q.processAllAvailable()
      ms.addData(Seq(
        ev(2, 9, "error", 700.0, 2),   // duplicate inside watermark → dropped
        ev(3, 9, "purchase", 200.0, 3))) // re-grant
      q.processAllAvailable()
    } finally q.stop()
    val flips = ss.table("rocksdb_flips").as[GrantChange].collect().toSeq
    assert(flips == Seq(
      GrantChange(9, "purchase", false),
      GrantChange(9, "purchase", true)))
  }

  test("bounded pipeline: replayed-duplicate feed keeps state rows flat") {
    import spark.implicits._
    val batch = (1 to 20).map(i =>
      ev(i.toLong, 100L + i % 5, if (i % 2 == 0) "purchase" else "error",
        50.0 * i, i % 50))
    val ms = MemoryStream[EventRow](spark)
    val q = EventPipeline.grantChangesBounded(spark, ms.toDS(), cfg)
      .writeStream.format("memory").queryName("replay_flips")
      .outputMode("append").start()
    try {
      ms.addData(batch); q.processAllAvailable()
      val rows1 = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      val flips1 = spark.table("replay_flips").count()
      // full replay of the SAME batch (all inside the watermark): every
      // row is a duplicate — no new state, no new flips
      ms.addData(batch); q.processAllAvailable()
      val rows2 = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      val flips2 = spark.table("replay_flips").count()
      assert(rows2 == rows1, s"state grew on replay: $rows1 -> $rows2")
      assert(flips2 == flips1, s"replay emitted flips: $flips1 -> $flips2")
    } finally q.stop()
  }

  test("real-corpus parity: bounded stream over sf0.001 ends at the batch grants") {
    import spark.implicits._
    val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val rows = events.as[EventRow].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val ms = MemoryStream[EventRow](spark)
    val q = EventPipeline.grantChangesBounded(spark, ms.toDS(), cfg)
      .writeStream.format("memory").queryName("corpus_flips")
      .outputMode("append").start()
    try {
      rows.grouped(math.max(1, rows.length / 3)).foreach { c =>
        ms.addData(c.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val flips = spark.table("corpus_flips").as[GrantChange].collect().toSeq
    // reconstruct final streaming state: default TRUE + last flip wins
    val users = rows.map(_.user_id).distinct
    val streamFinal = (for (u <- users; f <- cfg.features) yield {
      val last = flips.filter(c => c.user_id == u && c.feature == f.name).lastOption
      (u, f.name) -> last.map(_.has_grant).getOrElse(true)
    }).toMap
    val batchFinal = graft.operators.Grants.long(
      graft.operators.EventAggregates.perUser(events, cfg.aggregates), cfg)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getBoolean(2)).toMap
    assert(streamFinal == batchFinal,
      s"diverged on ${streamFinal.toSet.diff(batchFinal.toSet).take(5)}")
    assert(flips.nonEmpty, "corpus must exercise at least one flip")
  }

  test("batch mode runs the identical stateful code path") {
    import spark.implicits._
    val events = Seq(
      ev(1, 5, "purchase", 600.0, 1),
      ev(1, 5, "purchase", 600.0, 1), // duplicate: folded twice, 1200 would keep purchase
      ev(2, 5, "error", 900.0, 2)).toDS()
    val flips = EventPipeline.grantChangesBounded(spark, events, cfg).collect()
    assert(flips.toSeq == Seq(GrantChange(5, "purchase", false)))
  }
}
