package graft

import scala.reflect.runtime.universe.TypeTag

import graft.config.DefaultConfig
import graft.operators.{EventAggregates, Grants}
import graft.sources.GrantStore
import graft.streaming.EventPipeline
import graft.streaming.EventPipeline.{EventRow, GrantChange}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint/restart recovery of the bounded grant-flip pipeline:
  * a streaming query stopped mid-feed and restarted from a REAL
  * checkpointLocation must produce exactly the uninterrupted run's
  * flips — state (per-user accumulators, dedup watermark state,
  * source offsets) restored, nothing lost, nothing re-emitted.
  * Reference analogue: drain-and-resume on shutdown
  * (/root/reference/app_builder.py:181-187), which loses all state on
  * a crash — this is the capability the reference's in-process dicts
  * fundamentally cannot provide. */
object StreamingRecoverySpec {
  // one (batchId, flips) entry PER foreachBatch invocation, shared
  // across the two query incarnations — foreachBatch output survives
  // the restart here, unlike a memory sink, which recovery recreates
  // empty. Per-invocation granularity lets the assertions distinguish
  // an exact redelivered batch (same id, same multiset) from real
  // divergence, without confusing legitimate duplicate flips INSIDE
  // one batch (a key flipping F→T→F emits false twice).
  val flipLog = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[GrantChange])]()

  /** The per-user state of the pre-r15 pipeline: a forever seen-id
    * set beside the accumulators. */
  final case class LegacyUserState(
      seenIds: Map[Long, Boolean],
      counts: Map[String, Long],
      sums: Map[String, Double],
      distincts: Map[String, Map[String, Boolean]],
      grants: Map[String, Boolean])

  /** The per-user state of the nested-map bounded pipeline (round 15
    * until the flat slot arrays): name-keyed accumulators beside a
    * watermark-evicted `event_id → event-time ms` dedup map. */
  final case class NestedAggState(
      counts: Map[String, Long],
      sums: Map[String, Double],
      distincts: Map[String, Map[String, Boolean]],
      grants: Map[String, Boolean])
  final case class NestedUserState(agg: NestedAggState, seenTs: Map[Long, Long])
}

class StreamingRecoverySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val cfg = DefaultConfig.config

  private def key(c: GrantChange) = (c.user_id, c.feature, c.has_grant)

  test("stop mid-feed + restart from checkpoint equals the uninterrupted run") {
    import spark.implicits._
    val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val rows = events.as[EventRow].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val chunks = rows.grouped(math.max(1, rows.length / 4)).map(_.toSeq).toSeq

    // ---- uninterrupted reference run (same chunking, memory sink) ----
    val refMs = MemoryStream[EventRow](spark)
    val refQ = EventPipeline.grantChangesBounded(spark, refMs.toDS(), cfg)
      .writeStream.format("memory").queryName("rec_ref").outputMode("append").start()
    try chunks.foreach { c => refMs.addData(c); refQ.processAllAvailable() }
    finally refQ.stop()
    val refFlips = spark.table("rec_ref").as[GrantChange].collect().toSeq

    // ---- interrupted run: feed half, stop, restart, feed the rest ----
    val table = "grants_recover"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    GrantStore.drop(spark, table)
    GrantStore.materialize(
      Seq.empty[(Long, String, Boolean)].toDF("user_id", "feature", "has_grant"),
      table, buckets = 8)
    StreamingRecoverySpec.flipLog.clear()
    val ms = MemoryStream[EventRow](spark)
    def startQ() = EventPipeline.grantChangesBounded(spark, ms.toDS(), cfg)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[GrantChange], id: Long) =>
        val batch = b.persist()
        try {
          GrantStore.upsert(batch.sparkSession, batch.toDF(), table, 8, Some(id))
          StreamingRecoverySpec.flipLog.add((id, batch.collect().toSeq))
          ()
        } finally batch.unpersist()
      }
      .queryName("rec_q").start()
    try {
      import scala.jdk.CollectionConverters._
      val q1 = startQ()
      try chunks.take(2).foreach { c => ms.addData(c); q1.processAllAvailable() }
      finally q1.stop()
      val idsBefore = StreamingRecoverySpec.flipLog.asScala.map(_._1).toSet
      val q2 = startQ() // same checkpoint, same source → must RESUME
      try chunks.drop(2).foreach { c => ms.addData(c); q2.processAllAvailable() }
      finally q2.stop()

      // batch ids continue past the first incarnation's — the restart
      // resumed from the checkpoint instead of reprocessing from zero
      val log = StreamingRecoverySpec.flipLog.asScala.toSeq
      val idsAfter = log.map(_._1).toSet -- idsBefore
      assert(idsBefore.nonEmpty && idsAfter.nonEmpty &&
        idsAfter.forall(i => idsBefore.forall(_ < i)),
        s"restart did not resume: first=$idsBefore second=$idsAfter")

      // at-least-once: tolerate an exact redelivered batch (same id,
      // same flip multiset — anything else is a real divergence), then
      // the flip multiset must equal the uninterrupted run's
      val byBatch = log.groupBy(_._1).map { case (id, invocations) =>
        val multisets = invocations.map(_._2.map(key).sorted).distinct
        assert(multisets.size == 1, s"batch $id redelivered with different content")
        id -> invocations.head._2
      }
      val got = byBatch.values.flatten.toSeq.map(key).sorted
      val want = refFlips.map(key).sorted
      assert(got == want,
        s"flips diverge: got ${got.size} want ${want.size}")

      // the GrantStore ends at the uninterrupted run's final state —
      // and every stored row agrees with the batch compiler over the
      // full corpus (stream/batch/store triple parity)
      val stored = GrantStore.read(spark, table).collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getBoolean(2)).toMap
      val lastFlip = refFlips.groupBy(c => (c.user_id, c.feature))
        .map { case (k, cs) => k -> cs.last.has_grant }
      // keys whose flips netted out inside one micro-batch never reach
      // the store (collapse drops them) — absent row == default grant
      stored.foreach { case (k, v) =>
        assert(lastFlip.get(k).contains(v), s"store row $k=$v vs flips ${lastFlip.get(k)}")
      }
      val batchGrants = Grants.long(EventAggregates.perUser(events, cfg.aggregates), cfg)
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getBoolean(2)).toMap
      stored.foreach { case (k, v) =>
        assert(batchGrants.get(k).contains(v), s"store row $k=$v vs batch ${batchGrants.get(k)}")
      }

      // redelivered batch through the GrantStore sink: re-upserting the
      // final micro-batch's flips (same batch id) must leave the store
      // unchanged — last-writer-wins collapse is replay-idempotent even
      // when the caller-id differs and the batch guard does not fire
      val lastId = byBatch.keys.max
      val lastBatch = byBatch(lastId)
      GrantStore.upsert(spark, lastBatch.toDF(), table, 8, Some(lastId))
      val stored2 = GrantStore.read(spark, table).collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getBoolean(2)).toMap
      assert(stored2 == stored, "redelivered batch mutated the store")
    } finally {
      GrantStore.drop(spark, table)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  /** Writes a checkpoint with a flatMapGroupsWithState over state
    * type `S`, keyed by user like the grant fold, then restarts the
    * grant fold from it: the restart must die with Spark's state-schema
    * incompatibility error — a clear, immediate signal to restart from
    * a fresh checkpoint — rather than deserialize garbage into silently
    * wrong state. */
  private def assertRestoreFails[S <: Product : TypeTag](shape: String, empty: S)(
      step: (S, Iterator[EventRow]) => S): Unit = {
    import spark.implicits._
    val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val rows = events.as[EventRow].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val (first, rest) = rows.splitAt(rows.length / 2)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_mig_").toString
    val ms = MemoryStream[EventRow](spark)
    try {
      // incarnation 1: the old state format writes the checkpoint
      // foreachBatch sinks, not memory: the memory sink refuses ANY
      // checkpoint recovery, which would short-circuit before the
      // state-schema check under test
      val q1 = ms.toDS().groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
          (_: Long, evs: Iterator[EventRow], state: GroupState[S]) => {
            state.update(step(state.getOption.getOrElse(empty), evs))
            Iterator.empty[GrantChange]
          })
        .writeStream.queryName(s"mig_$shape")
        .option("checkpointLocation", ckpt).outputMode("append")
        .foreachBatch { (b: Dataset[GrantChange], _: Long) =>
          // must consume every partition: Spark 4 validates that all
          // state stores committed, and an unconsumed frame commits none
          val _ = b.count(); ()
        }.start()
      try { ms.addData(first.toSeq); q1.processAllAvailable() } finally q1.stop()

      // incarnation 2: the grant fold restores the same checkpoint —
      // must fail loudly, at start or on first batch
      ms.addData(rest.toSeq)
      val err = intercept[Throwable] {
        val q2 = EventPipeline.grantChangesBounded(spark, ms.toDS(), cfg)
          .writeStream.queryName(s"mig_${shape}_bounded")
          .option("checkpointLocation", ckpt).outputMode("append")
          .foreachBatch { (b: Dataset[GrantChange], _: Long) =>
            val _ = b.count(); ()
          }.start()
        try q2.processAllAvailable() finally q2.stop()
      }
      // the documented failure, not an arbitrary crash: Spark's state
      // schema check names the mismatch (wording varies by version —
      // accept any message chain that mentions state + schema)
      val messages = Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ").toLowerCase
      assert(messages.contains("schema") && messages.contains("state"),
        s"$shape: expected a state-schema incompatibility error, got: $messages")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("incompatible checkpoint fails loudly") {
    // The pipeline's state type has changed three times
    // (EventPipeline.scala checkpoint-compatibility note). A checkpoint
    // written by an earlier shape must NOT restore into the flat one;
    // a flatMapGroupsWithState over the old shape stands in for the old
    // pipeline.
    import StreamingRecoverySpec._
    // pre-r15: forever seen-id set beside the accumulators
    assertRestoreFails("legacy",
      LegacyUserState(Map.empty, Map.empty, Map.empty, Map.empty, Map.empty)) { (st, evs) =>
      st.copy(seenIds = st.seenIds ++ evs.map(_.event_id -> true))
    }
    // r15 until the flat state: nested name-keyed maps
    assertRestoreFails("nested",
      NestedUserState(NestedAggState(Map.empty, Map.empty, Map.empty, Map.empty), Map.empty)) {
      (st, evs) =>
        val seen = evs.map(e => e.event_id -> e.ts.getTime).toMap
        NestedUserState(st.agg.copy(grants = Map("purchase" -> true, "message" -> true)),
          st.seenTs ++ seen)
    }
  }

  test("restart under a config of another slot layout fails loudly") {
    // Same state schema, same number of aggregates of each type and of
    // features: only the fold's layout check tells the old slots apart.
    import spark.implicits._
    val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val rows = events.as[EventRow].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val (first, rest) = rows.splitAt(rows.length / 2)
    val edited = Seq(
      "reordered aggregates" -> cfg.copy(aggregates = cfg.aggregates.reverse),
      "swapped features" -> cfg.copy(features = cfg.features.reverse))
    edited.zipWithIndex.foreach { case ((edit, cfg2), i) =>
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_layout_").toString
      val ms = MemoryStream[EventRow](spark)
      def run(c: graft.config.EngineConfig, name: String): Unit = {
        val q = EventPipeline.grantChangesBounded(spark, ms.toDS(), c)
          .writeStream.queryName(name)
          .option("checkpointLocation", ckpt).outputMode("append")
          .foreachBatch { (b: Dataset[GrantChange], _: Long) =>
            val _ = b.count(); ()
          }.start()
        try q.processAllAvailable() finally q.stop()
      }
      try {
        ms.addData(first.toSeq)
        run(cfg, s"layout_${i}_a")
        ms.addData(rest.toSeq)
        val err = intercept[Throwable](run(cfg2, s"layout_${i}_b"))
        val messages = Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
          .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
        assert(messages.contains("laid out under another config"),
          s"$edit: expected the fold's layout error, got: $messages")
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      }
    }
  }
}
