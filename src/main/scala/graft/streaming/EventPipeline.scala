package graft.streaming

import graft.config._
import graft.operators.RuleEval
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{MapType, StringType}

/** The reference's write path as Structured Streaming
  * (SURVEY.md §3.1): events → per-user incremental aggregates →
  * rule/feature evaluation → grant-flip CDC, keyed state per user.
  *
  * The reference runs 3 lock-guarded asyncio consumers over shared
  * dicts (app_builder.py:35, aggregate.py:91); here the same semantics
  * fall out of hash-partitioning by user_id — per-key serial updates,
  * cross-key parallel, no locks, arbitrarily many executors.
  *
  * State shape mirrors the reference accumulators
  * (models/aggregate.py:41-83): count/sum scalars, distinct-value
  * sets, plus the current grants (user_feature.py:22). The
  * reference's seen-uuid set grows forever; [[grantChangesBounded]],
  * the one grant fold, dedups event ids within the watermark on a
  * stream and over the whole input on a static frame.
  */
object EventPipeline {

  final case class EventRow(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  /** EventRow with props parsed to a typed map BEFORE the stateful
    * fold — `from_json` runs codegen'd upstream of groupByKey, so the
    * per-key state update reads typed fields instead of re-parsing
    * JSON per event (and malformed props strictly parse to null
    * rather than fuzzy-matching a regex). */
  final case class TypedEventRow(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: Map[String, String])

  /** Emitted only when a grant flips (reference user_feature.py:32-44);
    * the notification payload of S3. */
  final case class GrantChange(user_id: Long, feature: String, has_grant: Boolean)

  final case class UserAggState(
      counts: Map[String, Long],
      sums: Map[String, Double],
      distincts: Map[String, Map[String, Boolean]],
      grants: Map[String, Boolean])

  private[graft] def emptyState: UserAggState =
    UserAggState(Map.empty, Map.empty, Map.empty, Map.empty)

  /** The per-user fold: apply the batch's events in event-time order,
    * re-evaluate grants after each, collect flips. The caller hands it
    * deduplicated events: [[grantChangesBounded]] drops repeated event
    * ids before the fold, on a stream and on a static frame alike.
    *
    * This is the ingest tier's hot loop — it runs once per EVENT on
    * every executor — so it works on mutable accumulators and the
    * pre-resolved [[RuleEval.Compiled]] plan, converting to the
    * immutable state shape once per (user, batch). The naive
    * immutable-maps-per-event version measured ~250 µs/event of fold
    * CPU at sf0.1 (a linear rule-name scan per rule reference, a
    * filtered Seq and a fresh grants Map per event); semantics are
    * bit-identical — null field ⇒ no update, divide-by-zero ⇒ abides,
    * missing aggregate ⇒ 0, default grant TRUE (StreamingParitySpec
    * pins batch/stream parity). */
  private[graft] def foldEvents(cfg: EngineConfig, userId: Long, st0: UserAggState,
                         events: Iterator[TypedEventRow]): (UserAggState, Seq[GrantChange]) = {
    import scala.collection.mutable
    val cc = RuleEval.compiled(cfg)
    val counts = mutable.HashMap.empty[String, Long]; counts ++= st0.counts
    val sums = mutable.HashMap.empty[String, Double]; sums ++= st0.sums
    val distincts = mutable.HashMap.empty[String, mutable.HashSet[String]]
    st0.distincts.foreach { case (k, m) =>
      val s = mutable.HashSet.empty[String]; s ++= m.keysIterator; distincts(k) = s
    }
    val grants = mutable.HashMap.empty[String, Boolean]; grants ++= st0.grants
    val changes = mutable.ArrayBuffer.empty[GrantChange]
    def aggValue(name: String): Double = {
      val c = counts.get(name)
      if (c.isDefined) c.get.toDouble
      else {
        val s = sums.get(name)
        if (s.isDefined) s.get
        else distincts.get(name) match {
          case Some(set) => set.size.toDouble
          case None => 0.0
        }
      }
    }
    val aggFn: String => Double = aggValue
    val arr = events.toArray
    java.util.Arrays.sort(arr, (a: TypedEventRow, b: TypedEventRow) => {
      val c = java.lang.Long.compare(a.ts.getTime, b.ts.getTime)
      if (c != 0) c else java.lang.Long.compare(a.event_id, b.event_id)
    })
    arr.foreach { e =>
      cc.aggsByType.get(e.event_type).foreach { as =>
        var i = 0
        while (i < as.length) {
          val a = as(i)
          a.aggType match {
            case AggregateType.Count =>
              counts.update(a.name, counts.getOrElse(a.name, 0L) + 1L)
            case AggregateType.Sum => cc.fieldRefs(a.name) match {
              case RuleEval.ValueField =>
                sums.update(a.name, sums.getOrElse(a.name, 0.0) + e.value)
              case RuleEval.PropsField(key) =>
                if (e.props != null) e.props.get(key).foreach { v =>
                  sums.update(a.name, sums.getOrElse(a.name, 0.0) + v.toDouble)
                }
              case RuleEval.NoField => ()
            }
            case AggregateType.DistinctCount => cc.fieldRefs(a.name) match {
              case RuleEval.ValueField =>
                distincts.getOrElseUpdate(a.name,
                  scala.collection.mutable.HashSet.empty) += e.value.toString
              case RuleEval.PropsField(key) =>
                if (e.props != null) e.props.get(key).foreach { v =>
                  distincts.getOrElseUpdate(a.name,
                    scala.collection.mutable.HashSet.empty) += v
                }
              case RuleEval.NoField => ()
            }
          }
          i += 1
        }
      }
      // re-evaluate every feature (rules.py re-checks on each event);
      // default grant is TRUE (rules.py:112), flips are the CDC output
      var fi = 0
      while (fi < cc.featureNames.length) {
        val rules = cc.featureRules(fi)
        var granted = true
        var ri = 0
        while (granted && ri < rules.length) {
          granted = RuleEval.abides(rules(ri), aggFn)
          ri += 1
        }
        val name = cc.featureNames(fi)
        if (grants.getOrElse(name, true) != granted)
          changes += GrantChange(userId, name, granted)
        grants.update(name, granted)
        fi += 1
      }
    }
    val st = UserAggState(counts.toMap, sums.toMap,
      distincts.iterator.map { case (k, s) =>
        k -> s.iterator.map(_ -> true).toMap
      }.toMap,
      grants.toMap)
    (st, changes.toSeq)
  }

  /** Backlog/observability surface (SURVEY.md S5: the reference's
    * `GET /queue-size`, app.py:47-60). In Structured Streaming the
    * "queue" is the source backlog + state store, read from query
    * progress rather than an in-process counter. */
  def queueMetrics(q: org.apache.spark.sql.streaming.StreamingQuery): Map[String, Any] = {
    Option(q.lastProgress).map { p =>
      // An idle trigger reports progress too, with no `addBatch` phase,
      // under the id of the batch it did not run: the last batch that
      // ran is the one before it (-1 when none has).
      val ran = p.durationMs.containsKey("addBatch")
      Map(
        "batch_id" -> (if (ran) p.batchId else p.batchId - 1),
        "num_input_rows" -> p.numInputRows,
        "input_rows_per_sec" -> p.inputRowsPerSecond,
        "process_rows_per_sec" -> p.processedRowsPerSecond,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum)
    }.getOrElse(Map("batch_id" -> -1L))
  }

  /** Bounded per-user state for [[grantChangesBounded]]: the
    * accumulators plus a watermark-evicted `event_id → event-time ms`
    * dedup map. */
  final case class BoundedUserState(agg: UserAggState, seenTs: Map[Long, Long])

  /** The engine's grant fold. On a stream, uuid dedup keeps only ids
    * seen WITHIN the watermark, evicted as it advances — the per-user
    * state is then O(aggregates + in-flight window), not O(events
    * seen), where the reference's dicts keep every id forever. The
    * trade is the reference's exact forever-dedup narrows to
    * duplicates arriving within the watermark, the standard production
    * contract. On a static frame (batch mode runs the same code path:
    * the batch/stream parity guarantee) there is no watermark: no row
    * is late, and each user's one pass sees the whole input, so the
    * dedup covers all of it. Which of the two applies is decided once,
    * here, from `events.isStreaming`.
    *
    * The dedup lives INSIDE the per-user fold rather than as an
    * upstream `dropDuplicatesWithinWatermark`: a duplicate event
    * carries the same user_id as its original, so per-user scope loses
    * nothing — and the pipeline drops from two stateful operators
    * (dedup keyed by event_id, fold keyed by user_id: two shuffles of
    * the full event stream + 2× state-store commit fan-out per
    * micro-batch) to ONE. At 100 TB/day that is a full shuffle of the
    * ingest stream saved per batch; on the bench it halves the
    * per-batch fixed cost that dominates small-batch throughput.
    * Late rows (event time older than the watermark) are dropped
    * before the fold, exactly as the upstream dedup operator did.
    *
    * CHECKPOINT COMPATIBILITY: the state type has changed twice. Round
    * 15 moved it from `UserAggState` to [[BoundedUserState]] (and
    * removed the upstream dedup operator); later `UserAggState` lost
    * its seen-id map, always empty here, with the unbounded
    * forever-dedup pipeline that filled it. A checkpoint written
    * before either change does NOT restore into this pipeline — a
    * long-lived deployment upgrading across one must restart from a
    * fresh checkpoint (and re-feed or accept the watermark-bounded
    * gap), not debug a state-deserialization failure.
    *
    * State-store provider: per-user state rides whatever
    * `spark.sql.streaming.stateStore.providerClass` the session
    * configures. The default in-memory HashMap provider holds every
    * user's state on-heap per partition — fine at bench scale,
    * memory-bound at 10⁹ users; set the conf to
    * `org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`
    * to move state off-heap with incremental checkpointing
    * (StreamBench: `SPARK_GRAFT_STREAM_PROVIDER=rocksdb`; measured
    * ev/s in BENCHNOTES "RocksDB state store"). */
  def grantChangesBounded(spark: SparkSession, events: Dataset[EventRow],
                          cfg: EngineConfig,
                          watermark: String = "15 minutes"): Dataset[GrantChange] = {
    import spark.implicits._
    val typed = events.toDF()
      .withColumn("props", from_json(col("props"), MapType(StringType, StringType)))
      .as[TypedEventRow]
    // batch planning drops a watermark, and reading one then throws
    val streaming = events.isStreaming
    val in = if (streaming) typed.withWatermark("ts", watermark) else typed
    in.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, evs: Iterator[TypedEventRow], state: GroupState[BoundedUserState]) => {
          val st0 = state.getOption.getOrElse(BoundedUserState(emptyState, Map.empty))
          val wm = if (streaming) state.getCurrentWatermarkMs() else Long.MinValue
          // late-data filter + prior-batch dedup (point lookups) +
          // in-batch dedup (duplicate rows are identical — keeping any
          // one is exact)
          val fresh = evs
            .filter(e => e.ts.getTime >= wm)
            .filterNot(e => st0.seenTs.contains(e.event_id))
            .toSeq.distinctBy(_.event_id)
          val (st, changes) = foldEvents(cfg, userId, st0.agg, fresh.iterator)
          // watermark eviction of the dedup map, then record this
          // batch's ids
          val seen = st0.seenTs.filter(_._2 >= wm) ++
            fresh.iterator.map(e => e.event_id -> e.ts.getTime)
          state.update(BoundedUserState(st, seen))
          changes.iterator
        })
  }
}
