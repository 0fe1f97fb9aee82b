package graft.streaming

import java.nio.ByteBuffer

import scala.collection.mutable
import scala.reflect.ClassTag

import graft.config._
import graft.operators.{EventAggregates, RuleEval}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{Codec, ExpressionEncoder}
import org.apache.spark.sql.catalyst.encoders.AgnosticEncoders.{BinaryEncoder, TransformingEncoder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The reference's write path as Structured Streaming
  * (SURVEY.md §3.1): events → per-user incremental aggregates →
  * rule/feature evaluation → grant-flip CDC, keyed state per user.
  *
  * The reference runs 3 lock-guarded asyncio consumers over shared
  * dicts (app_builder.py:35, aggregate.py:91); here the same semantics
  * fall out of hash-partitioning by user_id — per-key serial updates,
  * cross-key parallel, no locks, arbitrarily many executors.
  *
  * The state holds the reference accumulators
  * (models/aggregate.py:41-83): counts, sums, distinct-value sets,
  * plus the current grants (user_feature.py:22), as flat arrays
  * indexed by the config's slots ([[BoundedUserState]]) where the
  * reference keys dicts by name. The reference's seen-uuid set grows
  * forever; [[grantChangesBounded]],
  * the one grant fold, dedups event ids within the watermark on a
  * stream and over the whole input on a static frame.
  */
object EventPipeline {

  final case class EventRow(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  /** Emitted only when a grant flips (reference user_feature.py:32-44);
    * the notification payload of S3. */
  final case class GrantChange(user_id: Long, feature: String, has_grant: Boolean)

  /** The grant fold's per-user state: flat primitive arrays indexed by
    * the slots of [[RuleEval.Compiled]], so no aggregate or feature
    * name is stored in a row.
    *  - `layout`: the config's slot-layout fingerprint
    *    ([[RuleEval.Compiled.layout]]); the fold refuses a state laid
    *    out under another config;
    *  - `counts`, `sums`: one entry per COUNT / SUM slot;
    *  - `grants`: one flag per feature slot;
    *  - `distinctValues`: each DISTINCT_COUNT slot's values as one
    *    sorted run, slot `k` ending at `distinctEnds(k)`;
    *  - `seenIds`, `seenTs`: the watermark dedup, event ids sorted
    *    ascending with each id's event time (ms) beside it. */
  final case class BoundedUserState(
      layout: Int,
      counts: Array[Long],
      sums: Array[Double],
      grants: Array[Boolean],
      distinctEnds: Array[Int],
      distinctValues: Array[Long],
      seenIds: Array[Long],
      seenTs: Array[Long])

  object BoundedUserState {
    /** A user with no events yet: zeros, no values, every feature granted. */
    def empty(cc: RuleEval.Compiled): BoundedUserState = BoundedUserState(cc.layout,
      new Array[Long](cc.counts), new Array[Double](cc.sums),
      Array.fill(cc.featureNames.length)(true), new Array[Int](cc.distincts),
      Array.emptyLongArray, Array.emptyLongArray, Array.emptyLongArray)

    /** The state store holds a state as one binary column. Spark's
      * product encoder decodes a primitive array through a `MapObjects`
      * lambda whose variable id is drawn anew each time the encoder is
      * resolved, and a stateful operator resolves its state encoder once
      * per micro-batch: the decoder would be new generated code in every
      * batch, compiled while the batch's tasks wait on the codegen
      * cache's lock. A binary column decodes with no lambda, so the
      * cache serves its code after the first batch.
      *
      * Built from Spark's encoder internals (`TransformingEncoder`,
      * `Codec`), which carry no stability promise: after a Spark
      * upgrade, run `GrantFoldCodegenSpec` first. */
    lazy val encoder: Encoder[BoundedUserState] = ExpressionEncoder(
      TransformingEncoder(ClassTag(classOf[BoundedUserState]), BinaryEncoder, () => Packed))

    /** The layout, then each array as its length and its elements. */
    private object Packed extends Codec[BoundedUserState, Array[Byte]] {
      def encode(s: BoundedUserState): Array[Byte] = {
        val b = ByteBuffer.allocate(4 * 8 + 8 * (s.counts.length + s.sums.length +
          s.distinctValues.length + s.seenIds.length + s.seenTs.length) +
          4 * s.distinctEnds.length + s.grants.length)
        b.putInt(s.layout)
        b.putInt(s.counts.length); s.counts.foreach(b.putLong)
        b.putInt(s.sums.length); s.sums.foreach(b.putDouble)
        b.putInt(s.grants.length); s.grants.foreach(g => b.put(if (g) 1.toByte else 0.toByte))
        b.putInt(s.distinctEnds.length); s.distinctEnds.foreach(b.putInt)
        Seq(s.distinctValues, s.seenIds, s.seenTs).foreach { a =>
          b.putInt(a.length); a.foreach(b.putLong)
        }
        b.array()
      }
      def decode(bytes: Array[Byte]): BoundedUserState = {
        val b = ByteBuffer.wrap(bytes)
        def longs() = Array.fill(b.getInt())(b.getLong())
        BoundedUserState(b.getInt(), longs(), Array.fill(b.getInt())(b.getDouble()),
          Array.fill(b.getInt())(b.get() != 0), Array.fill(b.getInt())(b.getInt()),
          longs(), longs(), longs())
      }
    }
  }

  // Column positions in the fold's input rows (see foldInput).
  private val IdCol = 1
  private val TsCol = 2
  private val FirstSlotCol = 3

  /** The fold's input: `user_id`, `event_id`, `ts`, then one
    * [[EventAggregates.aggInput]] per aggregate slot. The batch plan
    * reads fields through the same expressions, so both paths cast a
    * field alike (a DISTINCT_COUNT over `value` counts distinct longs in
    * both), and only the event types an aggregate reads parse `props`. */
  private[graft] def foldInput(events: DataFrame, cfg: EngineConfig): DataFrame =
    events.select(col("user_id") +: col("event_id") +: col("ts") +:
      cfg.aggregates.zipWithIndex.map { case (a, i) =>
        EventAggregates.aggInput(a).as(s"agg_$i")
      }: _*)

  /** The value each aggregate slot of `st` feeds the rules. */
  private[graft] def aggValues(cc: RuleEval.Compiled, st: BoundedUserState): Array[Double] =
    Array.tabulate(cc.aggTypes.length) { i =>
      val k = cc.kindSlot(i)
      cc.aggTypes(i) match {
        case AggregateType.Count => st.counts(k).toDouble
        case AggregateType.Sum => st.sums(k)
        case AggregateType.DistinctCount =>
          (st.distinctEnds(k) - (if (k == 0) 0 else st.distinctEnds(k - 1))).toDouble
      }
    }

  /** The per-user fold: apply the batch's events in event-time order,
    * re-evaluate grants after each, collect flips. The caller hands it
    * deduplicated rows of [[foldInput]]: [[grantChangesBounded]] drops
    * repeated event ids before the fold, on a stream and on a static
    * frame alike. The returned state carries `st0`'s dedup arrays.
    *
    * This is the ingest tier's hot loop — it runs once per EVENT on
    * every executor — so it works on the state's slot arrays with the
    * rules resolved to slots ([[RuleEval.Compiled]]): no name lookup
    * and no map rebuilt per user. Semantics: null input ⇒ no update,
    * divide-by-zero ⇒ abides, default grant TRUE (FoldParitySpec pins
    * the fold to a naive name-keyed specification, StreamingParitySpec
    * pins batch/stream parity). */
  private[graft] def foldEvents(cfg: EngineConfig, userId: Long, st0: BoundedUserState,
                                events: Array[Row]): (BoundedUserState, Seq[GrantChange]) = {
    val cc = RuleEval.compiled(cfg)
    val nFeatures = cc.featureNames.length
    require(st0.layout == cc.layout,
      "grant fold state was laid out under another config's aggregates or features: " +
        "restart from a fresh checkpoint")
    val counts = st0.counts.clone()
    val sums = st0.sums.clone()
    val grants = st0.grants.clone()
    // one growable sorted run per DISTINCT_COUNT slot
    val runs = new Array[Array[Long]](cc.distincts)
    val runLen = new Array[Int](cc.distincts)
    var k = 0
    while (k < cc.distincts) {
      val from = if (k == 0) 0 else st0.distinctEnds(k - 1)
      val to = st0.distinctEnds(k)
      runs(k) = java.util.Arrays.copyOfRange(st0.distinctValues, from, to)
      runLen(k) = to - from
      k += 1
    }
    def addDistinct(k: Int, v: Long): Unit = {
      val run = runs(k)
      val len = runLen(k)
      val at = java.util.Arrays.binarySearch(run, 0, len, v)
      if (at < 0) {
        val ins = -at - 1
        val dst = if (len == run.length) java.util.Arrays.copyOf(run, math.max(4, 2 * len)) else run
        System.arraycopy(run, ins, dst, ins + 1, len - ins)
        dst(ins) = v
        runs(k) = dst
        runLen(k) = len + 1
      }
    }
    val values = aggValues(cc, st0)
    val changes = mutable.ArrayBuffer.empty[GrantChange]
    val arr = events.clone()
    java.util.Arrays.sort(arr, (a: Row, b: Row) => {
      val c = java.lang.Long.compare(a.getTimestamp(TsCol).getTime, b.getTimestamp(TsCol).getTime)
      if (c != 0) c else java.lang.Long.compare(a.getLong(IdCol), b.getLong(IdCol))
    })
    arr.foreach { e =>
      var i = 0
      while (i < values.length) {
        val c = FirstSlotCol + i
        if (!e.isNullAt(c)) {
          val k = cc.kindSlot(i)
          cc.aggTypes(i) match {
            case AggregateType.Count =>
              counts(k) += 1L
              values(i) = counts(k).toDouble
            case AggregateType.Sum =>
              sums(k) += e.getDouble(c)
              values(i) = sums(k)
            case AggregateType.DistinctCount =>
              addDistinct(k, e.getLong(c))
              values(i) = runLen(k).toDouble
          }
        }
        i += 1
      }
      // re-evaluate every feature (rules.py re-checks on each event);
      // default grant is TRUE (rules.py:112), flips are the CDC output
      var fi = 0
      while (fi < nFeatures) {
        val rules = cc.featureRules(fi)
        var granted = true
        var ri = 0
        while (granted && ri < rules.length) {
          granted = rules(ri).abides(values)
          ri += 1
        }
        if (grants(fi) != granted) {
          changes += GrantChange(userId, cc.featureNames(fi), granted)
          grants(fi) = granted
        }
        fi += 1
      }
    }
    val ends = runLen.scanLeft(0)(_ + _).tail
    val distinctValues = new Array[Long](ends.lastOption.getOrElse(0))
    k = 0
    while (k < cc.distincts) {
      System.arraycopy(runs(k), 0, distinctValues, ends(k) - runLen(k), runLen(k))
      k += 1
    }
    val st = st0.copy(counts = counts, sums = sums, grants = grants,
      distinctEnds = ends, distinctValues = distinctValues)
    (st, changes.toSeq)
  }

  /** The rows of one user's batch that the fold has not seen: rows
    * under the watermark dropped (late), ids in the state's dedup
    * arrays dropped, one row kept per id (duplicate rows are identical,
    * so keeping any one is exact). */
  private def freshEvents(st0: BoundedUserState, rows: Iterator[Row], wm: Long): Array[Row] = {
    val fresh = mutable.ArrayBuffer.empty[Row]
    val ids = mutable.HashSet.empty[Long]
    rows.foreach { r =>
      val id = r.getLong(IdCol)
      if (r.getTimestamp(TsCol).getTime >= wm &&
          java.util.Arrays.binarySearch(st0.seenIds, id) < 0 && ids.add(id))
        fresh += r
    }
    fresh.toArray
  }

  /** `st`'s dedup arrays moved on: ids whose event time is under the
    * watermark evicted, the batch's fresh ids added, still sorted. */
  private def remember(st: BoundedUserState, fresh: Array[Row], wm: Long): BoundedUserState = {
    val add = fresh.sortBy(_.getLong(IdCol))
    val kept = st.seenTs.count(_ >= wm)
    val ids = new Array[Long](kept + add.length)
    val ts = new Array[Long](ids.length)
    var i = 0
    var j = 0
    var o = 0
    while (o < ids.length) {
      if (i < st.seenIds.length && st.seenTs(i) < wm) i += 1
      else {
        if (j == add.length || (i < st.seenIds.length && st.seenIds(i) < add(j).getLong(IdCol))) {
          ids(o) = st.seenIds(i); ts(o) = st.seenTs(i); i += 1
        } else {
          ids(o) = add(j).getLong(IdCol); ts(o) = add(j).getTimestamp(TsCol).getTime; j += 1
        }
        o += 1
      }
    }
    st.copy(seenIds = ids, seenTs = ts)
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
    * CHECKPOINT COMPATIBILITY: the state type has changed three
    * times. Round 15 moved it from `UserAggState` to a
    * `BoundedUserState` of nested name-keyed maps (and removed the
    * upstream dedup operator); later `UserAggState` lost its seen-id
    * map, always empty here, with the unbounded forever-dedup pipeline
    * that filled it; then the flat slot-indexed [[BoundedUserState]]
    * replaced the nested maps. A checkpoint written before any of these
    * changes does NOT restore into this pipeline: Spark's state-schema
    * check refuses it at the first batch (StreamingRecoverySpec pins
    * this for the two earlier shapes). A long-lived deployment
    * upgrading across one must restart from a fresh checkpoint (and
    * re-feed or accept the watermark-bounded gap), not debug a
    * state-deserialization failure. The flat state is also indexed by
    * the config's slot order: a restart under a config whose
    * aggregates or features differ (reordered, renamed, retyped, or
    * reading another field) needs a fresh checkpoint too, and the fold
    * fails the first batch that meets a state of the old layout
    * (StreamingRecoverySpec pins this).
    *
    * State-store provider: per-user state rides whatever
    * `spark.sql.streaming.stateStore.providerClass` the session
    * configures. The default in-memory HashMap provider holds every
    * user's state on-heap per partition — fine at bench scale,
    * memory-bound at 10⁹ users; set the conf to
    * `org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`
    * to move state off-heap with incremental checkpointing (measured
    * ev/s in BENCHNOTES "RocksDB state store"). */
  def grantChangesBounded(spark: SparkSession, events: Dataset[EventRow],
                          cfg: EngineConfig,
                          watermark: String = "15 minutes"): Dataset[GrantChange] = {
    import spark.implicits._
    val input = foldInput(events.toDF(), cfg)
    // batch planning drops a watermark, and reading one then throws
    val streaming = events.isStreaming
    val in = if (streaming) input.withWatermark("ts", watermark) else input
    in.groupBy(col("user_id")).as[Long, Row](Encoders.scalaLong, Encoders.row(input.schema))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[Row], state: GroupState[BoundedUserState]) => {
          val st0 = state.getOption.getOrElse(BoundedUserState.empty(RuleEval.compiled(cfg)))
          val wm = if (streaming) state.getCurrentWatermarkMs() else Long.MinValue
          val fresh = freshEvents(st0, rows, wm)
          val (st, changes) = foldEvents(cfg, userId, st0, fresh)
          state.update(remember(st, fresh, wm))
          changes.iterator
        })(BoundedUserState.encoder, implicitly[Encoder[GrantChange]])
  }
}
