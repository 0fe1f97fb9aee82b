package graft

import graft.config._
import graft.operators.RuleEval
import graft.streaming.EventPipeline
import graft.streaming.EventPipeline.{BoundedUserState, EventRow, GrantChange}
import org.scalatest.funsuite.AnyFunSuite

/** Randomized parity guard for the optimized per-user fold: the
  * slot-array [[EventPipeline.foldEvents]] must be EXTENSIONALLY
  * IDENTICAL to the naive specification below (the pre-round-15
  * implementation: immutable name-keyed maps, name lookups, a fresh
  * grants Map per event) on every input — the same final value per
  * aggregate name and grant per feature, the same flip sequence —
  * across randomized configs, event streams, repeated ids and prior
  * states. Dedup is the pipeline's job, not the fold's
  * (StreamingParitySpec pins it). The hot loop gets rewritten for speed;
  * this spec is what keeps "for speed" from quietly becoming "and
  * slightly different".
  *
  * Only the adapter touches the flat layout: events reach the fold
  * through the pipeline's own input expressions
  * ([[EventPipeline.foldInput]]), a naive prior state is laid out in
  * slots, and the fold's state is read back by name.
  */
class FoldParitySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  // ---- the naive reference fold (spec copy, kept deliberately dumb) ----

  /** An event with its props parsed. */
  private final case class SpecEvent(event_id: Long, ts: java.sql.Timestamp,
                                     event_type: String, value: Double,
                                     props: Map[String, String])

  private final case class NaiveState(
      counts: Map[String, Long],
      sums: Map[String, Double],
      distincts: Map[String, Set[Long]],
      grants: Map[String, Boolean])

  private val naiveEmpty = NaiveState(Map.empty, Map.empty, Map.empty, Map.empty)

  private def fieldValue(e: SpecEvent, field: String): Option[Double] =
    if (field.startsWith("props."))
      Option(e.props).flatMap(_.get(field.stripPrefix("props."))).map(_.toDouble)
    else if (field == "value") Some(e.value)
    else None

  private def applyEvent(cfg: EngineConfig, st: NaiveState, e: SpecEvent): NaiveState = {
    var counts = st.counts
    var sums = st.sums
    var distincts = st.distincts
    cfg.aggregates.filter(_.eventType == e.event_type).foreach { a =>
      a.aggType match {
        case AggregateType.Count =>
          counts = counts.updated(a.name, counts.getOrElse(a.name, 0L) + 1L)
        case AggregateType.Sum =>
          fieldValue(e, a.field.get).foreach { v =>
            sums = sums.updated(a.name, sums.getOrElse(a.name, 0.0) + v)
          }
        case AggregateType.DistinctCount =>
          // the batch plan counts the field cast to long: truncation
          fieldValue(e, a.field.get).foreach { v =>
            distincts = distincts.updated(a.name,
              distincts.getOrElse(a.name, Set.empty[Long]) + v.toLong)
          }
      }
    }
    NaiveState(counts, sums, distincts, st.grants)
  }

  private def aggValue(st: NaiveState)(name: String): Double =
    st.counts.get(name).map(_.toDouble)
      .orElse(st.sums.get(name))
      .orElse(st.distincts.get(name).map(_.size.toDouble))
      .getOrElse(0.0)

  private def naiveFold(cfg: EngineConfig, userId: Long, st0: NaiveState,
                        events: Seq[SpecEvent]): (NaiveState, Seq[GrantChange]) = {
    var st = st0
    val changes = scala.collection.mutable.ArrayBuffer[GrantChange]()
    events.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
      st = applyEvent(cfg, st, e)
      val newGrants = RuleEval.grants(cfg, aggValue(st))
      newGrants.foreach { case (f, g) =>
        if (st.grants.getOrElse(f, true) != g) changes += GrantChange(userId, f, g)
      }
      st = st.copy(grants = newGrants)
    }
    (st, changes.toSeq)
  }

  // ---- the adapter to the flat input and state ----

  /** The fold's input rows for `events`, in order, built by the
    * pipeline's own projection over the raw events (props as JSON). */
  private def flatInput(cfg: EngineConfig, events: Seq[SpecEvent]): Array[org.apache.spark.sql.Row] = {
    import spark.implicits._
    val raw = events.map { e =>
      val props = Option(e.props).map(_.map { case (k, v) => s""""$k": $v""" }
        .mkString("{", ", ", "}")).orNull
      EventRow(e.event_id, e.ts, 7L, e.event_type, e.value, props)
    }
    EventPipeline.foldInput(raw.toDF(), cfg).collect()
  }

  /** A naive state laid out in the config's slots. */
  private def toFlat(cfg: EngineConfig, st: NaiveState): BoundedUserState = {
    def named(t: AggregateType) = cfg.aggregates.filter(_.aggType == t).map(_.name)
    val runs = named(AggregateType.DistinctCount)
      .map(n => st.distincts.getOrElse(n, Set.empty[Long]).toArray.sorted)
    BoundedUserState(RuleEval.compiled(cfg).layout,
      named(AggregateType.Count).map(st.counts.getOrElse(_, 0L)).toArray,
      named(AggregateType.Sum).map(st.sums.getOrElse(_, 0.0)).toArray,
      cfg.features.map(f => st.grants.getOrElse(f.name, true)).toArray,
      runs.map(_.length).scanLeft(0)(_ + _).tail.toArray,
      runs.flatten.toArray, Array.emptyLongArray, Array.emptyLongArray)
  }

  /** What a state says, by name: each aggregate's value (a distinct
    * aggregate's value set) and each feature's grant. */
  private def byName(cfg: EngineConfig, st: NaiveState): Map[String, Any] =
    cfg.aggregates.map { a =>
      a.name -> (a.aggType match {
        case AggregateType.DistinctCount => st.distincts.getOrElse(a.name, Set.empty[Long])
        case _ => aggValue(st)(a.name)
      })
    }.toMap ++ cfg.features.map(f => f.name -> st.grants.getOrElse(f.name, true))

  private def byName(cfg: EngineConfig, st: BoundedUserState): Map[String, Any] = {
    val cc = RuleEval.compiled(cfg)
    val values = EventPipeline.aggValues(cc, st)
    cfg.aggregates.zipWithIndex.map { case (a, i) =>
      a.name -> (a.aggType match {
        case AggregateType.DistinctCount =>
          val k = cc.kindSlot(i)
          st.distinctValues.slice(if (k == 0) 0 else st.distinctEnds(k - 1),
            st.distinctEnds(k)).toSet
        case _ => values(i)
      })
    }.toMap ++ cfg.features.zipWithIndex.map { case (f, j) =>
      f.name -> st.grants(j)
    }
  }

  // ---- randomized inputs ----

  private def randomConfig(rnd: scala.util.Random): EngineConfig = {
    val types = Seq("a", "b", "c")
    val nAgg = 2 + rnd.nextInt(4)
    val aggs = (0 until nAgg).map { i =>
      rnd.nextInt(3) match {
        case 0 => AggregateSpec(s"agg$i", types(rnd.nextInt(3)), AggregateType.Count)
        case 1 => AggregateSpec(s"agg$i", types(rnd.nextInt(3)), AggregateType.Sum,
          Some(if (rnd.nextBoolean()) "value" else s"props.k${rnd.nextInt(2)}"))
        case _ => AggregateSpec(s"agg$i", types(rnd.nextInt(3)), AggregateType.DistinctCount,
          Some(if (rnd.nextBoolean()) "value" else s"props.k${rnd.nextInt(2)}"))
      }
    }
    val nRules = 1 + rnd.nextInt(4)
    val rules = (0 until nRules).map { i =>
      val a1 = aggs(rnd.nextInt(aggs.length)).name
      val cond = if (rnd.nextBoolean()) RuleCondition.Gt else RuleCondition.Lt
      val thr = rnd.nextInt(10).toDouble
      if (rnd.nextBoolean())
        RuleSpec(s"rule$i", RuleOperation.Value, a1, None, cond, thr)
      else
        RuleSpec(s"rule$i", RuleOperation.Divide, a1,
          Some(aggs(rnd.nextInt(aggs.length)).name), cond, thr,
          if (rnd.nextBoolean()) Some(rnd.nextInt(3).toDouble) else None)
    }
    val nFeat = 1 + rnd.nextInt(3)
    val feats = (0 until nFeat).map { i =>
      FeatureSpec(("f" * (i + 1)),
        (0 until 1 + rnd.nextInt(nRules)).map(j => rules(j % nRules).name).distinct)
    }
    EngineConfig(aggs, rules, feats)
  }

  private def randomEvents(rnd: scala.util.Random, n: Int): Seq[SpecEvent] =
    (0 until n).map { _ =>
      val id = rnd.nextInt(n / 2 + 1).toLong // repeated ids: equal sort keys keep input order
      SpecEvent(id,
        new java.sql.Timestamp(1700000000000L + rnd.nextInt(1000) * 1000L),
        Seq("a", "b", "c", "d")(rnd.nextInt(4)),
        // fractional values: a distinct count over `value` counts their
        // truncation to long (1.25 and 1.75 are one value)
        if (rnd.nextBoolean()) rnd.nextInt(20).toDouble else (rnd.nextInt(80) - 8) / 4.0,
        if (rnd.nextInt(10) == 0) null
        else Map("k0" -> rnd.nextInt(5).toString, "k1" -> rnd.nextInt(3).toString))
    }

  test("optimized fold ≡ naive specification over randomized inputs") {
    val rnd = new scala.util.Random(20260815L)
    (1 to 60).foreach { trial =>
      val cfg = randomConfig(rnd)
      val events = randomEvents(rnd, 1 + rnd.nextInt(120))
      // random prior state: replay a prefix through the naive fold
      val prefix = randomEvents(rnd, rnd.nextInt(40))
      val (st0, _) = naiveFold(cfg, 7L, naiveEmpty, prefix)
      val (wantSt, wantCh) = naiveFold(cfg, 7L, st0, events)
      val (gotSt, gotCh) =
        EventPipeline.foldEvents(cfg, 7L, toFlat(cfg, st0), flatInput(cfg, events))
      assert(byName(cfg, gotSt) == byName(cfg, wantSt), s"trial $trial: state diverged\ncfg=$cfg")
      assert(gotCh == wantCh, s"trial $trial: flip sequence diverged\ncfg=$cfg")
    }
  }
}
