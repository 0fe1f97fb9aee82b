package graft

import graft.config._
import graft.operators.RuleEval
import graft.streaming.EventPipeline
import graft.streaming.EventPipeline.{GrantChange, TypedEventRow, UserAggState}
import org.scalatest.funsuite.AnyFunSuite

/** Randomized parity guard for the optimized per-user fold: the
  * compiled-plan/mutable-accumulator [[EventPipeline.foldEvents]] must
  * be EXTENSIONALLY IDENTICAL to the naive specification below (the
  * pre-round-15 implementation: immutable maps, name lookups, a fresh
  * grants Map per event) on every input — same final state, same flip
  * sequence — across randomized configs, event streams, repeated ids
  * and prior states. Dedup is the pipeline's job, not the fold's
  * (StreamingParitySpec pins it). The hot loop gets rewritten for speed;
  * this spec is what keeps "for speed" from quietly becoming "and
  * slightly different".
  */
class FoldParitySpec extends AnyFunSuite {

  // ---- the naive reference fold (spec copy, kept deliberately dumb) ----

  private def fieldValue(e: TypedEventRow, field: String): Option[String] =
    if (field.startsWith("props."))
      Option(e.props).flatMap(_.get(field.stripPrefix("props.")))
    else if (field == "value") Some(e.value.toString)
    else None

  private def applyEvent(cfg: EngineConfig, st: UserAggState, e: TypedEventRow): UserAggState = {
    var counts = st.counts
    var sums = st.sums
    var distincts = st.distincts
    cfg.aggregates.filter(_.eventType == e.event_type).foreach { a =>
      a.aggType match {
        case AggregateType.Count =>
          counts = counts.updated(a.name, counts.getOrElse(a.name, 0L) + 1L)
        case AggregateType.Sum =>
          fieldValue(e, a.field.get).foreach { v =>
            sums = sums.updated(a.name, sums.getOrElse(a.name, 0.0) + v.toDouble)
          }
        case AggregateType.DistinctCount =>
          fieldValue(e, a.field.get).foreach { v =>
            val set = distincts.getOrElse(a.name, Map.empty[String, Boolean])
            distincts = distincts.updated(a.name, set.updated(v, true))
          }
      }
    }
    UserAggState(counts, sums, distincts, st.grants)
  }

  private def aggValue(st: UserAggState)(name: String): Double =
    st.counts.get(name).map(_.toDouble)
      .orElse(st.sums.get(name))
      .orElse(st.distincts.get(name).map(_.size.toDouble))
      .getOrElse(0.0)

  private def naiveFold(cfg: EngineConfig, userId: Long, st0: UserAggState,
                        events: Seq[TypedEventRow]): (UserAggState, Seq[GrantChange]) = {
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

  private def randomEvents(rnd: scala.util.Random, n: Int): Seq[TypedEventRow] =
    (0 until n).map { _ =>
      val id = rnd.nextInt(n / 2 + 1).toLong // repeated ids: equal sort keys keep input order
      TypedEventRow(id,
        new java.sql.Timestamp(1700000000000L + rnd.nextInt(1000) * 1000L),
        1L, Seq("a", "b", "c", "d")(rnd.nextInt(4)),
        rnd.nextInt(20).toDouble,
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
      val (st0, _) = naiveFold(cfg, 7L, EventPipeline.emptyState, prefix)
      val (wantSt, wantCh) = naiveFold(cfg, 7L, st0, events)
      val (gotSt, gotCh) = EventPipeline.foldEvents(cfg, 7L, st0, events.iterator)
      assert(gotSt == wantSt, s"trial $trial: state diverged\ncfg=$cfg")
      assert(gotCh == wantCh, s"trial $trial: flip sequence diverged\ncfg=$cfg")
    }
  }
}
