package graft.operators

import graft.config._

/** Scala-side rule evaluation for the incremental streaming state path
  * (flatMapGroupsWithState keeps per-user aggregates as plain values, so
  * rules are evaluated on the JVM rather than compiled to Columns).
  *
  * MUST stay semantically identical to the Column compiler in `Grants`:
  * null value ⇒ abides, divide-by-zero ⇒ null ⇒ abides, denom_min
  * override, missing aggregate ⇒ 0. Batch/stream parity is asserted by
  * StreamingParitySpec — the reference's core quality invariant
  * (SURVEY.md §7.5 #5).
  */
object RuleEval {

  /** Mirror of Grants.ruleAbides, given the values of the rule's
    * aggregates (`agg2` is read only by DIVIDE rules). */
  def abides(r: RuleSpec, agg1: Double, agg2: Double): Boolean = {
    val base = r.op match {
      case RuleOperation.Value => cond(r, agg1)
      // x/0 is NULL, and a NULL value abides
      case RuleOperation.Divide => agg2 == 0.0 || cond(r, agg1 / agg2)
    }
    r.denomMin match {
      case Some(dm) if agg2 < dm => true
      case _ => base
    }
  }

  private def cond(r: RuleSpec, v: Double): Boolean = r.condition match {
    case RuleCondition.Gt => v > r.threshold
    case RuleCondition.Lt => v < r.threshold
  }

  /** [[abides]] with the aggregates read by name. */
  def abides(r: RuleSpec, agg: String => Double): Boolean =
    abides(r, agg(r.aggregate1), r.aggregate2.fold(0.0)(agg))

  /** Mirror of Grants.featureGranted for every feature. */
  def grants(cfg: EngineConfig, agg: String => Double): Map[String, Boolean] =
    cfg.features.map { f =>
      f.name -> f.rules.forall(rn => abides(cfg.rule(rn), agg))
    }.toMap

  /** A rule with its aggregates resolved to slots (`agg2` is -1 for a
    * VALUE rule). */
  final case class SlotRule(spec: RuleSpec, agg1: Int, agg2: Int) {
    def abides(values: Array[Double]): Boolean =
      RuleEval.abides(spec, values(agg1), if (agg2 < 0) 0.0 else values(agg2))
  }

  /** Pre-resolved evaluation plan for a config — the streaming fold
    * runs per EVENT, so everything name-shaped is resolved to slots
    * here and the fold never looks a name up. Aggregate slot `i` is
    * `cfg.aggregates(i)`; [[kindSlot]] places it among the aggregates
    * of its type, which index the grant fold's count, sum and distinct
    * arrays. Feature slot `j` is `cfg.features(j)`. Cached per config
    * (configs are tiny case classes; a session holds a handful). */
  final class Compiled private[RuleEval] (cfg: EngineConfig) {
    val aggTypes: Array[AggregateType] = cfg.aggregates.map(_.aggType).toArray
    val kindSlot: Array[Int] = {
      val seen = scala.collection.mutable.Map.empty[AggregateType, Int]
      aggTypes.map { t => val k = seen.getOrElse(t, 0); seen(t) = k + 1; k }
    }
    private def countOf(t: AggregateType) = aggTypes.count(_ == t)
    val counts: Int = countOf(AggregateType.Count)
    val sums: Int = countOf(AggregateType.Sum)
    val distincts: Int = countOf(AggregateType.DistinctCount)
    private val slotOf: Map[String, Int] = cfg.aggregates.map(_.name).zipWithIndex.toMap
    val featureNames: Array[String] = cfg.features.map(_.name).toArray
    /** A fingerprint of the slot layout: each aggregate's name, type,
      * event type and field in slot order, then the feature names. A
      * state laid out under one config is read under another only when
      * their layouts agree (rules may change: grants are re-evaluated). */
    val layout: Int = scala.util.hashing.MurmurHash3.stringHash(
      (cfg.aggregates.map(a => s"${a.name}:${a.aggType}:${a.eventType}:${a.field.getOrElse("")}") ++
        cfg.features.map(f => s"feature:${f.name}")).mkString("\n"))
    val featureRules: Array[Array[SlotRule]] =
      cfg.features.map(_.rules.map { rn =>
        val r = cfg.rule(rn)
        SlotRule(r, slotOf(r.aggregate1), r.aggregate2.fold(-1)(slotOf))
      }.toArray).toArray
  }

  private val compiledCache =
    scala.collection.concurrent.TrieMap.empty[EngineConfig, Compiled]

  def compiled(cfg: EngineConfig): Compiled =
    compiledCache.getOrElseUpdate(cfg, new Compiled(cfg))
}
