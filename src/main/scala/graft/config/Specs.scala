package graft.config

/** Declarative aggregate / rule / feature configuration — the engine's
  * "query language", mirroring the reference's config surface
  * (reference config.py:10-87) as a Scala ADT. The compilers in
  * `graft.operators` turn these specs into Catalyst expressions, so one
  * config drives both the batch and the streaming execution path.
  *
  * Validation mirrors the reference's build-time checks:
  *  - COUNT takes no field; DISTINCT_COUNT/SUM require one
  *    (reference models/aggregate.py:29-38)
  *  - DIVIDE requires a second aggregate; VALUE forbids one
  *    (reference models/rules.py:45-50)
  *  - feature names are lowercase alphabetic (reference models/rules.py:106-109)
  */
sealed trait AggregateType
object AggregateType {
  case object Count extends AggregateType
  case object DistinctCount extends AggregateType
  case object Sum extends AggregateType
}

/** One keyed incremental aggregate over the event stream
  * (reference models/aggregate.py:41-83). `field` addresses either a
  * top-level event column (`"value"`) or a JSON property
  * (`"props.k"`).
  */
final case class AggregateSpec(
    name: String,
    eventType: String,
    aggType: AggregateType,
    field: Option[String] = None) {
  import AggregateType._
  aggType match {
    case Count =>
      require(field.isEmpty, s"aggregate $name: COUNT takes no field")
    case DistinctCount | Sum =>
      require(field.nonEmpty, s"aggregate $name: $aggType requires a field")
  }
}

sealed trait RuleOperation
object RuleOperation {
  case object Value extends RuleOperation
  case object Divide extends RuleOperation
}

sealed trait RuleCondition
object RuleCondition {
  case object Gt extends RuleCondition
  case object Lt extends RuleCondition
}

/** A boolean rule over one or two aggregates
  * (reference models/rules.py:25-75). Semantics divergences from the
  * reference, both intentional (SURVEY.md §7.5):
  *  - DIVIDE by zero yields NULL (rule abides) instead of the
  *    reference's dead-code-then-crash (rules.py:56-62).
  *  - A NULL rule value (no events yet) abides, matching the
  *    reference's default-grant behavior (rules.py:112).
  */
final case class RuleSpec(
    name: String,
    op: RuleOperation,
    aggregate1: String,
    aggregate2: Option[String] = None,
    condition: RuleCondition,
    threshold: Double,
    denomMin: Option[Double] = None) {
  import RuleOperation._
  op match {
    case Divide => require(aggregate2.nonEmpty, s"rule $name: DIVIDE requires aggregate2")
    case Value  => require(aggregate2.isEmpty, s"rule $name: VALUE forbids aggregate2")
  }
  require(denomMin.isEmpty || op == Divide, s"rule $name: denom_min only valid for DIVIDE")
}

/** A platform feature granted iff ALL its rules abide
  * (reference event_processer.py:50-63, models/rules.py:103-121). */
final case class FeatureSpec(name: String, rules: Seq[String]) {
  require(name.matches("[a-z]+"), s"feature name must be [a-z]+: $name")
  require(rules.nonEmpty, s"feature $name: needs at least one rule")
}

final case class EngineConfig(
    aggregates: Seq[AggregateSpec],
    rules: Seq[RuleSpec],
    features: Seq[FeatureSpec]) {
  // duplicate registrations are rejected like the reference's
  // registries (feature_registry.py:14-15 "already exists",
  // event_registry.py:30-32 EventAlreadyRegistered)
  private def noDups(kind: String, names: Seq[String]): Unit = {
    val dups = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate $kind: ${dups.mkString(", ")}")
  }
  noDups("aggregate", aggregates.map(_.name))
  noDups("rule", rules.map(_.name))
  noDups("feature", features.map(_.name))
  private val aggNames = aggregates.map(_.name).toSet
  private val ruleNames = rules.map(_.name).toSet
  rules.foreach { r =>
    require(aggNames(r.aggregate1), s"rule ${r.name}: unknown aggregate ${r.aggregate1}")
    r.aggregate2.foreach(a => require(aggNames(a), s"rule ${r.name}: unknown aggregate $a"))
  }
  features.foreach { f =>
    f.rules.foreach(r => require(ruleNames(r), s"feature ${f.name}: unknown rule $r"))
  }
  def rule(name: String): RuleSpec = rules.find(_.name == name).get
}

/** Default config bound to the driver's `events` table
  * (event_type ∈ click/view/signup/purchase/error, props JSON `{"k":int}`),
  * shaped after the reference's default config (config.py:10-87):
  * the same aggregate types, a VALUE rule, and two DIVIDE rules — one
  * with the small-sample `denom_min` guard (config.py:60).
  */
object DefaultConfig {
  import AggregateType._, RuleOperation._, RuleCondition._

  val config: EngineConfig = EngineConfig(
    aggregates = Seq(
      AggregateSpec("total_signups", "signup", Count),
      AggregateSpec("distinct_click_keys", "click", DistinctCount, Some("props.k")),
      AggregateSpec("total_purchase_amount", "purchase", Sum, Some("value")),
      AggregateSpec("total_error_amount", "error", Sum, Some("value")),
      AggregateSpec("total_errors", "error", Count)
    ),
    rules = Seq(
      RuleSpec("few_errors", Value, "total_errors", None, Lt, 15.0),
      RuleSpec("error_ratio_low", Divide, "total_error_amount",
        Some("total_purchase_amount"), Lt, 1.0, denomMin = Some(500.0)),
      RuleSpec("click_key_spread", Divide, "distinct_click_keys",
        Some("total_signups"), Lt, 2.5, denomMin = Some(3.0))
    ),
    features = Seq(
      FeatureSpec("purchase", Seq("error_ratio_low", "few_errors")),
      FeatureSpec("message", Seq("few_errors"))
    )
  )
}
