package graft

import graft.config._
import org.scalatest.funsuite.AnyFunSuite

/** Config validation, mirroring the reference's build-time checks
  * (tests/test_aggregates.py:18-53 and models/rules.py:45-50). */
class ConfigSpec extends AnyFunSuite {
  import AggregateType._, RuleOperation._, RuleCondition._

  test("COUNT takes no field") {
    intercept[IllegalArgumentException] {
      AggregateSpec("c", "purchase", Count, Some("value"))
    }
  }

  test("SUM and DISTINCT_COUNT require a field") {
    intercept[IllegalArgumentException] { AggregateSpec("s", "purchase", Sum) }
    intercept[IllegalArgumentException] { AggregateSpec("d", "click", DistinctCount) }
  }

  test("DIVIDE requires aggregate2; VALUE forbids it") {
    intercept[IllegalArgumentException] {
      RuleSpec("r", Divide, "a", None, Lt, 1.0)
    }
    intercept[IllegalArgumentException] {
      RuleSpec("r", Value, "a", Some("b"), Lt, 1.0)
    }
  }

  test("denom_min only valid for DIVIDE") {
    intercept[IllegalArgumentException] {
      RuleSpec("r", Value, "a", None, Lt, 1.0, denomMin = Some(3.0))
    }
  }

  test("engine config rejects dangling rule/aggregate references") {
    val agg = AggregateSpec("a", "purchase", Count)
    val rule = RuleSpec("r", Value, "nope", None, Lt, 1.0)
    intercept[IllegalArgumentException] {
      EngineConfig(Seq(agg), Seq(rule), Seq(FeatureSpec("f", Seq("r"))))
    }
    intercept[IllegalArgumentException] {
      EngineConfig(Seq(agg), Seq(rule.copy(aggregate1 = "a")),
        Seq(FeatureSpec("f", Seq("missing"))))
    }
  }

  test("duplicate registrations are rejected like the reference registries") {
    val agg = AggregateSpec("a", "purchase", Count)
    val rule = RuleSpec("r", Value, "a", None, Lt, 1.0)
    // duplicate aggregate (event_registry.py EventAlreadyRegistered shape)
    intercept[IllegalArgumentException] {
      EngineConfig(Seq(agg, agg), Seq(rule), Seq(FeatureSpec("f", Seq("r"))))
    }
    // duplicate rule
    intercept[IllegalArgumentException] {
      EngineConfig(Seq(agg), Seq(rule, rule), Seq(FeatureSpec("f", Seq("r"))))
    }
    // duplicate feature (feature_registry.py "already exists")
    intercept[IllegalArgumentException] {
      EngineConfig(Seq(agg), Seq(rule),
        Seq(FeatureSpec("f", Seq("r")), FeatureSpec("f", Seq("r"))))
    }
  }

  test("feature names must be lowercase alphabetic") {
    intercept[IllegalArgumentException] { FeatureSpec("Bad1", Seq("r")) }
  }

  test("default config is valid and binds to the events schema") {
    assert(DefaultConfig.config.aggregates.size == 5)
    assert(DefaultConfig.config.features.map(_.name) == Seq("purchase", "message"))
  }
}
