package graft

import graft.queries.SweepKnobs
import org.scalatest.funsuite.AnyFunSuite

/** The sweep-knob gate (VERDICT r15 #5): a non-default sweep knob
  * (`GRAFT_PMI_OFFSET_FP`, `GRAFT_TRI_SAMPLE_MOD`) alters query output
  * identically on engine and oracle, so no hash gate can catch a stray
  * one — a production session must REJECT it, not warn-and-proceed.
  * The decision table is tested through SweepKnobs' injectable env
  * reader (process env is immutable from the JVM).
  */
class SweepKnobsSpec extends AnyFunSuite {

  private def env(pairs: (String, String)*): String => Option[String] =
    pairs.toMap.get _

  test("a production session rejects a stray non-default knob") {
    val e = intercept[IllegalStateException] {
      SweepKnobs.gate("GRAFT_PMI_OFFSET_FP", Some(3483294L),
        "pmi cut shifted", env(/* no GRAFT_SWEEP_MODE */))
    }
    assert(e.getMessage.contains("GRAFT_PMI_OFFSET_FP"))
    assert(e.getMessage.contains("GRAFT_SWEEP_MODE"))
  }

  test("SPARK_GRAFT_PLANFULL is read through the same gate") {
    val e = intercept[IllegalStateException] {
      queries.EmbeddingQueries.planFull(env("SPARK_GRAFT_PLANFULL" -> "1"))
    }
    assert(e.getMessage.contains("SPARK_GRAFT_PLANFULL"))
    assert(queries.EmbeddingQueries.planFull(
      env("SPARK_GRAFT_PLANFULL" -> "1", SweepKnobs.ModeVar -> "1")))
    assert(!queries.EmbeddingQueries.planFull(env()))
  }

  test("GRAFT_SWEEP_MODE must be exactly '1' — not merely set") {
    intercept[IllegalStateException] {
      SweepKnobs.gate("GRAFT_TRI_SAMPLE_MOD", Some(5L), "sampled graph",
        env(SweepKnobs.ModeVar -> "true"))
    }
    intercept[IllegalStateException] {
      SweepKnobs.gate("GRAFT_TRI_SAMPLE_MOD", Some(5L), "sampled graph",
        env(SweepKnobs.ModeVar -> "0"))
    }
  }

  test("a sweep-mode session honors the knob (and returns it)") {
    assert(SweepKnobs.gate("GRAFT_PMI_OFFSET_FP", Some(3483294L),
      "pmi cut shifted", env(SweepKnobs.ModeVar -> "1"))
      .contains(3483294L))
  }

  test("a default (unset) knob is fine in any session") {
    assert(SweepKnobs.gate("GRAFT_PMI_OFFSET_FP", Option.empty[Long],
      "pmi cut shifted", env()).isEmpty)
    assert(SweepKnobs.gate("GRAFT_PMI_OFFSET_FP", Option.empty[Long],
      "pmi cut shifted", env(SweepKnobs.ModeVar -> "1")).isEmpty)
  }

  test("production registry modules initialize with no knobs set") {
    // LmQueries/TextQueries read the real process env at object init;
    // this suite must run in a knob-free environment (the production
    // default), so touching them must not throw.
    assert(sys.env.get("GRAFT_PMI_OFFSET_FP").isEmpty &&
      sys.env.get("GRAFT_TRI_SAMPLE_MOD").isEmpty &&
      sys.env.get("SPARK_GRAFT_PLANFULL").isEmpty,
      "test JVM must not carry sweep knobs")
    assert(queries.LmQueries.all.nonEmpty)
    assert(queries.TextQueries.all.nonEmpty)
    assert(queries.EmbeddingQueries.all.nonEmpty)
  }
}
