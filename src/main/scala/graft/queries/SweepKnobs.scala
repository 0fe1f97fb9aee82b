package graft.queries

/** Gate for sweep-only env knobs (`GRAFT_PMI_OFFSET_FP`,
  * `GRAFT_TRI_SAMPLE_MOD`): non-default values alter query OUTPUT
  * (identically on the engine and the DuckDB oracle, so no hash gate
  * can catch a stray one), and a loud stderr warning scrolls away
  * (VERDICT r15 §wrong 2). A non-default knob is therefore only
  * honored when the process was EXPLICITLY started in sweep mode
  * (`GRAFT_SWEEP_MODE=1`, set only by the 10× sweep harness —
  * BENCHNOTES "10× sweep protocol"); any other session throws at
  * first touch, so a stray env var becomes a hard failure instead of
  * silently shifted production output. `SPARK_GRAFT_PLANFULL` keeps
  * the output but drops a checkpoint from what a timed run computes,
  * so it goes through the same gate.
  *
  * The env reader is a parameter so the decision table is unit-testable
  * without mutating process env (SweepKnobsSpec).
  */
private[graft] object SweepKnobs {

  val ModeVar = "GRAFT_SWEEP_MODE"

  def sweepMode(env: String => Option[String] = sys.env.get): Boolean =
    env(ModeVar).contains("1")

  /** Pass `parsed` through (warning loudly) when it is default (None)
    * or the session is in sweep mode; throw otherwise. */
  def gate[T](name: String, parsed: Option[T],
              effect: String,
              env: String => Option[String] = sys.env.get): Option[T] = {
    parsed.foreach { v =>
      if (!sweepMode(env)) throw new IllegalStateException(
        s"sweep knob $name=$v is set but $ModeVar=1 is not: refusing to " +
          s"start — $effect. Unset $name, or export $ModeVar=1 if this " +
          "really is a sweep-harness session.")
      System.err.println(
        s"[graft] WARNING sweep knob $name=$v active: $effect")
    }
    parsed
  }
}
