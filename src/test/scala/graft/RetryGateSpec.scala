package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench self-heal loop (VERDICT r18 #3): decision table for
  * [[RetryGate.run]], plus the two Bench phase shapes — the canary's
  * cold/warm pin split and the memo phase's MemoGate-verdict retry —
  * driven with SYNTHETIC degraded-first-attempt measurements (the VM
  * can't be made degraded on demand; the loop arithmetic can). */
class RetryGateSpec extends AnyFunSuite {

  private def canaryPred(sec: Double, attempt: Int): Boolean =
    sec > 2 * (if (attempt == 0) Bench.CanaryBaselineSec
               else Bench.WarmCanaryBaselineSec)

  test("degraded first attempt, quiet retry: healed, last attempt operative") {
    val readings = Iterator(58.6, 2.8) // the r18 judge-time window, then quiet
    val o = RetryGate.run(3)(_ => readings.next())(canaryPred)
    assert(o.attempts == Seq(58.6, 2.8))
    assert(!o.degraded && o.healed)
    assert(o.attempts.last == 2.8) // what Bench emits as canary_sec
  }

  test("healthy first attempt: exactly one attempt, no retry") {
    var calls = 0
    val o = RetryGate.run(3) { _ => calls += 1; 11.4 }(canaryPred)
    assert(calls == 1 && o.attempts == Seq(11.4))
    assert(!o.degraded && !o.healed)
  }

  test("stays degraded through the cap: all attempts recorded, degraded, not healed") {
    val readings = Iterator(58.6, 40.0, 39.0)
    val o = RetryGate.run(3)(_ => readings.next())(canaryPred)
    assert(o.attempts == Seq(58.6, 40.0, 39.0))
    assert(o.degraded && !o.healed)
  }

  test("cold/warm pin split: a retry is judged against the warm pin, not the cold one") {
    // 8 s would be comfortably healthy against the cold pin (2x12=24)
    // but is degraded against the warm pin (2x3.5=7): the retry must
    // not heal just by shedding first-touch JVM/codegen cost
    val readings = Iterator(30.0, 8.0, 8.0)
    val o = RetryGate.run(3)(_ => readings.next())(canaryPred)
    assert(o.attempts.size == 3 && o.degraded,
      "an 8 s warm canary must stay degraded under the warm pin")
    // and the same 8 s IS healthy as a cold first attempt
    val o2 = RetryGate.run(3)(_ => 8.0)(canaryPred)
    assert(o2.attempts == Seq(8.0) && !o2.degraded)
  }

  test("memo phase shape: degraded MemoGate verdict retries, quiet retry heals") {
    val pins = Map("m1" -> 1.0, "m2" -> 2.0)
    val slow = Seq(("m1", 4.0, true), ("m2", 8.0, true)) // 12 s vs 3 pinned
    val quiet = Seq(("m1", 1.1, true), ("m2", 1.9, true))
    val phases = Iterator(slow, quiet)
    var cleared = 0
    val o = RetryGate.run(3) { attempt =>
      if (attempt > 0) cleared += 1 // stands in for Memo.clearAll()
      val b = phases.next()
      (b, MemoGate.evaluate(b, pins))
    } { case ((_, v), _) => v.degraded }
    assert(o.attempts.size == 2 && cleared == 1)
    assert(!o.degraded && o.healed)
    val (lastBuilds, lastVerdict) = o.attempts.last
    assert(lastBuilds == quiet && !lastVerdict.degraded)
    // per-attempt phase totals, as emitted in memo_attempts_sec
    assert(o.attempts.map(_._2.actualSec) == Seq(12.0, 3.0))
  }

  test("maxAttempts must be positive") {
    intercept[IllegalArgumentException](RetryGate.run(0)(_ => 1.0)((_, _) => false))
  }
}
