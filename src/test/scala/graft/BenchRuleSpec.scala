package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's per-row timing rule ([[Bench.timeRow]]) driven by scripted
  * run sequences: which warm runs are retried, when retrying stops, and
  * that the reported value is the min over cold and every warm run. */
class BenchRuleSpec extends AnyFunSuite {

  /** Replays `walls` in order; `failAt` marks 0-based runs that fail.
    * Returns (cold, best, runs consumed). */
  private def drive(walls: Seq[Double],
                    failAt: Set[Int] = Set.empty): (Double, Double, Int) = {
    var i = 0
    var failed = false
    val (cold, best) = Bench.timeRow(
      () => {
        assert(i < walls.size, s"rule asked for run ${i + 1} of a ${walls.size}-run script")
        if (failAt(i)) failed = true
        i += 1
        walls(i - 1)
      },
      () => failed)
    (cold, best, i)
  }

  test("a warm run within 1.2x cold and under 2 s is not retried") {
    assert(drive(Seq(1.0, 1.2)) == ((1.0, 1.0, 2)))
    assert(drive(Seq(1.9, 1.95)) == ((1.9, 1.9, 2)))
    assert(drive(Seq(3.0, 0.4)) == ((3.0, 0.4, 2)))
  }

  test("a warm run over 2 s or over 1.2x cold is retried") {
    // over 1.2x cold, retry improves to under the rule: stops there
    assert(drive(Seq(0.5, 0.61, 0.3)) == ((0.5, 0.3, 3)))
    // over 2 s although under cold
    assert(drive(Seq(3.0, 2.5, 1.0)) == ((3.0, 1.0, 3)))
  }

  test("retrying stops after one non-improving run") {
    // 0.7 is not under 0.75 x 0.8, so no second retry follows
    assert(drive(Seq(0.5, 0.8, 0.7)) == ((0.5, 0.5, 3)))
    // a slow row (sf1-like) pays one extra run when it does not improve
    assert(drive(Seq(5.0, 4.0, 3.9)) == ((5.0, 3.9, 3)))
  }

  test("retrying stops after two retries at most") {
    // every retry improves by more than 25% yet stays over 2 s
    assert(drive(Seq(20.0, 16.0, 8.0, 4.0)) == ((20.0, 4.0, 4)))
  }

  test("a failed run stops retrying") {
    // cold fails: no warm run at all
    assert(drive(Seq(0.2), failAt = Set(0)) == ((0.2, 0.2, 1)))
    // warm fails while looking slow: no retry
    assert(drive(Seq(0.5, 3.0), failAt = Set(1)) == ((0.5, 0.5, 2)))
    // first retry fails: no second retry although it improved
    assert(drive(Seq(9.0, 8.0, 1.0), failAt = Set(2)) == ((9.0, 1.0, 3)))
  }

  test("the result is the min over cold and every warm run") {
    // cold is the minimum (state priming paid elsewhere)
    assert(drive(Seq(0.4, 0.6, 0.9)) == ((0.4, 0.4, 3)))
    // the second retry is the minimum
    assert(drive(Seq(10.0, 8.0, 5.0, 2.5)) == ((10.0, 2.5, 4)))
  }
}
