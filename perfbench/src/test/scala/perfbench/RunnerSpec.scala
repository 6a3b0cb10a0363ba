package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Workloads.RouteCounts

/** A wrong output must count as a failure and never as a timing. */
class RunnerSpec extends AnyFunSuite {

  private val actual = RouteCounts(Map(("@default", "site.a") -> 10L, ("k8s", "k8s.b") -> 5L),
    emitted = 16, matched = 16, unmatched = 1)

  test("passing iterations are timed; at least minIters run") {
    var n = 0
    val m = Runner.loop(0.0, minIters = 3, maxIters = 10)(_ => { n += 1; actual })(
      r => r.describeDiff(actual))(() => ())
    assert(n == 3 && m.attempted == 3 && m.failed == 0)
    assert(m.walls.size == 3 && m.passed == Vector(0, 1, 2))
  }

  test("a deliberately wrong expected count is a failure, not a timing") {
    val wrong = Workloads.corrupt(actual)
    assert(wrong.sinks(("@default", "site.a")) == 11L)
    val m = Runner.loop(0.0, minIters = 2, maxIters = 10)(_ => actual)(
      r => r.describeDiff(wrong))(() => ())
    assert(m.attempted == 2 && m.failed == 2 && m.walls.isEmpty)
    assert(Stats.failedRatio(m.failed, m.attempted) == 1.0)
    assert(m.errors.head.contains("(@default,site.a)=10 expected 11"))
  }

  test("a mismatched observation counter is a failure too") {
    assert(actual.copy(unmatched = 2).describeDiff(actual).isDefined)
    assert(actual.describeDiff(actual).isEmpty)
  }

  test("an iteration that throws is a failure; the loop stops after a failure streak") {
    var cleaned = 0
    val m = Runner.loop(10.0, minIters = 1, maxIters = 100, maxConsecutiveFailures = 3)(
      _ => throw new IllegalStateException("broken\nplan"))(_ => None)(() => cleaned += 1)
    assert(m.attempted == 3 && m.failed == 3 && m.walls.isEmpty)
    assert(m.errors.forall(e => e.startsWith("IllegalStateException: broken plan")))
    assert(cleaned == 3, "cleanup runs after every iteration")
  }

  test("failures count against the attempts that include passing ones") {
    val m = Runner.loop(0.0, minIters = 4, maxIters = 4)(i => i)(
      i => if (i == 1) Some("wrong") else None)(() => ())
    assert(m.attempted == 4 && m.failed == 1 && Stats.failedRatio(m.failed, m.attempted) == 0.25)
    assert(m.passed == Vector(0, 2, 3))
  }
}
