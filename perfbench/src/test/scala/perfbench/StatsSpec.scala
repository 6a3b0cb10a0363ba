package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median: middle value, or mean of the two middle values") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("coverage counts overlapping intervals once and skips empty ones") {
    assert(Stats.coverage(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Stats.coverage(Seq((0L, 10L), (2L, 3L))) == 10L)
    assert(Stats.coverage(Seq((5L, 5L), (9L, 3L))) == 0L)
    assert(Stats.coverage(Nil) == 0L)
  }

  test("self time: duration minus child coverage, children clipped to the parent") {
    assert(Stats.selfTime(0L, 100L, Seq((10L, 30L), (20L, 40L))) == 70L)
    assert(Stats.selfTime(0L, 100L, Seq((-50L, 10L), (90L, 500L))) == 80L)
    assert(Stats.selfTime(0L, 100L, Nil) == 100L)
  }

  test("prefix subtraction: each prefix minus its base (default the previous)") {
    val self = Stats.prefixSelfTimes(Seq(
      ("scan", 1.0, None), ("route", 3.0, None), ("aggregate", 3.5, None))).toMap
    assert(self == Map("scan" -> 1.0, "route" -> 2.0, "aggregate" -> 0.5))
    val withBase = Stats.prefixSelfTimes(Seq(
      ("scan", 1.0, None), ("lsh", 4.0, None), ("lsh_ids", 3.0, Some("scan")),
      ("cc", 3.5, Some("lsh_ids")))).toMap
    assert(withBase("lsh") == 3.0 && withBase("lsh_ids") == 2.0 && withBase("cc") == 0.5)
  }

  test("failed ratio and skew") {
    assert(Stats.failedRatio(1, 4) == 0.25)
    assert(Stats.failedRatio(0, 0) == 0.0)
    assert(Stats.skew(Seq(1.0, 1.0, 4.0)) == 4.0)
    assert(Stats.skew(Nil) == 0.0)
  }
}
