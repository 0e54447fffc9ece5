package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("job-interval union counts nested and overlapping jobs once") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L))) == 10L)
    // nested: [2, 5) lies inside [0, 10)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 5L))) == 10L)
    // overlapping chain and a disjoint job
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L), (5L, 15L), (14L, 16L))) == 26L)
    // touching intervals merge, empty and inverted ones count nothing
    assert(Stats.unionLength(Seq((0L, 5L), (5L, 8L), (9L, 9L), (12L, 11L))) == 8L)
  }

  test("driver-only time is wall minus the union, with jobs clipped to the op") {
    // op [100, 200); jobs [90, 120) clipped to [100, 120), [110, 130) nested-overlapping,
    // [150, 160), and [190, 250) clipped to [190, 200): union 30 + 10 + 10 = 50
    val jobs = Seq((90L, 120L), (110L, 130L), (150L, 160L), (190L, 250L))
    assert(Stats.driverOnly(100L, 200L, jobs) == 50L)
    assert(Stats.driverOnly(0L, 40L, Nil) == 40L)
    assert(Stats.driverOnly(0L, 40L, Seq((0L, 40L), (10L, 20L))) == 0L)
  }

  test("geomean") {
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-12)
    assert(math.abs(Stats.geomean(Seq(2.0, 8.0, 4.0)) - 4.0) < 1e-12)
    assert(Stats.geomean(Seq(3.5)) == 3.5)
    assertThrows[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0)))
    assertThrows[IllegalArgumentException](Stats.geomean(Nil))
  }

  test("slot best takes each op's least time over passes, repeated names apart") {
    // pass 0 ran in a burst of load; "read" occurs twice per pass
    val samples = Seq(
      (0, "read", 9.0), (0, "commit", 9.0), (0, "read", 90.0),
      (1, "read", 1.0), (1, "commit", 2.0), (1, "read", 20.0),
      (2, "read", 1.5), (2, "commit", 3.0), (2, "read", 10.0))
    assert(Stats.slotBest(samples) == Seq(2.0, 1.0, 10.0))
    assert(Stats.slotBest(Seq((0, "a", 2.0))) == Seq(2.0))
  }

  test("quantiles interpolate linearly") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.9) == 9.0)
    assert(Stats.quantile((1 to 101).map(_.toDouble), 0.9) == 91.0)
  }

  test("p90 is trusted only with at least ten samples beyond it") {
    val big = Stats.tail((1 to 101).map(_.toDouble), 0.9)
    assert(big.value == 91.0 && big.beyond == 10 && big.reliable)
    val small = Stats.tail((1 to 50).map(_.toDouble), 0.9)
    assert(small.beyond == 5)
    assert(!small.reliable)
    val ties = Stats.tail(Seq.fill(200)(1.0), 0.9)
    assert(ties.beyond == 0 && !ties.reliable)
  }
}
