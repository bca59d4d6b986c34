package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite
import Stats.Span

class StatsSpec extends AnyFunSuite {

  test("quantiles interpolate between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.quantile(xs, 0.0) == 1.0 && Stats.quantile(xs, 1.0) == 4.0)
    assert(Stats.quantile(Seq(7.0), 0.9) == 7.0)
  }

  test("tail percentile: the highest with at least ten samples beyond it, else none") {
    assert(Stats.tailPermille(99).isEmpty)
    assert(Stats.tailPermille(100).contains(900))  // 10 samples beyond p90
    assert(Stats.tailPermille(199).contains(900))  // p95 leaves only 9
    assert(Stats.tailPermille(200).contains(950))
    assert(Stats.tailPermille(999).contains(950))  // p99 leaves only 9
    assert(Stats.tailPermille(1000).contains(990))
    assert(Stats.tailPermille(10000).contains(999))
    assert(Stats.samplesBeyond(100, 900) == 10 && Stats.samplesBeyond(101, 900) == 10)
  }

  test("union of overlapping job intervals counts shared time once") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 100L), (40L, 50L))) == 100L)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20L) // touching
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0L)     // empty, inverted
  }

  test("time outside jobs is the op's wall minus the union of its job intervals") {
    // op [0, 100); jobs overlap each other and one sticks out past the op
    val jobs = Seq((10L, 40L), (30L, 50L), (90L, 130L))
    assert(Stats.uncovered(0L, 100L, jobs) == 100L - (40L + 10L))
    assert(Stats.uncovered(0L, 100L, Nil) == 100L)
  }

  test("self time subtracts overlapping child spans once") {
    val op = Span(1, 0, 1, "op", "driver", 0, 100)
    val kids = Seq(
      Span(2, 1, 1, "job a", "scheduler", 10, 60),
      Span(3, 1, 1, "job b", "scheduler", 40, 80), // overlaps a
      Span(4, 1, 1, "job c", "scheduler", 95, 120)) // runs past the op
    assert(Stats.selfTime(op, kids) == 100 - (70 + 5))
    val stage = Span(5, 2, 1, "stage", "executor", 20, 30)
    val byLayer = Stats.selfTimeByLayer(op +: kids :+ stage)
    assert(byLayer("driver") == 25)
    assert(byLayer("scheduler") == (50 - 10) + 40 + 25)
    assert(byLayer("executor") == 10)
  }
}
