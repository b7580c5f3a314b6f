package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
  }

  test("a tail percentile needs at least ten samples beyond it") {
    assert(Stats.reportableTail(0).isEmpty)
    assert(Stats.reportableTail(99).isEmpty)
    assert(Stats.reportableTail(100).contains(90.0))
    assert(Stats.reportableTail(999).contains(90.0))
    assert(Stats.reportableTail(1000).contains(99.0))
    assert(Stats.reportableTail(10000).contains(99.9))
  }

  test("interval union counts overlaps once") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L))) == 10L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L))) == 20L)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L), (10L, 12L))) == 12L)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0L)
  }

  test("clipping to a span and the driver gap") {
    val jobs = Seq((-5L, 3L), (4L, 6L), (8L, 20L))
    assert(Stats.clip(jobs, 0L, 10L) == Seq((0L, 3L), (4L, 6L), (8L, 10L)))
    assert(Stats.gap(0L, 10L, jobs) == 3L)
    assert(Stats.gap(0L, 10L, Nil) == 10L)
    // job wall plus gap is the span's wall time
    assert(Stats.unionLength(Stats.clip(jobs, 0L, 10L)) +
      Stats.gap(0L, 10L, jobs) == 10L)
  }

  test("jobs that leave their span are counted, not clipped away") {
    val s = new Span(0, "op", "op", "m", None, startMs = 100L)
    s.endMs = 200L
    s.jobs += ((100L, 150L, "m"))
    s.jobs += ((150L, 200L, "m"))
    assert(s.leakedJobs == 0)
    assert(s.jobWallMs + s.gapMs == s.wallMs)
    s.jobs += ((90L, 120L, "m"))
    s.jobs += ((190L, 210L, "m"))
    assert(s.leakedJobs == 2)
    // the clipped job wall alone would not show them
    assert(s.jobWallMs == 100L)
  }
}
