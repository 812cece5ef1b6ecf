package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("p90 needs at least ten samples beyond its rank") {
    val hundred = (1 to 100).map(_.toDouble)
    // rank 90 leaves samples 91..100 above it: exactly ten
    assert(Stats.percentile(hundred, 0.9).contains(90.0))
    // 99 samples: rank ceil(89.1) = 90 leaves nine above, too few
    assert(Stats.percentile(hundred.take(99), 0.9).isEmpty)
    assert(Stats.percentile(Nil, 0.5).isEmpty)
  }

  test("percentile is order-independent and nearest-rank") {
    val xs = scala.util.Random.shuffle((1 to 120).map(_.toDouble))
    assert(Stats.percentile(xs, 0.9).contains(108.0))
    assert(Stats.percentile(xs, 0.5).contains(60.0))
  }

  test("interval union counts overlaps once and clips to the window") {
    // jobs [0,10) and [5,15) overlap; [20,30) is separate; [40,50) is outside
    val jobs = Seq((5L, 15L), (0L, 10L), (20L, 30L), (40L, 50L))
    assert(Stats.unionLength(jobs, 0L, 35L) == 25L)
    // the op window cuts the first job short and drops the last
    assert(Stats.unionLength(jobs, 8L, 25L) == 12L)
    // nested and touching intervals
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L), (10L, 12L)), 0L, 100L) == 12L)
    assert(Stats.unionLength(Nil, 0L, 10L) == 0L)
  }

  test("an op's wall splits into job-active and driver-only time") {
    // ms: jobs 0 and 1 overlap (two pipeline entities loading at once), job 2
    // runs past the op's end; the op owns [1000, 2000)
    val jobs = Seq(
      JobRec(0, 1100, 1500, "first at Watermark.scala:28", Nil),
      JobRec(1, 1400, 1600, "insertInto at Loader.scala:71", Nil),
      JobRec(2, 1900, 2300, "insertInto at Loader.scala:71", Nil))
    val l = OpLayers.of(Delivered(jobs, Nil, Nil, 0, 0L, 0L), 1000L, 2000L, 0)
    assert(l.wallS == 1.0)
    assert(math.abs(l.jobActiveS - 0.6) < 1e-9)
    assert(math.abs(l.driverOnlyS - 0.4) < 1e-9)
    assert(math.abs(l.watermarkS - 0.4) < 1e-9)
    assert(math.abs(l.loadS - 0.3) < 1e-9)
    assert(l.jobs == 3)
  }

  test("self time subtracts the union of direct children only") {
    val spans = Seq(
      Span(1, 0, "op", "q", 0, 100),
      Span(2, 1, "build", "q", 0, 20),
      Span(3, 1, "action", "q", 20, 100),
      Span(4, 3, "job", "0", 30, 70),
      Span(5, 3, "job", "1", 60, 90),  // overlaps job 0
      Span(6, 4, "stage", "0", 30, 60))
    val self = Stats.selfTimeUs(spans)
    assert(self(1) == 0L)   // build + action cover the whole op
    assert(self(2) == 20L)  // no children
    assert(self(3) == 20L)  // 80 minus the job union [30,90)
    assert(self(4) == 10L)  // grandchildren do not count against the op
    assert(self(6) == 30L)
  }
}
