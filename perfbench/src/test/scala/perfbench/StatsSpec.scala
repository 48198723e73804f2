package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assert(Stats.percentile(Seq(7.0), 0.9) == 7.0)
  }

  test("a p90 needs 100 samples to have ten beyond it") {
    assert(Stats.beyond(100, 0.9) == 10)
    assert(Stats.beyond(99, 0.9) == 9)
    assert(Stats.beyond(20, 0.5) == 10)
    val xs = (1 to 99).map(_.toDouble)
    assert(Stats.supportedPercentile(xs, 0.9).isEmpty)
    assert(Stats.supportedPercentile(xs :+ 100.0, 0.9).contains(90.0))
  }

  test("highest supported percentile in steps of five") {
    // 36 samples: p70 leaves 10 beyond it, p75 only 9
    val xs = (1 to 36).map(_.toDouble)
    assert(Stats.highestSupported(xs) == Some((0.7, 26.0)))
    assert(Stats.highestSupported((1 to 19).map(_.toDouble)).isEmpty)
    assert(Stats.highestSupported((1 to 200).map(_.toDouble)).map(_._1).contains(0.95))
  }

  test("union merges overlapping and touching intervals, drops empty ones") {
    assert(Stats.union(Seq((5L, 7L), (1L, 3L), (2L, 4L), (4L, 5L), (9L, 9L), (12L, 10L)))
      == Seq((1L, 7L)))
    assert(Stats.union(Seq((1L, 2L), (3L, 4L))) == Seq((1L, 2L), (3L, 4L)))
    assert(Stats.union(Nil).isEmpty)
  }

  test("covered time is clipped to the window") {
    assert(Stats.coveredWithin(Seq((0L, 10L), (20L, 30L)), 5L, 25L) == 10L)
    assert(Stats.coveredWithin(Seq((0L, 4L)), 5L, 25L) == 0L)
  }

  test("driver gap is the window time no stage covers") {
    // window 0..100; stages 10..30, 20..40 (overlapping), 60..70
    val stages = Seq((10L, 30L), (20L, 40L), (60L, 70L))
    assert(Stats.driverGap((0L, 100L), stages) == 100L - 30L - 10L)
    // a stage sticking out of the window only counts inside it
    assert(Stats.driverGap((0L, 100L), Seq((90L, 150L))) == 90L)
    assert(Stats.driverGap((0L, 100L), Nil) == 100L)
  }

  test("self time subtracts the children's covered part of the span") {
    assert(Stats.selfTime((0L, 50L), Seq((10L, 20L), (15L, 25L))) == 35L)
    assert(Stats.selfTime((0L, 50L), Seq((0L, 50L))) == 0L)
    assert(Stats.selfTime((0L, 50L), Seq((-10L, 60L))) == 0L)
    assert(Stats.selfTime((10L, 10L), Seq((0L, 5L))) == 0L)
  }
}
