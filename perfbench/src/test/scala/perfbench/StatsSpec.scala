package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile picks an observed sample, never interpolates") {
    val xs = Seq(15.0, 20.0, 35.0, 40.0, 50.0)
    assert(Stats.nearestRank(xs, 5) == 15.0)
    assert(Stats.nearestRank(xs, 30) == 20.0)
    assert(Stats.nearestRank(xs, 40) == 20.0)
    assert(Stats.nearestRank(xs, 50) == 35.0)
    assert(Stats.nearestRank(xs, 100) == 50.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 4.0)) == 2.0)
    assert(Stats.nearestRank(Nil, 50).isNaN)
    assertThrows[IllegalArgumentException](Stats.nearestRank(xs, 0))
  }

  test("tail percentile is the highest with at least ten samples beyond it") {
    // 366 samples: p97 leaves 366 - ceil(355.02) = 10 beyond, p98 only 7
    assert(Stats.tailPercentile(366).contains(97))
    assert(Stats.tailPercentile(1000).contains(99))
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(20).contains(50))
    assert(Stats.tailPercentile(10).isEmpty)
    for (n <- 11 to 2000; p <- Stats.tailPercentile(n)) {
      assert(n - math.ceil(p / 100.0 * n).toInt >= 10)
      assert(p == 99 || n - math.ceil((p + 1) / 100.0 * n).toInt < 10)
    }
  }

  test("windowed p99 is the median of the slices' p99s, so one stalled slice does not carry it") {
    // five one-second slices of 100 samples each; the third slice stalled
    val samples = for (w <- 0 until 5; i <- 0 until 100)
      yield (w * 1000000L + i * 10000L, if (w == 2) 1e6 else w * 1000.0 + i)
    assert(Stats.nearestRank(samples.map(_._2), 99) == 1e6)
    // per-slice p99s: 98, 1098, 1e6, 3098, 4098 -> median 3098
    assert(Stats.windowedP99(samples, 0L, 5000000L, 5) == 3098.0)
    // an empty slice is skipped, not counted as zero
    assert(Stats.windowedP99(samples.filter(_._1 < 2000000L), 0L, 5000000L, 5) == 98.0)
  }

  test("open-loop latency counts from the due time; lateness is never negative") {
    assert(Stats.dueLatencyMs(dueUs = 1000000L, doneUs = 1250000L) == 250.0)
    // an event sent late still counts the wait from when it was due
    assert(Stats.dueLatencyMs(dueUs = 1000000L, doneUs = 1000500L) == 0.5)
    assert(Stats.lateMs(dueUs = 2000L, sentUs = 5000L) == 3.0)
    assert(Stats.lateMs(dueUs = 5000L, sentUs = 2000L) == 0.0)
  }
}
