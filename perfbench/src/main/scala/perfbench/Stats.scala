package perfbench

/** Order statistics used by every reported timing. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. `p` in (0, 100]. Empty input gives NaN. */
  def nearestRank(samples: Seq[Double], p: Double): Double = {
    require(p > 0 && p <= 100, s"percentile out of range: $p")
    if (samples.isEmpty) Double.NaN
    else {
      val sorted = samples.sorted
      val rank = math.ceil(p / 100.0 * sorted.size).toInt
      sorted(math.max(rank, 1) - 1)
    }
  }

  def median(samples: Seq[Double]): Double = nearestRank(samples, 50)

  /** The highest whole percentile that still leaves at least `beyond`
    * samples strictly above its nearest-rank value's position, i.e. the
    * largest p with n - ceil(p/100 * n) >= beyond. Fewer than `beyond + 1`
    * samples gives None: no percentile is backed by enough tail. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] =
    (99 to 1 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= beyond)

  /** The values of (time, value) samples in each of `n` equal slices of
    * `[from, to)` by time; empty slices are left out. */
  def slices(samples: Seq[(Long, Double)], from: Long, to: Long, n: Int): Seq[Seq[Double]] = {
    val width = math.max(1L, (to - from + n - 1) / n)
    samples.groupBy { case (t, _) => (t - from) / width }.values.map(_.map(_._2)).toSeq
  }

  /** The p99 of a phase that a single stall cannot carry: the median of the
    * nearest-rank p99s of its `n` slices. */
  def windowedP99(samples: Seq[(Long, Double)], from: Long, to: Long, n: Int): Double =
    median(slices(samples, from, to, n).map(nearestRank(_, 99)))

  /** Latency of an open-loop event: measured from when it was due, so a
    * stall also charges the events queued behind it. */
  def dueLatencyMs(dueUs: Long, doneUs: Long): Double = (doneUs - dueUs) / 1000.0

  /** How late the generator handed an event over, never negative. */
  def lateMs(dueUs: Long, sentUs: Long): Double = math.max(0L, sentUs - dueUs) / 1000.0
}
