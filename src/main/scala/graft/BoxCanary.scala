package graft

/** Standalone capture of the [[Bench.canary]] box-drift workload: prints the
  * three run times and the min, for (re)calibrating Bench.CanaryBaselineMs
  * — run via tools/bench_java.sh on a QUIET box (loadavg < 0.3) only.
  * Recalibrating the constant resets the box_factor trend line; do it only
  * deliberately and record the old/new pair in PLANS.md.
  */
object BoxCanary {
  def main(args: Array[String]): Unit = {
    val spark = Session.local("graft-box-canary")
    val times = (1 to 6).map(_ => Bench.canary(spark))
    println(s"[canary] runs_ms=${times.map(t => math.round(t * 1000)).mkString(",")} " +
      s"min_ms=${math.round(times.min * 1000)} baseline_ms=${Bench.CanaryBaselineMs} " +
      s"box_factor=${math.round(times.min * 1000 / Bench.CanaryBaselineMs * 1000) / 1000.0}")
    spark.stop()
  }
}
