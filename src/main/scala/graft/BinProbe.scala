package graft

/** Builder-side diagnostic: attribute `DAGScheduler: Broadcasting large task
  * binary` warnings to the query that triggered them. Runs every registry
  * query at the given SF with a stderr marker before each, so the log4j WARN
  * lines (also on stderr) interleave with the query names. Task-binary size
  * is a property of the PLAN/closure, not the data, so sf0.001 suffices.
  *
  * Usage: runMain graft.BinProbe <sfDir> [queryName...]
  */
object BinProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    // mirror Bench's session shape (the warnings being attributed occur
    // under ITS config — local thread count changes AQE's coalesced shapes)
    val spark = Session.local("graft-bin-probe")
    SparkEntry.queries
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        System.err.println(s"[binprobe] >>> $name")
        System.err.flush()
        val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "1").toInt
        (1 to reps).foreach { _ =>
          // NonFatal only: an OOM/LinkageError leaves the JVM undefined and
          // later stderr warnings would be misattributed — the tool's whole
          // purpose — so fatal errors must terminate the probe.
          try { fn(spark, sfDir).queryExecution.toRdd.count(); () }
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[binprobe] $name FAILED: ${e.getMessage}")
          }
          spark.catalog.clearCache()
        }
      }
    System.err.println("[binprobe] done")
    spark.stop()
  }
}
