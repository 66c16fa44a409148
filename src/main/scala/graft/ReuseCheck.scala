package graft

/** Dev diagnostic: executes named queries and reports how many parquet
  * scans, AQE ReusedExchange nodes, and shuffle stages the EXECUTED plan
  * carries — the quick check for whether a multiply-referenced subtree
  * (a shared agg feeding several branches) was deduplicated at runtime or
  * silently re-planned twice.
  * Usage: sbt "runMain graft.ReuseCheck <query> [more...]" */
object ReuseCheck {
  def main(args: Array[String]): Unit = {
    val spark = Session.local("graft-reuse-check")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    for (q <- args) {
      val df = SparkEntry.queries(q)(spark, dir)
      df.queryExecution.toRdd.count()
      val plan = df.queryExecution.executedPlan.toString
      val scans = "Scan parquet".r.findAllIn(plan).size
      val reused = "ReusedExchange".r.findAllIn(plan).size
      val stages = "ShuffleQueryStage".r.findAllIn(plan).size
      println(s"REUSE $q: scans=$scans reusedExchange=$reused shuffleStages=$stages")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
