package graft

/** Dev tool: print the formatted physical plan of registered queries.
  * Usage: sbt "runMain graft.Explain q5_revenue_by_nation [more...]"
  * With no args, explains every headline query. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session.local("graft-explain")
    val names = if (args.nonEmpty) args.toSeq else queries.Queries.headlines
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
