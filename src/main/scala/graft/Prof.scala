package graft

/** Dev profiler: 3 timed full-plan runs per named query at sf0.1.
  * Usage: sbt "runMain graft.Prof <query> [more...]" */
object Prof {
  def main(args: Array[String]): Unit = {
    val spark = Session.local("graft-prof")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // tolerate partial corpora (ScaleGen dirs carry only documents/
    // embeddings/events): warm what exists
    Tables.names.foreach { n =>
      if (new java.io.File(s"$dir/$n.parquet").exists())
        Tables.load(spark, dir, n).count()
    }
    val names = if (args.nonEmpty) args.toSeq
      else Seq("dedup_exact","dedup_minhash_lsh","ngram_jaccard_pairs","ivf_topk","bucket_discarded")
    for (q <- names; i <- 1 to 3) {
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, dir).queryExecution.toRdd.count()
      val secs = (System.nanoTime() - t0) / 1e9 // capture BEFORE clearCache, like Bench
      spark.catalog.clearCache()
      println(f"$q run$i: $secs%.2f s")
    }
    spark.stop()
  }
}
