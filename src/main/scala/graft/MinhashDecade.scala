package graft

/** Text-side (MinHash) cluster decade (r12, verdict item 4): the embedding-
  * side LSH got band-local + a measured sf10 number in r11; this main
  * measures the SHINGLE-banded family at a given SF dir — the exact-
  * candidate pipeline ([[graft.queries.TextQueries.minhashPairsWithHandle]],
  * the registry/oracle spelling shared by dedup_minhash_clusters /
  * dup_cluster_profile / dedup_survivorship / source_dup_matrix /
  * split_leakage) vs the band-local twin
  * ([[graft.queries.TextQueries.minhashPairsBandLocalWithHandle]], shingle
  * sets carried INTO the band self-join, verify pipelined, candidates never
  * materialized). Each leg runs pairs-only and full clusters (CC loop).
  * Prints one JSON line with per-leg seconds (min of SPARK_GRAFT_SCALE_RUNS,
  * default 2; a failed leg reports -1).
  *
  * SPARK_GRAFT_SKIP_ASIS=1 skips the exact-candidate legs (if they spill at
  * a decade, a targeted run can still time band-local alone).
  * Usage: sbt "runMain graft.MinhashDecade <sfDir>"
  */
object MinhashDecade {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf10")
    val runs = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "2").toInt
    val spark = Session.local("graft-minhash-decade")
    Tables.load(spark, sfDir, "documents").count() // warm footers

    def time(tag: String)(body: => Unit): (String, Double) = {
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val t = try { body; (System.nanoTime() - t0) / 1e9 }
                catch { case e: Throwable =>
                  System.err.println(s"[minhash-decade] $tag FAILED: ${e.getMessage}"); -1.0 }
        spark.catalog.clearCache()
        t
      }
      tag -> (if (times.contains(-1.0)) -1.0 else times.min)
    }

    import graft.queries.TextQueries
    val skipAsIs = sys.env.get("SPARK_GRAFT_SKIP_ASIS").contains("1")
    val legs = Seq.newBuilder[(String, Double)]
    if (!skipAsIs) {
      legs += time("pairs_exact") {
        val (p, sh) = TextQueries.minhashPairsWithHandle(spark, sfDir)
        p.queryExecution.toRdd.count(); sh.unpersist(); ()
      }
      legs += time("clusters_exact") {
        graft.SparkEntry.queries("dedup_minhash_clusters")(spark, sfDir)
          .queryExecution.toRdd.count(); ()
      }
    }
    legs += time("pairs_bandlocal") {
      val (p, b) = TextQueries.minhashPairsBandLocalWithHandle(spark, sfDir)
      p.queryExecution.toRdd.count(); b.unpersist(); ()
    }
    legs += time("clusters_bandlocal") {
      graft.SparkEntry.queries("dedup_minhash_clusters_bandlocal")(spark, sfDir)
        .queryExecution.toRdd.count(); ()
    }
    val sf = new java.io.File(sfDir).getName
    val body = legs.result().map { case (k, v) =>
      "\"" + k + "\":" + (math.round(v * 1000) / 1000.0)
    }.mkString(",")
    println(s"""{"metric":"minhash_decade","sf":"$sf","runs":$runs,$body}""")
    spark.stop()
  }
}
