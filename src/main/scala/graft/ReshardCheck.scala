package graft

/** Second measured decade (r10, verdict item 5): the r9 sf1 table showed
  * knn_label_consistency nearest to linear (8.85× at 10× data) because
  * within-list 1-NN pair work grows with list occupancy — (n/L)²·L at
  * fixed L = 16. Its own docs prescribe scaling n_lists with corpus size
  * to hold n/L constant; this main MEASURES that prescription: at a given
  * SF dir it times [[graft.queries.AnnQueries.knnConsistencyFrom]]
  * both as-is (L = 16) and re-sharded (L chosen to hold n/L at the sf0.1
  * occupancy of 125), plus dedup_clusters as-is for the companion number.
  * Prints one JSON line. Usage:
  *   sbt "runMain graft.ReshardCheck <sfDir> [L1 L2 ...]"
  */
object ReshardCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf10")
    val runs = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "2").toInt
    val spark = Session.local("graft-reshard-check")

    val emb = Tables.load(spark, sfDir, "embeddings")
    val n = emb.count()
    // hold n/L at sf0.1's occupancy (2000 vectors / 16 lists = 125)
    val reshardL = math.max(16, (n / 125L).toInt)
    val lists: Seq[Int] = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
      else Seq(16, reshardL)
    Tables.load(spark, sfDir, "documents").count() // warm footers

    def time(tag: String)(body: => Unit): (String, Double) = {
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val t = try { body; (System.nanoTime() - t0) / 1e9 }
                catch { case e: Throwable =>
                  System.err.println(s"[reshard] $tag FAILED: ${e.getMessage}"); -1.0 }
        spark.catalog.clearCache()
        t
      }
      tag -> (if (times.contains(-1.0)) -1.0 else times.min)
    }

    // SPARK_GRAFT_SKIP_KNN=1 skips the (already-measured r10) knn decade so
    // a targeted run can time just the cluster legs.
    val knnTimes =
      if (sys.env.get("SPARK_GRAFT_SKIP_KNN").contains("1")) Seq.empty
      else lists.map { l =>
        time(s"knn_L$l") {
          graft.queries.AnnQueries.knnConsistencyFrom(emb, l)
            .queryExecution.toRdd.count(); ()
        }
      }
    // SPARK_GRAFT_SKIP_ASIS=1 skips the exact-candidate cluster leg — at
    // sf10 it is KNOWN to exceed a single box's disk (the r10 finding the
    // band-local legs below exist to fix); reported as -1 when skipped.
    val clusterTime =
      if (sys.env.get("SPARK_GRAFT_SKIP_ASIS").contains("1")) ("dedup_clusters", -1.0)
      else time("dedup_clusters") {
        SparkEntry.queries("dedup_clusters")(spark, sfDir)
          .queryExecution.toRdd.count(); ()
      }
    // r11: the band-local CC path — (a) same (6, 6) dial, proving the
    // band-local verify alone removes the candidate-materialization spill
    // (arrays shuffle numBands×corpus, never per-candidate); (b) the
    // re-shard dial (12-bit bands, 24 bands) holding per-bucket occupancy
    // AND near-dup recall — the LSH twin of the knn L re-shard above.
    val clusterBandLocal = Seq(
      ("dedup_clusters_bandlocal_6x6", 6, 6),
      ("dedup_clusters_bandlocal_24x12", 24, 12)).map { case (tag, nb, bb) =>
      time(tag) {
        graft.queries.SimilarityQueries
          .clustersBandLocal(emb, 0.40, numBands = nb, bandBits = bb)
          .queryExecution.toRdd.count(); ()
      }
    }
    val qs = (knnTimes ++ (clusterTime +: clusterBandLocal)).map { case (k, v) =>
      "\"" + k + "\":" + (if (v < 0) "-1" else math.round(v * 1000).toString)
    }.mkString("{", ",", "}")
    println(s"""{"metric":"reshard_check","qunit":"ms","sf_dir":"$sfDir","n_vectors":$n,"reshard_L":$reshardL,"queries":$qs}""")
    spark.stop()
  }
}
