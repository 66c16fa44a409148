package graft

/** Order-of-magnitude scale check (r9, verdict item 4): time the slow-tail
  * registry queries at a given SF dir — run it at /root/testdata/sf0.1 and
  * at the [[ScaleGen]]-built /tmp/sf1 and compare. Every 100 TB claim in
  * PLANS.md extrapolates from sf0.1; this is the first measured decade.
  * Expect ≤ ~linear time growth (×10 data → ≤ ~×10-15 time locally — the
  * constant-floor jobs amortize, the per-row work must not superlinear).
  * Prints one JSON line with per-query seconds (min of `runs`).
  */
object ScaleCheck {
  val TailQueries: Seq[String] = Seq(
    // 10 slowest at sf0.1 (r9 quiet capture)
    "lsh_recall_curve", "source_separability", "char_ngram_entropy",
    "quality_dup_profile", "dedup_clusters", "auc_dup_quality",
    "dup_ngram_ratio", "mmr_rerank", "embedding_pca_power",
    "ngram_containment_pairs",
    // the 3 retriever evals + the flagged n²/L candidate
    "recall_at_k", "retrieval_mrr", "ndcg_eval", "knn_label_consistency",
    // r9 newcomer with a stride-1 explode worth watching
    "dedup_substrings",
    // r10 additions (verdict item 8): the two heaviest r9 queries not yet
    // in the measured-decade set — score_calibration's stride-5-gram label
    // pass is dup_ngram_ratio-shaped; markov_stationary's pair fan-out is
    // calendar-bounded but worth pinning
    "score_calibration", "markov_stationary",
    // r12 backfill (r11 verdict item 5): the r10/r11 heavies with bounded-
    // frame arguments but no measured decade row — isotonic (PAV over the
    // ≤11-row band frame), burrows (50-term z grid), kendall (value-grid
    // SMJ), modularity/assortativity (band-local pair graph + CC), brier
    // (digest label pass + 1-row roll-up)
    "isotonic_calibration", "burrows_delta", "kendall_tau_length_quality",
    "cluster_modularity", "dup_graph_assortativity", "brier_score_dup")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf1")
    // optional explicit query list (args after sfDir) — a targeted backfill
    // run times just the named queries instead of the whole tail set
    val names: Seq[String] =
      if (args.length > 1) args.drop(1).toSeq else TailQueries
    val runs = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "2").toInt
    val spark = Session.local("graft-scale-check")

    // warm-up: table footers + one light query
    Seq("documents", "embeddings").foreach(t => Tables.load(spark, sfDir, t).count())

    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val t = try { fn(spark, sfDir).queryExecution.toRdd.count(); (System.nanoTime() - t0) / 1e9 }
                catch { case e: Throwable =>
                  System.err.println(s"[scale] $name FAILED: ${e.getMessage}"); -1.0 }
        spark.catalog.clearCache()
        t
      }
      name -> (if (times.contains(-1.0)) -1.0 else times.min)
    }
    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" + (if (v < 0) "-1" else math.round(v * 1000).toString)
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_check","qunit":"ms","sf_dir":"$sfDir","queries":$qs}""")
    spark.stop()
  }
}
