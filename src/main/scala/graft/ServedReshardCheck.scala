package graft

/** The persisted-index re-shard measurement (r15): the served top-k's
  * BASELINE decade at the gate's fixed nlist = 16 shows serving growing
  * ×20 at ×100 data — an upper bound caused by fixed list occupancy
  * (n/L grows with n). The documented 100 TB dial is re-sharding L with
  * the corpus so probed-list size stays constant; this main MEASURES that
  * dial on the PERSISTED index: for each L it builds the index once
  * (timed — the one-time cost) and serves min-of-runs (the recurring
  * cost), printing one JSON line. Row-count sanity: every L must return
  * NumQueries × 10 rows.
  *
  * Usage: tools/bench_java.sh graft.ServedReshardCheck <sfDir> [L1 L2 ...]
  * (defaults: Ls = 16 64 256; SPARK_GRAFT_SCALE_RUNS serve runs, min kept)
  */
object ServedReshardCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf10")
    val lists: Seq[Int] =
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(16, 64, 256)
    val runs = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "2").toInt
    val spark = Session.local("graft-served-reshard")
    Tables.load(spark, sfDir, "embeddings").count() // warm footers

    val legs = lists.map { l =>
      val root = new java.io.File(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"),
        s"graft-reshard-ix-L$l").getAbsolutePath
      val tb0 = System.nanoTime()
      val ix = graft.queries.AnnIndexQueries.buildServedIndexN(spark, sfDir, l, root)
      val buildSec = (System.nanoTime() - tb0) / 1e9
      spark.catalog.clearCache()
      var rows = 0L
      val serveSec = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        rows = graft.queries.AnnIndexQueries.servedTopkFromIx(spark, sfDir, ix)
          .queryExecution.toRdd.count()
        val t = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        t
      }.min
      require(rows == 50, s"L=$l returned $rows rows, expected 50")
      (l, buildSec, serveSec)
    }
    val body = legs.map { case (l, b, sv) =>
      f""""L$l":{"build_sec":$b%.2f,"serve_sec":$sv%.2f}"""
    }.mkString(",")
    println(s"""{"metric":"served_reshard","sf_dir":"$sfDir","runs":$runs,$body}""")
    spark.stop()
  }
}
