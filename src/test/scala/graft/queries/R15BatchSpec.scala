package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Semantic contracts for the round-15 batch: the persisted served index
  * (build-once / serve-many, partition-pruned serving), incremental index
  * maintenance, sampled quantizer training, and the OPQ rotation. The
  * DuckDB oracle pins exact values at the gate; these pin the
  * architecture claims the oracle can't see — that the served query
  * READS LESS, that the index builds once per session, that the
  * Householder rotation is actually orthogonal.
  */
class R15BatchSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("ivf_pq_served_topk: result-identical to the in-plan trained pipeline") {
    val served = graft.SparkEntry.queries("ivf_pq_served_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val inPlan = graft.SparkEntry.queries("ivf_pq_residual_refined_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(served.nonEmpty)
    assert(served.toSeq == inPlan.toSeq,
      "persisted-index serving must reproduce the in-plan pipeline bit-for-bit")
  }

  test("servedIndex: builds once per (session, dir) — serve-many") {
    val before = AnnIndexQueries.ixBuilds.get()
    graft.SparkEntry.queries("ivf_pq_served_topk")(spark, dir).count()
    val afterFirst = AnnIndexQueries.ixBuilds.get()
    graft.SparkEntry.queries("ivf_pq_served_topk")(spark, dir).count()
    val afterSecond = AnnIndexQueries.ixBuilds.get()
    // the first call in THIS suite may hit a memo from an earlier suite
    // run against the same session+dir; what must hold is that the second
    // serve NEVER rebuilds
    assert(afterFirst - before <= 1)
    assert(afterSecond == afterFirst, "second serve must reuse the built index")
  }

  test("ivf_pq_served_topk: the codes scan is partition-pruned to the probed lists") {
    val df = graft.SparkEntry.queries("ivf_pq_served_topk")(spark, dir)
    val qe = df.queryExecution
    qe.toRdd.count()
    val scans = fileScans(qe.executedPlan).filter { s =>
      s.relation.location.rootPaths.exists(_.toString.contains("graft-ann-index")) &&
        s.relation.location.rootPaths.exists(_.toString.contains("codes"))
    }
    assert(scans.nonEmpty, "expected a file scan over the persisted codes table")
    val scan = scans.head
    // the probes⋈codes join must prune on the partition column — either a
    // dynamic pruning subquery (DPP) or a pushed static partition filter
    val partFilters = scan.partitionFilters.map(_.toString).mkString(";")
    assert(partFilters.toLowerCase.contains("dynamicpruning"),
      s"codes scan must carry a dynamic partition-pruning filter, got: $partFilters")
    // the registry query's 5×4 probe set happens to cover all 16 lists at
    // this scale (pruning prunes nothing to prune) — so MEASURE the cut
    // with a single query: 4 probed lists of 16 ⇒ the pruned scan must
    // read exactly the 4 probed partitions
    val ix = AnnIndexQueries.servedIndex(spark, dir)
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val q1 = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val probes1 = AnnQueries.ivfProbesFrom(q1, spark.read.parquet(ix.centroidsPath))
    val codes = spark.read.parquet(ix.codesPath)
      .select(col("cid"), col("list_id").cast("long").as("list_id"))
    val qe1 = broadcast(probes1).join(codes, Seq("list_id"))
      .groupBy("qid").agg(count(lit(1))).queryExecution
    qe1.toRdd.count()
    val scan1 = fileScans(qe1.executedPlan).head
    // one parquet file per list partition (the build's repartition), so
    // files-read counts partitions-read
    val totalFiles = {
      import scala.jdk.CollectionConverters._
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(ix.codesPath))
      try it.iterator().asScala.count(_.toString.endsWith(".parquet"))
      finally it.close()
    }
    val readFiles = scan1.metrics("numFiles").value
    assert(totalFiles >= 16, s"expected >= 16 list files, found $totalFiles")
    assert(readFiles.toDouble <= totalFiles / 3.0,
      s"single-query serve must read ~its 4 probed partitions, read $readFiles of $totalFiles files")
  }

  test("index_append: mass conservation and in-sample staleness calibration") {
    val rows = graft.SparkEntry.queries("index_append")(spark, dir).collect()
    assert(rows.nonEmpty)
    val corpus = graft.Tables.load(spark, dir, "embeddings").count()
    val nBase = rows.map(_.getLong(1)).sum
    val nNew = rows.map(_.getLong(2)).sum
    assert(nBase + nNew == corpus,
      s"every vector lands in exactly one list: $nBase + $nNew != $corpus")
    // the appended batch is an in-sample slice, so its per-list mean encode
    // distortion should sit near the base's: staleness in a loose (0, 4)
    // band wherever defined (a drifted real batch breaks the upper bound —
    // that's the signal)
    rows.foreach { r =>
      if (!r.isNullAt(6)) {
        val st = r.getDouble(6)
        assert(st > 0.0 && st < 4.0, s"in-sample staleness out of band: $st")
      }
    }
  }

  test("ivf_sampled_recall: both retrievers reported, recall well-formed") {
    val rows = graft.SparkEntry.queries("ivf_sampled_recall")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val methods = rows.map(_._1).distinct.sorted.toList
    assert(methods == List("ivf_sampled_topk", "ivf_trained_topk"))
    assert(rows.forall { case (_, _, nHit, recall) =>
      nHit >= 0 && recall >= 0.0 && recall <= 1.0 })
    // 5 queries per leg
    assert(rows.count(_._1 == "ivf_sampled_topk") == 5)
    assert(rows.count(_._1 == "ivf_trained_topk") == 5)
  }

  test("OPQ Householder matrix is orthogonal and preserves micro-grid norms") {
    val harr = AnnEvalQueries.opqHouseholderRow(spark, dir)
      .collect()(0).getSeq[Double](0).toArray
    assert(harr.length == 64 * 64)
    // H·Hᵀ == I to double tolerance (Householder is exactly orthogonal in
    // real arithmetic; the entries carry one rounded division each)
    var maxErr = 0.0
    var i = 0
    while (i < 64) {
      var j = 0
      while (j < 64) {
        var s = 0.0
        var t = 0
        while (t < 64) { s += harr(i * 64 + t) * harr(j * 64 + t); t += 1 }
        val expect = if (i == j) 1.0 else 0.0
        maxErr = math.max(maxErr, math.abs(s - expect))
        j += 1
      }
      i += 1
    }
    assert(maxErr < 1e-9, s"H not orthogonal: max |HHᵀ − I| = $maxErr")
    // rotation preserves squared norms up to the per-component floor error
    // (64 components × at most 1 micro-unit each)
    val emb = graft.Tables.load(spark, dir, "embeddings").limit(50)
    val rot = AnnEvalQueries.opqRotSub(emb, AnnEvalQueries.opqHouseholderRow(spark, dir))
      .groupBy("cid")
      .agg(sum(expr("aggregate(rsub, 0.0D, (a, x) -> a + x * x)")).as("rn2"))
    val plain = AnnEvalQueries.microSub(emb)
      .groupBy("cid")
      .agg(sum(expr("aggregate(rsub, 0.0D, (a, x) -> a + x * x)")).as("pn2"))
    val joined = rot.join(plain, Seq("cid")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (rn2, pn2) = (r.getDouble(1), r.getDouble(2))
      assert(math.abs(rn2 - pn2) < 1e-3,
        s"rotation must preserve L2 norms: $rn2 vs $pn2 (cid ${r.getLong(0)})")
    }
  }

  test("pq_train_distortion: the OPQ pair is present and comparable") {
    val rows = graft.SparkEntry.queries("pq_train_distortion")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(4)))
    val methods = rows.map(_._1).distinct.sorted.toList
    assert(methods == List("opq_trained", "plain_trained", "raw_pq",
      "residual_init", "residual_pq"))
    // the controlled pair covers identical vector counts per subspace
    val plain = rows.filter(_._1 == "plain_trained").map(r => r._2 -> r._3).toMap
    val opq = rows.filter(_._1 == "opq_trained").map(r => r._2 -> r._3).toMap
    assert(plain.keySet == opq.keySet && plain.keySet == (0L to 7L).toSet)
    plain.keySet.foreach(j => assert(plain(j) == opq(j),
      s"plain/opq must encode the same corpus (subspace $j)"))
  }
}
