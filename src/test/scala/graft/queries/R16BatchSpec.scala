package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Focused contracts for the round-16 optimization batch: the top-2 argmin
  * expression (silhouette's map-only path), the NaN total-ordering fix on
  * the argmin selection, the observe()-piggybacked convergence reads in
  * the CC / k-core loops, Q.par's failure semantics, and the
  * one-scan-one-exchange shape of dedup_chunk_overlap. The DuckDB oracle
  * pins exact values at the gate; these pin the equivalences and plan
  * shapes the oracle can't see.
  */
class R16BatchSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("VectorArgmin2 == the min(struct) + sort_array idiom bit-for-bit (real data)") {
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val cents = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("centv"))
    val old = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cents))
      .withColumn("d2",
        coalesce(graft.functions.VectorFunctions.floatL2Sq(col("embedding"), col("centv")),
          lit(Double.PositiveInfinity)))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("cent_id"))).as("m1"),
        sort_array(collect_list(struct(col("d2"), col("cent_id")))).as("all"))
      .select(col("vec_id"), col("m1.cent_id").as("cluster"),
        col("m1.d2").as("a2"), expr("all[1].d2").as("b2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    val cands = emb.filter(col("vec_id") < 16)
      .agg(sort_array(collect_list(struct(
        col("vec_id").cast("long").as("id"), col("embedding").as("centv")))).as("cands"))
    val neu = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cands))
      .select(col("vec_id"),
        graft.functions.VectorFunctions.argmin2L2(col("cands"), col("embedding")).as("m"))
      .filter(col("m").isNotNull)
      .select(col("vec_id"), col("m.id"), col("m.score"), col("m.score2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(neu.nonEmpty && old.length == neu.length)
    old.zip(neu).foreach { case (o, n) =>
      assert(o._1 == n._1 && o._2 == n._2, s"argmin mismatch at vec ${o._1}: $o vs $n")
      assert(java.lang.Double.doubleToLongBits(o._3) ==
        java.lang.Double.doubleToLongBits(n._3), s"a2 bits differ at vec ${o._1}")
      assert(java.lang.Double.doubleToLongBits(o._4) ==
        java.lang.Double.doubleToLongBits(n._4), s"b2 bits differ at vec ${o._1}")
    }
  }

  test("VectorArgmin/VectorArgmin2 order NaN last, like min(struct)'s double ordering") {
    // candidate 0's vector contains NaN -> its L2 score is NaN; the finite
    // candidates must win regardless of candidate order (the r16 ADVICE
    // fix: a primitive < let a first-candidate NaN keep winning)
    val df = Seq(Tuple1(Array(0.0f, 0.0f))).toDF("v")
      .withColumn("cands", typedlit(Seq(
        (0L, Seq(Float.NaN, 0.0f)),
        (1L, Seq(10.0f, 0.0f)),
        (2L, Seq(20.0f, 0.0f)))))
    val m = df.select(
      graft.functions.VectorFunctions.argminL2(col("cands"), col("v")).as("m1"),
      graft.functions.VectorFunctions.argmin2L2(col("cands"), col("v")).as("m2"))
      .collect()(0)
    val m1 = m.getStruct(0)
    assert(m1.getLong(1) == 1L, s"argmin must skip the NaN candidate, got id ${m1.getLong(1)}")
    assert(m1.getDouble(0) == 100.0)
    val m2 = m.getStruct(1)
    assert(m2.getLong(1) == 1L && m2.getDouble(0) == 100.0)
    assert(m2.getDouble(2) == 400.0, "second-best must be the other finite candidate, not NaN")
  }

  test("VectorArgmin2 ties break by ascending id; single candidate has NULL score2") {
    val df = Seq(Tuple1(Array(0.0f))).toDF("v")
    val tied = df.withColumn("cands", typedlit(Seq(
        (3L, Seq(2.0f)), (5L, Seq(2.0f)), (7L, Seq(9.0f)))))
      .select(graft.functions.VectorFunctions.argmin2L2(col("cands"), col("v")).as("m"))
      .collect()(0).getStruct(0)
    assert(tied.getLong(1) == 3L, "equal scores must keep the smallest id")
    assert(tied.getDouble(2) == 4.0, "second slot takes the tied candidate (sorted order)")
    val single = df.withColumn("cands", typedlit(Seq((1L, Seq(2.0f)))))
      .select(graft.functions.VectorFunctions.argmin2L2(col("cands"), col("v")).as("m"))
      .collect()(0).getStruct(0)
    assert(single.getLong(1) == 1L && single.isNullAt(2),
      "a lone candidate has no second-best (the old out-of-bounds all[1] gave NULL)")
  }

  test("connectedComponents: observed-convergence labels match the reference components") {
    // path 1-2-3-4-5 (multi-round diameter) + an isolated pair {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L)).toDF("src", "dst")
    val sym = pairs.union(pairs.select(col("dst"), col("src")))
    val labels = Q.connectedComponents(sym)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L)
    assert(labels == expected, s"got $labels")
  }

  test("kcorePeel: observed per-round counts drive the same peel as a census") {
    // 4-clique {1,2,3,4} (every degree 3 — survives k=3) + tail 4-5 (peeled)
    val clique = for {
      a <- 1L to 4L; b <- (a + 1) to 4L
    } yield (a, b)
    val edges = (clique :+ (4L, 5L)).toDF("a_id", "b_id")
    val (core, coreEdges, roundsPeeled, converged) =
      SimilarityQueries.kcorePeel(edges, edges.count())
    assert(converged)
    assert(coreEdges == 6L, s"the 3-core is the 4-clique (6 edges), got $coreEdges")
    assert(roundsPeeled == 1)
    val ids = core.select(col("a_id")).union(core.select(col("b_id")))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L, 4L))
  }

  test("Q.par rethrows the thunk's own exception, not ExecutionException") {
    val ex = intercept[IllegalStateException] {
      Q.par[Int](() => 1, () => throw new IllegalStateException("boom"))
    }
    assert(ex.getMessage == "boom")
  }

  test("dedup_chunk_overlap: ONE documents scan (window shares the chunk_hash exchange)") {
    val qe = graft.SparkEntry.queries("dedup_chunk_overlap")(spark, dir).queryExecution
    qe.toRdd.count()
    val docScans = fileScans(qe.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("documents")))
    assert(docScans.size == 1,
      s"the rewritten query must explode chunks once, found ${docScans.size} documents scans")
  }
}
