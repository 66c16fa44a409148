package graft.examples

import graft.Session

/** Fresh-JVM probe of `GraftExtensions`: `spark.sql.extensions` only applies
  * at context creation, so the shared test session can never cover it — this
  * main builds its own session with the extension installed and exercises
  * every injection (optimizer rule, planner strategy via the SQL-visible
  * router shape, and all four injected SQL functions). Exits non-zero on any
  * mismatch. */
object ExtensionsProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session.local("graft-extensions-probe", cores = 2,
      confs = Map("spark.sql.extensions" -> "graft.functions.GraftExtensions"))
    import spark.implicits._

    // injected SQL functions resolve and compute
    val row = spark.sql(
      """SELECT cosine_similarity(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                         array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS cs,
        |       simhash_fingerprint(array('a b c', 'b c d')) AS fp,
        |       minhash_signature(array('a b c', 'b c d')) AS sig,
        |       min_window_md5(array('a', 'b', 'c', 'd', 'e', 'f'), 5) AS mw,
        |       vector_l2sq(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                   array(CAST(0.0 AS DOUBLE), CAST(2.0 AS DOUBLE))) AS l2,
        |       winnow_fingerprints(array('a', 'b', 'c', 'd', 'e', 'f', 'g', 'h'), 5, 4) AS wf,
        |       shingle_set(array('a', 'b', 'c', 'a', 'b', 'c'), 3) AS sh""".stripMargin)
      .collect()(0)
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-12, s"cosine: ${row.getDouble(0)}")
    assert(row.getLong(1) >= 0 && row.getLong(1) <= 0xffffffffL, s"fp: ${row.getLong(1)}")
    assert(row.getSeq[String](2).length == graft.functions.MinhashUtil.NumHashes)
    assert(row.getString(3).length == 32)
    assert(row.getDouble(4) == 5.0, s"l2: ${row.getDouble(4)}")
    assert(row.getSeq[String](5).nonEmpty && row.getSeq[String](5).forall(_.length == 32))
    assert(row.getSeq[String](6) == Seq("a b c", "b c a", "c a b"), s"sh: ${row.getSeq[String](6)}")

    // the r7 bloom pair: build a filter over 3 keys, probe member + non-member
    spark.sql("SELECT explode(array('a', 'b', 'c')) AS s").createOrReplaceTempView("ep_ref")
    spark.sql("SELECT bloom_filter_agg(xxhash64(s), 100L) AS bf FROM ep_ref")
      .createOrReplaceTempView("ep_bf")
    val bl = spark.sql(
      """SELECT might_contain((SELECT bf FROM ep_bf), xxhash64('b')) AS hit,
        |       might_contain((SELECT bf FROM ep_bf), xxhash64('zzz')) AS miss""".stripMargin)
      .collect()(0)
    assert(bl.getBoolean(0), "bloom lost a member (impossible: no false negatives)")
    assert(!bl.getBoolean(1), "bloom flagged 'zzz' (fpp ~0 at 100-capacity/3 items)")

    // the native router plans AssignPartitionsExec in this session (the
    // strategy is available both via the extension injection and the
    // method's own idempotent registration — indistinguishable here, and
    // that redundancy is the point: either path alone suffices)
    val cfg = graft.core.BucketPriorityConfig(
      "t", Seq("B1", "B2"), Seq(80, 20)).toOption.get
    val df = (1 to 100).map(i => (s"B${i % 2 + 1}-$i", i.toLong)).toDF("key", "seq")
    val routed = graft.sql.BucketRouting.routeUniformNative(
      df, cfg, 10, org.apache.spark.sql.functions.col("key"))
    val plan = routed.queryExecution.executedPlan.toString
    assert(plan.contains("AssignPartitions"), s"native exec missing:\n$plan")
    assert(routed.where("pt IS NOT NULL").count() == 100)

    // injected optimizer rule: the HOF cosine pattern fuses
    val fused = spark.sql(
      """SELECT aggregate(zip_with(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT)),
        |                          (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |                 CAST(0 AS DOUBLE), (acc, v) -> acc + v)
        |       / (sqrt(aggregate(zip_with(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT)),
        |                          (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |                 CAST(0 AS DOUBLE), (acc, v) -> acc + v))
        |          * sqrt(aggregate(zip_with(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT)),
        |                          (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |                 CAST(0 AS DOUBLE), (acc, v) -> acc + v))) AS sim""".stripMargin)
    // (fusion is plan-asserted in FuseCosineRuleSpec; here we just prove the
    // extension-installed session computes the same value)
    assert(math.abs(fused.collect()(0).getDouble(0) - 1.0) < 1e-12)

    println("""{"metric":"extensions_probe","status":"pass"}""")
    spark.stop()
  }
}
