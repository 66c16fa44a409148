package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.TestSessions

import graft.SparkTestBase

/** graft's SQL surface through both of its registration paths: a session
  * built with [[GraftExtensions]] (what `spark.sql.extensions` installs)
  * and the shared session after [[BucketSqlFunctions.registerFunctions]].
  * Both read the one [[BucketSqlFunctions.functions]] table, so both must
  * compute and reject alike. */
class SqlFunctionsSpec extends SparkTestBase {

  // Shares the suite's SparkContext and does not become the active session.
  // Never stop it: that would stop the shared context.
  private lazy val ext: SparkSession =
    TestSessions.withExtensions(spark.sparkContext, new GraftExtensions)

  test("extension session: the injected SQL functions resolve and compute") {
    val row = ext.sql(
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
    assert(row.getSeq[String](2).length == MinhashUtil.NumHashes)
    assert(row.getString(3).length == 32)
    assert(row.getDouble(4) == 5.0, s"l2: ${row.getDouble(4)}")
    assert(row.getSeq[String](5).nonEmpty && row.getSeq[String](5).forall(_.length == 32))
    assert(row.getSeq[String](6) == Seq("a b c", "b c a", "c a b"), s"sh: ${row.getSeq[String](6)}")
  }

  test("extension session: the bloom pair keeps a member and drops a non-member") {
    ext.sql("SELECT explode(array('a', 'b', 'c')) AS s").createOrReplaceTempView("ep_ref")
    ext.sql("SELECT bloom_filter_agg(xxhash64(s), 100L) AS bf FROM ep_ref")
      .createOrReplaceTempView("ep_bf")
    val bl = ext.sql(
      """SELECT might_contain((SELECT bf FROM ep_bf), xxhash64('b')) AS hit,
        |       might_contain((SELECT bf FROM ep_bf), xxhash64('zzz')) AS miss""".stripMargin)
      .collect()(0)
    assert(bl.getBoolean(0), "bloom lost a member (impossible: no false negatives)")
    assert(!bl.getBoolean(1), "bloom flagged 'zzz' (fpp ~0 at 100-capacity/3 items)")
  }

  test("extension session: the injected strategy plans AssignPartitionsExec") {
    // injected, not only added by routeUniformNative's own registration
    assert(ext.sessionState.planner.strategies.contains(graft.plans.GraftStrategy))
    import ext.implicits._
    val cfg = graft.core.BucketPriorityConfig(
      "t", Seq("B1", "B2"), Seq(80, 20)).toOption.get
    val df = (1 to 100).map(i => (s"B${i % 2 + 1}-$i", i.toLong)).toDF("key", "seq")
    val routed = graft.sql.BucketRouting.routeUniformNative(df, cfg, 10, col("key"))
    val plan = routed.queryExecution.executedPlan.toString
    assert(plan.contains("AssignPartitions"), s"native exec missing:\n$plan")
    assert(routed.where("pt IS NOT NULL").count() == 100)
  }

  test("extension session: the injected optimizer rule keeps the HOF cosine value") {
    assert(ext.sessionState.optimizer.extendedOperatorOptimizationRules.contains(FuseCosineRule))
    val fused = ext.sql(
      """SELECT aggregate(zip_with(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT)),
        |                          (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |                 CAST(0 AS DOUBLE), (acc, v) -> acc + v)
        |       / (sqrt(aggregate(zip_with(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT)),
        |                          (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |                 CAST(0 AS DOUBLE), (acc, v) -> acc + v))
        |          * sqrt(aggregate(zip_with(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT)),
        |                          (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |                 CAST(0 AS DOUBLE), (acc, v) -> acc + v))) AS sim""".stripMargin)
    // fusion itself is plan-asserted in FuseCosineRuleSpec
    assert(math.abs(fused.collect()(0).getDouble(0) - 1.0) < 1e-12)
  }

  // One wrong-arity call per table entry, plus every integer-literal
  // argument given a column instead.
  private val malformed = Seq(
    "cosine_similarity" -> "cosine_similarity(a)",
    "simhash_fingerprint" -> "simhash_fingerprint(toks, 3)",
    "minhash_signature" -> "minhash_signature(toks, toks)",
    "min_window_md5" -> "min_window_md5(toks)",
    "min_window_md5" -> "min_window_md5(toks, w)",
    "shingle_set" -> "shingle_set(toks)",
    "shingle_set" -> "shingle_set(toks, w)",
    "vector_l2sq" -> "vector_l2sq(a)",
    "winnow_fingerprints" -> "winnow_fingerprints(toks, 5)",
    "winnow_fingerprints" -> "winnow_fingerprints(toks, w, 4)",
    "winnow_fingerprints" -> "winnow_fingerprints(toks, 5, w)",
    "bloom_filter_agg" -> "bloom_filter_agg(h)",
    "bloom_filter_agg" -> "bloom_filter_agg(h, w)",
    "might_contain" -> "might_contain(h)")

  test("malformed calls name their function on both registration paths") {
    assert(malformed.map(_._1).toSet == BucketSqlFunctions.functions.map(_._1.funcName).toSet)
    BucketSqlFunctions.registerFunctions(spark)
    for ((path, s) <- Seq("extension" -> ext, "session" -> spark); (name, call) <- malformed) {
      val ex = intercept[IllegalArgumentException] {
        s.sql(s"""SELECT $call FROM (SELECT array(CAST(1.0 AS FLOAT)) AS a,
                 |  array('a', 'b', 'c') AS toks, 3 AS w, xxhash64('a') AS h) t""".stripMargin)
      }
      assert(ex.getMessage.contains(name), s"$path path, $call: ${ex.getMessage}")
    }
  }

  test("SQL functions are registered only in graft/functions/BucketSqlFunctions.scala") {
    val calls = Seq("injectFunction(", "createOrReplaceTempFunction(", "registerFunction(")
    val registering = SparkTestBase.scalaSources("src/main/scala")
      .collect { case (file, text) if calls.exists(text.contains) => file }
    assert(registering == Seq("graft/functions/BucketSqlFunctions.scala"),
      s"add SQL functions to the BucketSqlFunctions.functions table: $registering")
  }
}
