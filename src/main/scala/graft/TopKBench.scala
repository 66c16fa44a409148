package graft

import org.apache.spark.sql.functions._

/** A/B bench for the grouped top-k engine paths (r9, verdict item 5): the
  * registry's retrieval queries rank with a per-qid row_number window —
  * correct, but at production query counts the window shuffles EVERY
  * scored (qid, cid) pair to sort it, while the typed TopK aggregator
  * ([[graft.functions.TopK]]) ships at most k rows per group per map task
  * (the buffer is the map-side partial). This main measures both paths on
  * an inflated query table — 1000 queries × all candidates at sf0.1, ~2M
  * scored pairs — checks they agree row-for-row, and prints one JSON line.
  *
  * Numbers land in PLANS.md; the registry keeps the ≤5-query window form
  * (it IS faster at tiny query counts — no typed-row round trip) with the
  * aggregator documented as the ≥k-queries production default.
  */
object TopKBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nQueries = sys.env.getOrElse("SPARK_GRAFT_TOPK_QUERIES", "1000").toInt
    val k = 10
    val spark = Session.local("graft-topk-bench")

    val emb = Tables.load(spark, sfDir, "embeddings")
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val c = emb.select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val scored = broadcast(q).crossJoin(c)
      .filter(col("qid") =!= col("cid"))
      .withColumn("sim",
        graft.functions.VectorFunctions.cosineSimilarity(col("qv"), col("cv")))
      .select("qid", "cid", "sim")

    def windowPath() = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("qid"), col("cid"), col("rk").cast("int").as("rk"))
    }
    def aggPath() =
      graft.functions.TopK.ranked(scored, "qid", k).select("qid", "cid", "rk")

    // exactness first: the two paths must agree row-for-row
    val a = windowPath().collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val b = aggPath().collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    require(a == b, s"paths disagree: ${(a -- b).take(3)} vs ${(b -- a).take(3)}")
    require(a.size == nQueries.min(2000) * k, s"unexpected result size ${a.size}")

    def time3(mk: () => org.apache.spark.sql.DataFrame): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        mk().queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }.min

    val wSec = time3(() => windowPath())
    val aSec = time3(() => aggPath())
    val r = (d: Double) => math.round(d * 1000) / 1000.0
    println(s"""{"metric":"topk_ab","n_queries":$nQueries,"k":$k,""" +
      s""""window_sec":${r(wSec)},"agg_sec":${r(aSec)},""" +
      s""""agg_speedup":${r(wSec / aSec)},"sf":"${new java.io.File(sfDir).getName}"}""")
    spark.stop()
  }
}
