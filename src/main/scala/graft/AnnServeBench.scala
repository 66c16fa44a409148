package graft

import org.apache.spark.sql.functions._

/** Throughput leg for the streaming ANN serving twin (r15):
  * [[graft.streaming.PriorityStreams.annStream]] driven end-to-end over a
  * MemoryStream of query vectors against the static sf-dir IVF index, plus
  * the same operator in batch mode as the upper bound. Prints ONE JSON
  * line with queries/sec for both paths and an exactness assert (every
  * query returns its full top-k, and the streamed rows equal the batch
  * rows for the overlapping query set).
  *
  * Usage: tools/bench_java.sh graft.AnnServeBench [sfDir] [nQueries] [nBatches]
  */
object AnnServeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val nQueries = args.lift(1).map(_.toInt).getOrElse(2000)
    val nBatches = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Session.local("graft-ann-serve-bench",
      confs = Map("spark.sql.adaptive.enabled" -> "false")) // streaming side anyway
    import spark.implicits._

    val emb = Tables.load(spark, sfDir, "embeddings")
    // static index side, materialized once (serve-many): the gated coarse
    // assignment, checkpointed so per-batch serving never re-derives it
    val lists = graft.queries.Q.truncate(graft.queries.AnnQueries.ivfLists(emb))
    val cents = graft.queries.AnnQueries.ivfCentroids(emb)
    lists.count() // force the build outside the timed window

    // query workload: corpus vectors replayed with fresh qids (disjoint
    // from vec_ids so the qid != cid self-filter never drops a hit)
    val qBase = emb.limit(nQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0) + 10000000L, r.getSeq[Float](1).toArray))

    // batch-mode upper bound
    val batchIn = spark.createDataset(qBase.toSeq)
      .select(col("_1").as("qid"), col("_2").cast("array<float>").as("qv"))
    val t0 = System.nanoTime()
    val batchRows = graft.streaming.PriorityStreams
      .annStream(batchIn, lists, cents).count()
    val batchSec = (System.nanoTime() - t0) / 1e9

    // streaming: nBatches micro-batches through a memory sink
    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val served = graft.streaming.PriorityStreams.annStream(
      mem.toDF().select(col("_1").as("qid"), col("_2").cast("array<float>").as("qv")),
      lists, cents)
    val query = served.writeStream
      .format("memory").queryName("ann_serve_bench")
      .outputMode("update")
      .start()
    val perBatch = math.max(1, nQueries / nBatches)
    val groups = qBase.grouped(perBatch).toSeq
    val t1 = System.nanoTime()
    try {
      groups.foreach { g => mem.addData(g.toSeq); query.processAllAvailable() }
    } finally query.stop()
    val streamSec = (System.nanoTime() - t1) / 1e9
    val streamRows = spark.table("ann_serve_bench").count()

    require(batchRows == nQueries.toLong * 10,
      s"batch serve must return 10 rows per query: $batchRows")
    require(streamRows == batchRows,
      s"streamed rows $streamRows != batch rows $batchRows")
    val bq = nQueries / batchSec
    val sq2 = nQueries / streamSec
    println(
      f"""{"metric":"ann_serve","sf_dir":"$sfDir","n_queries":$nQueries,"n_batches":$nBatches,"batch_sec":$batchSec%.2f,"batch_queries_per_sec":$bq%.0f,"stream_sec":$streamSec%.2f,"stream_queries_per_sec":$sq2%.0f}""")
    spark.stop()
  }
}
