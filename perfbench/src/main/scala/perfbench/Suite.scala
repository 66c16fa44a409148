package perfbench

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.Row

import graft.SparkEntry

/** The analytics surface: a fixed list of registered queries, each run
  * once warm per pass over the committed corpus. It bypasses routing and
  * streaming, so a router change should leave it flat. */
object Suite {

  /** The timed queries: one per query family (experiment statistics, text
    * chunking, text fingerprints, JSON events, relational windows, retrieval
    * fusion), each at or below the registry's median cost, so several passes
    * fit in a few seconds. Every one has oracle SQL; a renamed or removed
    * query fails the run. */
  val Names: Seq[String] = Seq(
    "ab_srm_check", "chunk_documents", "doc_fingerprint", "q_json_props",
    "q_window_lag", "rrf_fusion")

  def warm(c: Ctx, names: Seq[String], corpus: String, passes: Int): Unit =
    (1 to passes).foreach(_ => names.foreach(n => SparkEntry.queries(n)(c.spark, corpus).collect()))

  def run(c: Ctx, names: Seq[String], corpus: String, passes: Int, parent: Long): Unit = {
    val wallMs = mutable.ArrayBuffer.empty[Double]
    val byQuery = mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    val perPass = mutable.ArrayBuffer.empty[Map[String, Double]]
    var last = Map.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
    val binaries0 = c.tracer.largeBinaries.get
    (1 to passes).foreach { _ =>
      val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      names.foreach { n =>
        val op = c.tracer.newOp("query")
        c.tracer.span(c.spark, n, "graft.queries", parent, op) { _ =>
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(n)(c.spark, corpus)
          val t1 = System.nanoTime()
          val k = c.tracer.countsOf(op)
          val eager = k.jobs.get
          val rows = df.collect()
          val t2 = System.nanoTime()
          wallMs += (t2 - t0) / 1e6
          byQuery(n) = (t2 - t0) / 1e6 :: byQuery(n)
          last += n -> (rows, df.schema)
          if (c.tracer.enabled) {
            val execMs = (t2 - t1) / 1e6
            sums("build_ms") += (t1 - t0) / 1e6
            sums("exec_ms") += execMs
            sums("eager_jobs") += eager
            sums("plan_ms") += df.queryExecution.tracker.phases.values
              .map(p => p.endTimeMs - p.startTimeMs).sum
            sums("jobs") += k.jobs.get; sums("stages") += k.stages.get; sums("tasks") += k.tasks.get
            sums("task_ms") += k.taskMs.get; sums("cpu_ms") += k.cpuMs.get; sums("gc_ms") += k.gcMs.get
            sums("shuffle_bytes") += k.shuffleBytes.get; sums("spill_bytes") += k.spillBytes.get
            sums("scan_bytes") += k.inputBytes.get; sums("scan_rows") += k.inputRows.get
          }
        }
      }
      perPass += sums.toMap
    }
    c.report.ops(names.size.toLong * passes, 0)
    val med = (k: String) => Stats.median(perPass.map(_.getOrElse(k, 0.0)).toSeq)
    // each query's fastest pass: a stall of the host only ever slows a
    // query down, so the minimum is the figure a stall cannot move
    val bestMs = names.map(n => byQuery(n).min)
    c.report.metric("suite_s", bestMs.sum / 1000, "s")
    c.report.metric("query_p50_ms", Stats.median(bestMs), "ms")
    // the highest percentile these samples back; below 50 there is no tail
    c.report.info("query_tail_percentile") = Stats.tailPercentile(wallMs.size).getOrElse(0)
    c.report.info("query_samples") = wallMs.size
    c.report.info("query_ms_passes") = names.map(n => n -> byQuery(n).reverse.map(math.round)).toMap
    if (c.tracer.enabled) {
      Seq("build_ms" -> "ms", "eager_jobs" -> "count", "plan_ms" -> "ms", "exec_ms" -> "ms",
        "jobs" -> "count", "stages" -> "count", "tasks" -> "count", "task_ms" -> "ms",
        "cpu_ms" -> "ms", "gc_ms" -> "ms", "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes"
      ).foreach { case (k, u) => c.report.metric(s"queries.$k", med(k), u) }
      c.report.metric("queries.busy_share", med("task_ms") / (med("exec_ms") * c.cores), "share")
      c.report.metric("queries.large_task_binaries",
        (c.tracer.largeBinaries.get - binaries0).toDouble / passes, "count")
      c.report.metric("tables.scan_bytes", med("scan_bytes"), "bytes")
      c.report.metric("tables.scan_rows", med("scan_rows"), "count")
    }
    // the last pass's rows go to parquet for the oracle check, untimed and
    // side by side
    val results = c.outDir.resolve("results")
    Await.result(Future.traverse(last.toSeq) { case (n, (rows, schema)) => Future {
      c.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(results.resolve(n).toString)
    } }, Duration.Inf)
  }
}
