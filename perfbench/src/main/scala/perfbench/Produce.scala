package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.col

import graft.core.BucketLayout
import graft.sql.BucketRouting
import graft.streaming.PriorityStreams

/** The producer path: a materialised batch of keyed events routed by the
  * salted deterministic router (`route` → `discard`) and by the
  * shuffle-free stream router (`routeStream(discardUnroutable = true)`),
  * each into a (bucket, partition) count sink. The two take turns, so a
  * gain in one that costs the other shows. */
object Produce {

  final case class Input(df: DataFrame, n: Long, perBucket: Array[Long], tasks: Int)

  /** Router name in metrics → how it builds its routed frame. */
  private val routers: Seq[(String, (Ctx, Input) => DataFrame)] = Seq(
    "route" -> ((c, in) => BucketRouting.discard(BucketRouting.route(
      in.df, c.w.cfg, c.w.partitions, col("key"), col("event_id")))),
    "route_uniform" -> ((c, in) => PriorityStreams.routeStream(
      in.df, c.w.cfg, c.w.partitions, col("key"), discardUnroutable = true)))

  /** Uniformity bound per router: `route` keeps every bucket's partitions
    * within one event of each other; `routeStream` round-robins per task,
    * so the bound is the number of input tasks. */
  private def skewBound(router: String, in: Input): Long = if (router == "route") 1 else in.tasks

  /** The timed input, materialised before the clock starts. */
  def setup(c: Ctx): Input = {
    val layoutUs = (1 to 2000).map { _ =>
      val t0 = System.nanoTime()
      BucketLayout.layout(c.w.cfg, c.w.partitions)
      (System.nanoTime() - t0) / 1000.0
    }
    c.report.metric("core.layout_us", Stats.median(layoutUs), "us")
    val gen = new KeyGen(c.w, c.seed)
    val perBucket = new Array[Long](c.w.cfg.numBuckets)
    val rows = (0 until Workload.ProduceEvents).map { i =>
      val (b, key) = gen.next(i.toLong)
      if (b >= 0) perBucket(b) += 1
      (key, i.toLong)
    }
    import c.spark.implicits._
    val df = c.spark.sparkContext.parallelize(rows, c.cores).toDF("key", "event_id")
      .localCheckpoint(eager = true)
    Input(df, df.count(), perBucket, df.rdd.getNumPartitions)
  }

  /** Calls the routers while `more` holds, and each at least `minOps` times.
    * Each call goes to the router that has taken the least time so far, so
    * the fast shuffle-free router gets as many more samples as it is faster. */
  def run(c: Ctx, in: Input, minOps: Int, parent: Long)(more: => Boolean): Unit = {
    val samples = routers.map(_._1 -> mutable.ArrayBuffer.empty[Map[String, Double]]).toMap
    def spent(name: String) = samples(name).map(_("wall_ms")).sum
    while (samples.values.exists(_.size < minOps) || more) {
      val (name, build) = routers.minBy { case (n, _) => spent(n) }
      samples(name) += op(c, in, name, build, parent)
    }
    routers.foreach { case (name, _) =>
      val ops = samples(name)
      val med = (k: String) => Stats.median(ops.map(_(k)).toSeq)
      // the fastest call: a stall of the host only ever slows a call down
      c.report.metric(s"${name}_eps", in.n / (ops.map(_("wall_ms")).min / 1000), "1/s")
      c.report.info(s"$name.op_ms") = ops.map(o => math.round(o("wall_ms"))).toSeq
      c.report.metric(s"sql.$name.routed_share", med("routed_share"), "share")
      // 0 whenever every bucket's events divide evenly over its partitions,
      // so recorded for reading; the bound itself is checked per call
      c.report.info(s"sql.$name.max_skew") = ops.map(_("max_skew")).max
      if (c.tracer.enabled) Seq(
        "build_ms" -> "ms", "plan_ms" -> "ms", "jobs" -> "count", "stages" -> "count",
        "task_ms" -> "ms", "cpu_ms" -> "ms", "gc_ms" -> "ms", "busy_share" -> "share",
        "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes"
      ).foreach { case (k, u) => c.report.metric(s"sql.$name.$k", med(k), u) }
      accounting(c, in, name)
    }
    if (c.tracer.enabled) {
      val plan = routers.toMap.apply("route_uniform")(c, in)
      val nodes = planNodes(plan.queryExecution.executedPlan).map(_.getClass.getSimpleName)
      c.report.metric("plans.route_uniform.serde_ops",
        nodes.count(n => n == "DeserializeToObjectExec" || n == "SerializeFromObjectExec"), "count")
      // 0 while `routeStream` maps rows instead of planning the native
      // operator, so it is recorded for reading, not as a metric
      c.report.info("plans.route_uniform.assign_exec") = nodes.count(_ == "AssignPartitionsExec")
    }
  }

  /** Every physical operator, looking through adaptive wrappers and stages. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case q: QueryStageExec => planNodes(q.plan)
      case other => other +: other.children.flatMap(planNodes)
    }
  }

  /** One timed router call into the count sink, checked. */
  private def op(c: Ctx, in: Input, name: String, build: (Ctx, Input) => DataFrame,
      parent: Long): Map[String, Double] = {
    val opId = c.tracer.newOp(name)
    c.tracer.span(c.spark, name, "graft.sql", parent, opId) { _ =>
      val t0 = System.nanoTime()
      val sink = build(c, in).groupBy("bucket", "pt").count()
      val t1 = System.nanoTime()
      val rows = sink.collect()
      val t2 = System.nanoTime()
      val (skew, routed) = check(c, in, name, rows)
      val base = Map("wall_ms" -> (t2 - t0) / 1e6, "max_skew" -> skew.toDouble,
        "routed_share" -> routed.toDouble / in.n)
      if (!c.tracer.enabled) base
      else {
        val k = c.tracer.countsOf(opId)
        val plan = sink.queryExecution.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
        val execMs = (t2 - t1) / 1e6
        base ++ Map("build_ms" -> (t1 - t0) / 1e6, "plan_ms" -> plan.toDouble,
          "jobs" -> k.jobs.get.toDouble, "stages" -> k.stages.get.toDouble,
          "task_ms" -> k.taskMs.get.toDouble, "cpu_ms" -> k.cpuMs.get.toDouble,
          "gc_ms" -> k.gcMs.get.toDouble, "busy_share" -> k.taskMs.get / (execMs * c.cores),
          "shuffle_bytes" -> k.shuffleBytes.get.toDouble, "spill_bytes" -> k.spillBytes.get.toDouble)
      }
    }
  }

  /** Every routed row lands inside its bucket's partitions, each bucket
    * receives exactly its generated events, and partitions within a bucket
    * stay within the router's uniformity bound. Returns (max skew, routed). */
  private def check(c: Ctx, in: Input, name: String, rows: Array[Row]): (Long, Long) = {
    val layout = BucketLayout.layout(c.w.cfg, c.w.partitions).toMap
    val counts = rows.map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val stray = counts.keys.filterNot { case (b, p) => layout.get(b).exists(_.contains(p)) }
    var bad = stray.size.toLong
    var maxSkew = 0L
    c.w.cfg.buckets.zipWithIndex.foreach { case (b, bi) =>
      val perPart = layout(b).map(p => counts.getOrElse((b, p), 0L))
      if (perPart.sum != in.perBucket(bi)) bad += 1
      if (perPart.nonEmpty) maxSkew = math.max(maxSkew, perPart.max - perPart.min)
    }
    if (maxSkew > skewBound(name, in)) bad += 1
    c.report.ops(1, if (bad > 0) 1 else 0,
      s"$name: ${stray.size} stray partitions, skew $maxSkew, counts $counts")
    (maxSkew, counts.values.sum)
  }

  /** Without the discard step, routed plus unroutable equals offered. */
  private def accounting(c: Ctx, in: Input, name: String): Unit = {
    val kept = name match {
      case "route" => BucketRouting.route(in.df, c.w.cfg, c.w.partitions, col("key"), col("event_id"))
      case _ => PriorityStreams.routeStream(in.df, c.w.cfg, c.w.partitions, col("key"))
    }
    val r = kept.selectExpr("count(*)", "count_if(pt IS NULL OR pt = -1)").head()
    val routed = in.perBucket.sum
    val ok = r.getLong(0) == in.n && r.getLong(0) - r.getLong(1) == routed
    c.report.ops(1, if (ok) 0 else 1, s"$name accounting: total ${r.getLong(0)} of ${in.n}, " +
      s"unroutable ${r.getLong(1)}, expected routed $routed")
  }
}
