package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. `op` groups every span of one operation (a router
  * call, a query, or a micro-batch); `parent` is the causing span's id, or
  * -1 when it is only known through `op` (jobs of a micro-batch). */
final case class Span(id: Long, parent: Long, name: String, layer: String, op: String,
    startNs: Long, endNs: Long)

/** Counters summed over every Spark task, job and stage of one operation. */
final class OpCounts {
  val jobs, stages, tasks = new AtomicLong
  val taskMs, cpuMs, gcMs, shuffleBytes, spillBytes, inputBytes, inputRows = new AtomicLong
}

/** One micro-batch progress report, as a plain record. */
final case class Progress(query: String, batchId: Long, startMs: Long, rows: Long,
    durations: Map[String, Long], stateRows: Long, stateBytes: Long, stateCommitMs: Long)

/** Spans and counts recorded from outside the engine: timers around each
  * public call, a SparkListener, a StreamingQueryListener and the query
  * tracker. Everything stays in memory until the run ends. Disabled, every
  * method is a cheap no-op apart from running the body. */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val nextId = new AtomicLong(0)
  private val nextOp = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]
  private val counts = new ConcurrentHashMap[String, OpCounts]
  val progress = new ConcurrentLinkedQueue[Progress]
  /** Task time and launch waits per (phase label, scheduler pool). */
  val poolTaskMs = new ConcurrentHashMap[(String, String), AtomicLong]
  val poolWaitMs = new ConcurrentHashMap[(String, String), ConcurrentLinkedQueue[Double]]
  val largeBinaries = new AtomicLong
  @volatile var phase: String = ""
  /** Parent span of micro-batch spans: the stream operation running them. */
  @volatile var batchParent: Long = -1

  /** nanoTime minus wall-clock nanos, to place listener epochs on the span clock. */
  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def countsOf(op: String): OpCounts = counts.computeIfAbsent(op, _ => new OpCounts)
  def newOp(prefix: String): String = s"$prefix-${nextOp.incrementAndGet()}"

  /** Time `body` as a span; inside it, Spark jobs carry `op` and this span's
    * id as local properties so the listener can attach them. */
  def span[T](spark: SparkSession, name: String, layer: String, parent: Long, op: String)
      (body: Long => T): T = {
    val id = nextId.incrementAndGet()
    if (!enabled) return body(id)
    val sc = spark.sparkContext
    val prevOp = sc.getLocalProperty(OpKey)
    val prevSpan = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(OpKey, op)
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = System.nanoTime()
    try body(id)
    finally {
      spans.add(Span(id, parent, name, layer, op, t0, System.nanoTime()))
      sc.setLocalProperty(OpKey, prevOp)
      sc.setLocalProperty(SpanKey, prevSpan)
    }
  }

  def addSpan(name: String, layer: String, parent: Long, op: String, startNs: Long, endNs: Long): Long = {
    val id = nextId.incrementAndGet()
    if (enabled) spans.add(Span(id, parent, name, layer, op, startNs, endNs))
    id
  }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new JobListener)
    spark.streams.addListener(new ProgressListener)
    LargeBinaryCounter.install(largeBinaries)
  }

  private def opOf(props: java.util.Properties): String =
    if (props == null) ""
    else Option(props.getProperty(OpKey)).getOrElse {
      val q = props.getProperty("sql.streaming.queryId")
      val b = props.getProperty("streaming.sql.batchId")
      if (q != null && b != null) s"${queryNames.getOrDefault(q, q)}#$b" else ""
    }

  private val queryNames = new ConcurrentHashMap[String, String]
  private val jobSpans = new ConcurrentHashMap[Int, (Long, Long, String, Long)]
  private val stageOp = new ConcurrentHashMap[Int, (String, Long)]
  private val stagePool = new ConcurrentHashMap[Int, String]
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]

  private final class JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(e.properties)
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .filter(_ => e.properties.getProperty(OpKey) != null).map(_.toLong).getOrElse(-1L)
      val id = nextId.incrementAndGet()
      jobSpans.put(e.jobId, (id, parent, op, e.time))
      e.stageIds.foreach(s => stageOp.put(s, (op, id)))
      if (op.nonEmpty) countsOf(op).jobs.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpans.remove(e.jobId)).foreach { case (id, parent, op, t0) =>
        spans.add(Span(id, parent, "job", "spark.job", op, t0 * 1000000L + epochToNano,
          e.time * 1000000L + epochToNano))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val pool = Option(e.properties).flatMap(p => Option(p.getProperty("spark.scheduler.pool")))
        .getOrElse("default")
      stagePool.put(e.stageInfo.stageId, pool)
      stageSubmitMs.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val pool = stagePool.getOrDefault(e.stageId, "default")
      val ph = phase
      val key = (ph, pool)
      val run = if (m == null) e.taskInfo.duration else m.executorRunTime
      poolTaskMs.computeIfAbsent(key, _ => new AtomicLong).addAndGet(run)
      val submit = stageSubmitMs.getOrDefault(e.stageId, e.taskInfo.launchTime)
      poolWaitMs.computeIfAbsent(key, _ => new ConcurrentLinkedQueue[Double])
        .add(math.max(0L, e.taskInfo.launchTime - submit).toDouble)
      Option(stageOp.get(e.stageId)).filter(_._1.nonEmpty).foreach { case (op, _) =>
        val c = countsOf(op)
        c.tasks.incrementAndGet()
        if (m != null) {
          c.taskMs.addAndGet(m.executorRunTime)
          c.cpuMs.addAndGet(m.executorCpuTime / 1000000L)
          c.gcMs.addAndGet(m.jvmGCTime)
          c.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
          c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
          c.inputRows.addAndGet(m.inputMetrics.recordsRead)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageOp.get(info.stageId)).foreach { case (op, jobSpan) =>
        if (op.nonEmpty) countsOf(op).stages.incrementAndGet()
        for (s <- info.submissionTime; c <- info.completionTime)
          addSpan(s"stage ${info.stageId}", "spark.stage", jobSpan, op,
            s * 1000000L + epochToNano, c * 1000000L + epochToNano)
      }
      stagePool.remove(info.stageId)
      stageSubmitMs.remove(info.stageId)
    }
  }

  private final class ProgressListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Option(e.name).foreach(n => queryNames.put(e.id.toString, n))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val st = p.stateOperators.headOption
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val name = Option(p.name).getOrElse(p.id.toString)
      progress.add(Progress(name, p.batchId, startMs, p.numInputRows, durations,
        st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
        st.map(_.commitTimeMs).getOrElse(0L)))
      if (p.numInputRows > 0) {
        val t0 = startMs * 1000000L + epochToNano
        addSpan("micro-batch", "graft.streaming", batchParent, s"$name#${p.batchId}",
          t0, t0 + durations.getOrElse("triggerExecution", 0L) * 1000000L)
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** All spans, with micro-batch jobs attached to their micro-batch span. */
  def allSpans: Seq[Span] = {
    val all = spans.asScala.toSeq
    val batchOf = all.filter(_.name == "micro-batch").map(s => s.op -> s.id).toMap
    all.map(s => if (s.parent < 0 && s.layer == "spark.job") s.copy(parent = batchOf.getOrElse(s.op, -1L)) else s)
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"

  /** Self time per layer: each span's duration minus the part of its
    * interval that its children cover (children may overlap each other). */
  def selfTimeMs(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val ivs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var curA = Long.MinValue
        var curB = Long.MinValue
        ivs.foreach { case (a, b) =>
          if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  def spanJson(s: Span): String =
    Report.json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
      "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}

/** Counts the DAGScheduler's "Broadcasting large task binary" warnings. */
object LargeBinaryCounter {
  def install(counter: AtomicLong): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-large-binaries", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.startsWith("Broadcasting large task binary"))
          counter.incrementAndGet()
    }
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
  }
}
