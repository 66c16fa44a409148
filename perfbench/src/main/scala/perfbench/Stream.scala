package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicIntegerArray
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.PriorityStreams
import graft.streaming.PriorityStreams.PriorityPools

/** The paper's workload: an open-loop generator offers keyed events on a
  * fixed schedule; `routeStream` → `toKafkaFrame` write them into a
  * partition-addressed broker stand-in; one consumer query per bucket reads
  * only its own partitions inside its FAIR pool, drops re-sent duplicates
  * with `dedupWithinWatermark`, and stamps each event's commit time.
  *
  * Two phases at fixed offered rates: `steady` below drain capacity, where
  * per-batch fixed cost decides latency, and `overload` above it, where
  * scheduler share and per-event cost decide who keeps up. */
object Stream {

  /** Each phase's p99 is taken per slice of this many equal due-time
    * windows, and the median of the slices is reported. */
  val P99Windows = 5

  /** The offered load, fixed before the clock starts.
    * Slot i is sent at `slotDue(i)` (µs after the stream starts) and
    * carries event `slotEvent(i)`: a new event, or a re-send of a recent
    * one. Events know their bucket (-1: unroutable), key and first due time.
    * The first `warmUs` run at the steady rate as untimed warm-up; `steady`
    * ends at `steadyEndUs` and `overload` at `endUs`. */
  final class Schedule(val slotDue: Array[Long], val slotEvent: Array[Int],
      val eventBucket: Array[Byte], val eventKey: Array[String], val eventDue: Array[Long],
      val warmUs: Long, val steadyEndUs: Long, val endUs: Long) {
    def events: Int = eventBucket.length
    def slots: Int = slotDue.length
    def phaseOf(dueUs: Long): String =
      if (dueUs < warmUs) "warm" else if (dueUs < steadyEndUs) "steady" else "overload"
  }

  def schedule(w: Workload, seed: Long, warmS: Double, steadyS: Double, overloadS: Double,
      steadyEps: Int = Workload.SteadyEps): Schedule = {
    val gen = new KeyGen(w, seed ^ 0x5eedL)
    val nSteady = (steadyEps * (warmS + steadyS)).toInt
    val nOver = (w.overloadEps * overloadS).toInt
    val steadyEndUs = ((warmS + steadyS) * 1e6).toLong
    val slotDue = Array.tabulate(nSteady + nOver) { i =>
      if (i < nSteady) (i * 1e6 / steadyEps).toLong
      else steadyEndUs + ((i - nSteady) * 1e6 / w.overloadEps).toLong
    }
    val slotEvent = new Array[Int](slotDue.length)
    val bucket = mutable.ArrayBuilder.make[Byte]
    val keys = mutable.ArrayBuilder.make[String]
    val due = mutable.ArrayBuilder.make[Long]
    var events = 0
    slotDue.indices.foreach { i =>
      if (events > 0 && gen.nextDouble() < Workload.DupShare)
        slotEvent(i) = math.max(0, events - 1 - gen.nextInt(256))
      else {
        val (b, key) = gen.next(events.toLong)
        bucket += b.toByte; keys += key; due += slotDue(i)
        slotEvent(i) = events
        events += 1
      }
    }
    new Schedule(slotDue, slotEvent, bucket.result(), keys.result(), due.result(),
      (warmS * 1e6).toLong, steadyEndUs, ((warmS + steadyS + overloadS) * 1e6).toLong)
  }

  /** One consumer commit: its bucket, when, and how many events it
    * committed for the first time. */
  final case class Batch(bucket: Int, atUs: Long, distinct: Int)

  /** Where and when each event was committed, filled by the consumer sinks. */
  final class Commits(n: Int) {
    val count = new AtomicIntegerArray(n)
    val at = new Array[Long](n)
    val by = Array.fill[Byte](n)(-1)
    val batches = new ConcurrentLinkedQueue[Batch]
    def record(ids: Array[Long], bucket: Int, nowUs: Long): Unit = {
      var distinct = 0
      ids.foreach { l =>
        val id = l.toInt
        if (count.incrementAndGet(id) == 1) { at(id) = nowUs; by(id) = bucket.toByte; distinct += 1 }
      }
      batches.add(Batch(bucket, nowUs, distinct))
    }
  }

  /** Distinct events committed in [from, to). Each commit's events are
    * spread evenly over the time since its consumer's previous commit, so
    * the figure does not jump by a whole batch as a batch boundary crosses
    * the window's edge. A consumer's first commit counts at its own time. */
  def committedIn(commits: Commits, from: Long, to: Long): Double =
    commits.batches.asScala.toSeq.groupBy(_.bucket).values.map { bs =>
      val byTime = bs.sortBy(_.atUs)
      byTime.zip(byTime.head.atUs +: byTime.map(_.atUs)).map { case (b, prev) =>
        if (b.atUs == prev) { if (b.atUs >= from && b.atUs < to) b.distinct.toDouble else 0.0 }
        else b.distinct * math.max(0L, math.min(b.atUs, to) - math.max(prev, from)).toDouble /
          (b.atUs - prev)
      }.sum
    }.sum

  /** Wall clock in µs on a monotonic base, shared by generator and sinks. */
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  /** `setupS`: starting the queries plus the untimed warm-up segment. */
  final case class Outcome(sched: Schedule, t0Us: Long, sentUs: Array[Long], commits: Commits,
      drained: Boolean, setupS: Double)

  /** Runs the whole schedule and drains it; returns what happened. */
  def drive(c: Ctx, sched: Schedule, drainS: Double, parent: Long): Outcome = {
    val start = nowUs()
    implicit val sql: SQLContext = c.spark.sqlContext
    import c.spark.implicits._
    val w = c.w
    val ckpt = c.outDir.resolve("stream-checkpoints")
    // numPartitions: without it a memory stream plans one task per addData
    // call, and an open-loop generator adds data every few milliseconds
    val broker = Array.fill(w.partitions)(MemoryStream[(Array[Byte], Array[Byte])](1))
    val input = MemoryStream[(String, Long, Long)](c.cores)
    val commits = new Commits(sched.events)

    val routed = PriorityStreams.routeStream(input.toDF().toDF("key", "event_id", "due_us"),
      w.cfg, w.partitions, col("key"), discardUnroutable = true)
    val frame = PriorityStreams.toKafkaFrame(routed, col("key"),
      concat_ws(",", col("event_id"), col("due_us")))
    val router = frame.writeStream.queryName("router")
      .option("checkpointLocation", ckpt.resolve("router").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().groupBy(_.getInt(2)).foreach { case (p, rows) =>
          broker(p).addData(rows.map(r => (r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1))).toSeq)
        }
      }.start()

    val consumers: Seq[StreamingQuery] = w.cfg.buckets.zipWithIndex.map { case (b, bi) =>
      val parts = partitionsOf(PriorityPools.assignJson(w.cfg, w.partitions, b))
      val src = parts.map(p => broker(p).toDF()).reduce(_ union _).toDF("key", "value")
      val fields = split(decode(col("value"), "UTF-8"), ",")
      val parsed = src.select(
        fields.getItem(0).cast("long").as("event_id"),
        fields.getItem(1).cast("long").as("due_us"))
        .withColumn("ts", timestamp_micros(col("due_us")))
      val deduped = PriorityStreams.dedupWithinWatermark(parsed, "ts", Seq("event_id"), "5 seconds")
      PriorityPools.inBucketPool(c.spark, b) {
        deduped.writeStream.queryName(s"consumer-$b")
          .option("checkpointLocation", ckpt.resolve(b).toString)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val ids = batch.select("event_id").as[Long].collect()
            commits.record(ids, bi, nowUs())
          }.start()
      }
    }

    val sentUs = new Array[Long](sched.slots)
    val t0Us = nowUs() + 200000L
    val gen = new Thread(() => generate(c, sched, input, t0Us, sentUs), "perfbench-generator")
    c.tracer.span(c.spark, "stream", "graft.streaming", parent, c.tracer.newOp("stream")) { id =>
      c.tracer.batchParent = id
      gen.start()
      gen.join()
      c.tracer.phase = "drain"
      val routable = sched.eventBucket.count(_ >= 0)
      val drainEnd = System.nanoTime() + (drainS * 1e9).toLong
      def done = (0 until sched.events).count(i => commits.count.get(i) > 0) >= routable
      while (!done && System.nanoTime() < drainEnd) Thread.sleep(50)
      // let in-flight micro-batches finish so late duplicates would show
      (router +: consumers).foreach(_.processAllAvailable())
      (router +: consumers).foreach(_.stop())
      Outcome(sched, t0Us, sentUs, commits, done, (t0Us + sched.warmUs - start) / 1e6)
    }
  }

  private def partitionsOf(assignJson: String): Seq[Int] =
    "\\[(.*)\\]".r.findFirstMatchIn(assignJson).map(_.group(1)).filter(_.nonEmpty)
      .map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Nil)

  /** Open loop: each slot is handed to the router when due, regardless of
    * how far behind the engine is; how late that happened is recorded. */
  private def generate(c: Ctx, s: Schedule, input: MemoryStream[(String, Long, Long)],
      t0Us: Long, sentUs: Array[Long]): Unit = {
    var i = 0
    val chunk = mutable.ArrayBuffer.empty[(String, Long, Long)]
    while (i < s.slots) {
      val wait = t0Us + s.slotDue(i) - nowUs()
      if (wait > 200) LockSupport.parkNanos(wait * 1000L)
      c.tracer.phase = s.phaseOf(s.slotDue(i))
      val now = nowUs()
      chunk.clear()
      val first = i
      while (i < s.slots && t0Us + s.slotDue(i) <= now && chunk.size < 20000) {
        val e = s.slotEvent(i)
        chunk += ((s.eventKey(e), e.toLong, t0Us + s.eventDue(e)))
        i += 1
      }
      if (chunk.nonEmpty) {
        input.addData(chunk.toSeq)
        val sent = nowUs()
        (first until i).foreach(j => sentUs(j) = sent)
      }
    }
  }

  /** Events not committed exactly once by their own bucket's consumer;
    * an unroutable event must never be committed. A re-sent duplicate that
    * got through shows as a second commit of its event. */
  def notExactlyOnce(s: Schedule, commits: Commits): Seq[Int] =
    (0 until s.events).filterNot { e =>
      val n = commits.count.get(e)
      if (s.eventBucket(e) < 0) n == 0 else n == 1 && commits.by(e) == s.eventBucket(e)
    }

  /** Exactly-once accounting, latencies, backlog and the stream metrics. */
  def evaluate(c: Ctx, o: Outcome): Unit = {
    val s = o.sched
    val w = c.w
    val hi = 0
    val lo = w.cfg.numBuckets - 1
    val bad = notExactlyOnce(s, o.commits)
    bad.take(3).foreach(e => c.report.fail(0, s"event $e key=${s.eventKey(e)} " +
      s"bucket=${s.eventBucket(e)} committed ${o.commits.count.get(e)} times by ${o.commits.by(e)}"))
    c.report.ops(s.events, bad.size, s"stream: ${bad.size} of ${s.events} events not committed " +
      s"exactly once by their own bucket (drained=${o.drained})")

    val phases = Seq("steady" -> (s.warmUs, s.steadyEndUs), "overload" -> (s.steadyEndUs, s.endUs))
    /** (due time, latency) of the committed events of `bucket` due in [from, to). */
    def latencies(bucket: Int, from: Long, to: Long): Seq[(Long, Double)] =
      (0 until s.events).iterator
        .filter(e => s.eventBucket(e) == bucket && s.eventDue(e) >= from && s.eventDue(e) < to &&
          o.commits.count.get(e) > 0)
        .map(e => s.eventDue(e) -> Stats.dueLatencyMs(o.t0Us + s.eventDue(e), o.commits.at(e))).toSeq
    phases.foreach { case (ph, (from, to)) =>
      val roles = if (ph == "steady") Seq("hi" -> hi, "lo" -> lo) else Seq("hi" -> hi)
      roles.foreach { case (role, b) =>
        val l = latencies(b, from, to)
        c.report.metric(s"$ph.${role}_p50_ms", Stats.median(l.map(_._2)), "ms")
        c.report.metric(s"$ph.${role}_p99_ms", Stats.windowedP99(l, from, to, P99Windows), "ms")
        c.report.info(s"$ph.${role}_p99_ms_whole_phase") = Stats.nearestRank(l.map(_._2), 99)
        c.report.info(s"$ph.${role}_samples") = l.size
        // the percentile the smallest slice backs with ten samples beyond it
        c.report.info(s"$ph.${role}_tail_percentile") = Stats.slices(l, from, to, P99Windows)
          .map(_.size).minOption.flatMap(Stats.tailPercentile(_)).getOrElse(0)
      }
    }
    // Gold's overload latency grows for as long as the phase lasts, so it is
    // recorded for reading beside Platinum's, not as a metric
    val loOverload = latencies(lo, s.steadyEndUs, s.endUs).map(_._2)
    c.report.info("overload.lo_p50_ms") = Stats.median(loOverload)
    c.report.info("overload.lo_p99_ms") = Stats.nearestRank(loOverload, 99)
    val (oFrom, oTo) = (o.t0Us + s.steadyEndUs, o.t0Us + s.endUs)
    c.report.metric("overload.committed_eps",
      committedIn(o.commits, oFrom, oTo) / ((oTo - oFrom) / 1e6), "1/s")

    // generator validity and backlog, reported with the layer metrics
    phases.foreach { case (ph, (from, to)) =>
      val slots = s.slotDue.indices.filter(i => s.slotDue(i) >= from && s.slotDue(i) < to)
      val late = slots.map(i => Stats.lateMs(o.t0Us + s.slotDue(i), o.sentUs(i)))
      c.report.metric(s"gen.$ph.late_ms_p99", Stats.nearestRank(late, 99), "ms")
      c.report.metric(s"gen.$ph.offered", slots.size.toDouble, "count")
      Seq("hi" -> hi, "lo" -> lo).foreach { case (role, b) =>
        val endAbs = o.t0Us + to
        val backlog = (0 until s.events).count { e =>
          s.eventBucket(e) == b && s.eventDue(e) < to &&
            !(o.commits.count.get(e) > 0 && o.commits.at(e) < endAbs)
        }
        c.report.metric(s"streaming.$ph.$role.backlog_end", backlog.toDouble, "count")
      }
    }
    val loOver = (0 until s.events).filter(e => s.eventBucket(e) == lo && s.eventDue(e) >= s.steadyEndUs)
    val loDrained = loOver.count(e => o.commits.count.get(e) > 0 && o.commits.at(e) < oTo)
    c.report.metric("streaming.overload.lo.drained_share",
      if (loOver.isEmpty) 1.0 else loDrained.toDouble / loOver.size, "share")

    if (c.tracer.enabled) layerMetrics(c, o)
  }

  /** Micro-batch phases, state store and FAIR pools, from the listeners. */
  private def layerMetrics(c: Ctx, o: Outcome): Unit = {
    val s = o.sched
    val w = c.w
    val roleQuery = Seq("router" -> "router", "hi" -> s"consumer-${w.hi}", "lo" -> s"consumer-${w.lo}")
    val prog = c.tracer.progress.asScala.toSeq.filter(_.rows > 0)
    val windows = Seq("steady" -> (o.t0Us + s.warmUs, o.t0Us + s.steadyEndUs),
      "overload" -> (o.t0Us + s.steadyEndUs, o.t0Us + s.endUs))
    for ((ph, (from, to)) <- windows; (role, q) <- roleQuery) {
      val ps = prog.filter(p => p.query == q && p.startMs * 1000 >= from && p.startMs * 1000 < to)
      val d = (k: String) => Stats.median(ps.map(_.durations.getOrElse(k, 0L).toDouble))
      val pre = s"streaming.$ph.$role"
      c.report.metric(s"$pre.batches", ps.size.toDouble, "count")
      c.report.metric(s"$pre.rows_per_batch_p50", Stats.median(ps.map(_.rows.toDouble)), "count")
      c.report.metric(s"$pre.planning_ms_p50", d("queryPlanning"), "ms")
      c.report.metric(s"$pre.addbatch_ms_p50", d("addBatch"), "ms")
      c.report.metric(s"$pre.commit_ms_p50", Stats.median(ps.map(p =>
        (p.durations.getOrElse("walCommit", 0L) + p.durations.getOrElse("commitOffsets", 0L)).toDouble)), "ms")
      c.report.metric(s"$pre.trigger_ms_p50", d("triggerExecution"), "ms")
    }
    Seq("hi" -> s"consumer-${w.hi}", "lo" -> s"consumer-${w.lo}").foreach { case (role, q) =>
      val ps = prog.filter(_.query == q).sortBy(_.batchId)
      c.report.metric(s"streaming.$role.state_rows", ps.lastOption.map(_.stateRows.toDouble).getOrElse(0.0), "count")
      c.report.metric(s"streaming.$role.state_bytes", ps.lastOption.map(_.stateBytes.toDouble).getOrElse(0.0), "bytes")
      c.report.metric(s"streaming.$role.state_commit_ms_p50", Stats.median(ps.map(_.stateCommitMs.toDouble)), "ms")
    }
    Seq("steady", "overload").foreach { ph =>
      val pools = Seq("default" -> "default", "hi" -> w.hi, "lo" -> w.lo)
      val total = c.tracer.poolTaskMs.asScala.collect { case ((p, _), v) if p == ph => v.get }.sum
      pools.foreach { case (role, pool) =>
        val ms = Option(c.tracer.poolTaskMs.get((ph, pool))).map(_.get).getOrElse(0L)
        val waits = Option(c.tracer.poolWaitMs.get((ph, pool))).map(_.asScala.toSeq).getOrElse(Nil)
        c.report.metric(s"streaming.pools.$ph.$role.task_ms", ms.toDouble, "ms")
        c.report.metric(s"streaming.pools.$ph.$role.wait_ms_mean",
          if (waits.isEmpty) 0.0 else waits.sum / waits.size, "ms")
      }
      val hiMs = Option(c.tracer.poolTaskMs.get((ph, w.hi))).map(_.get).getOrElse(0L)
      c.report.metric(s"streaming.pools.$ph.hi_share", if (total == 0) 0.0 else hiMs.toDouble / total, "share")
    }
  }
}
