package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.streaming.PriorityStreams.PriorityPools

/** One benchmark run: set up every stage, then time the producer path, the
  * query suite and the two-phase priority stream, in that order, and write
  * a report (and, traced, the span file) under `--out`.
  *
  * {{{
  * perfbench.Main --workload quickstart --seed 1 --seconds 20 --trace 0 \
  *   --out <dir> --corpus <parquet dir>
  * }}}
  */
object Main {

  /** Shares of `--seconds` per timed stage; the suite runs whole passes. */
  val ProduceShare = 0.28
  val SteadyShare = 0.3
  val OverloadShare = 0.3
  val SuitePasses = 5
  /** Untimed suite passes in set-up: the first timed pass after a single
    * warm pass still ran about twice as slow as the later ones. */
  val SuiteWarmPasses = 2
  val ProduceWarmOps = 3
  val WarmSeconds = 1.0
  val DrainSeconds = 40.0
  private val RunSpan = -10L
  private val WorkloadSpan = -11L
  private val ProduceSpan = -12L
  private val StreamSpan = -13L
  private val SuiteSpan = -14L

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val w = Workload.byName(opt("workload")).getOrElse(sys.error(s"unknown workload ${opt("workload")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val out = Paths.get(opt("out")).toAbsolutePath
    val corpus = Paths.get(opt("corpus")).toAbsolutePath.toString
    Files.createDirectories(out)
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = session(w, out, cores)
    log(f"session up at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val report = new Report
    val tracer = new Tracer(traced)
    tracer.install(spark)
    val c = new Ctx(spark, tracer, report, w, seed, out, cores)
    report.info ++= Seq("workload" -> w.name, "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced, "cores" -> cores, "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"))

    val runStart = System.nanoTime()
    // set-up: inputs, schedule, and warm passes over every timed path
    tracer.phase = "setup"
    // The suite's warm passes and the routing input and warm-up are
    // independent, so they run side by side. Routing keeps speeding up over
    // its first calls as the JIT compiles its paths, so it is called until
    // the suite is warm too, and at least a few times.
    val names = Suite.Names
    val warmSuite = new Thread(() => Suite.warm(c, names, corpus, SuiteWarmPasses),
      "perfbench-suite-warm")
    warmSuite.start()
    val produceIn = Produce.setup(c)
    Produce.run(new Ctx(spark, new Tracer(false), new Report, w, seed, out, cores), produceIn,
      ProduceWarmOps, -1)(warmSuite.isAlive)
    warmSuite.join()
    log(f"routing and suite warm at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val sched = Stream.schedule(w, seed, WarmSeconds, seconds * SteadyShare, seconds * OverloadShare)
    val setupS = (System.nanoTime() - t0) / 1e9
    log(f"set-up done in $setupS%.1f s")

    // run → workload → phase spans have fixed ids so operations can name
    // their phase as parent before the phase's interval is known
    // The stream runs last: it leaves garbage and background threads behind
    // that would otherwise land on the next stage's clock.
    val workloadStart = System.nanoTime()
    tracer.phase = "produce"
    val p0 = System.nanoTime()
    val jp0 = jvmMs()
    val produceEnd = p0 + (seconds * ProduceShare * 1e9).toLong
    Produce.run(c, produceIn, 2, ProduceSpan)(System.nanoTime() < produceEnd)
    val p1 = System.nanoTime()
    val jp1 = jvmMs()
    log(f"produce done in ${(p1 - p0) / 1e9}%.1f s")
    tracer.phase = "query_suite"
    System.gc()
    val q0 = System.nanoTime()
    val jq0 = jvmMs()
    Suite.run(c, names, corpus, SuitePasses, SuiteSpan)
    val q1 = System.nanoTime()
    val jq1 = jvmMs()
    log(f"query_suite done in ${(q1 - q0) / 1e9}%.1f s")
    System.gc()
    val s0 = System.nanoTime()
    val js0 = jvmMs()
    val outcome = Stream.drive(c, sched, DrainSeconds, StreamSpan)
    val s1 = System.nanoTime()
    val js1 = jvmMs()
    log(f"priority_stream done in ${(s1 - s0) / 1e9}%.1f s (drained: ${outcome.drained})")
    Stream.evaluate(c, outcome)
    report.metric("setup_s", setupS + outcome.setupS, "s")
    spark.stop()

    if (traced) {
      val spans = tracer.allSpans ++ Seq(
        Span(RunSpan, -1, "run", "run", "", runStart, s1),
        Span(WorkloadSpan, RunSpan, w.name, "workload", "", workloadStart, s1),
        Span(ProduceSpan, WorkloadSpan, "produce", "phase", "", p0, p1),
        Span(StreamSpan, WorkloadSpan, "priority_stream", "phase", "", s0, s1),
        Span(SuiteSpan, WorkloadSpan, "query_suite", "phase", "", q0, q1))
      Files.write(out.resolve("spans.jsonl"), spans.map(Tracer.spanJson).mkString("", "\n", "\n").getBytes)
      report.info("self_ms_by_layer") = Tracer.selfTimeMs(spans)
      report.info("span_count") = spans.size
    }
    report.info("timed_s") = Map("produce" -> (p1 - p0) / 1e9, "priority_stream" -> (s1 - s0) / 1e9,
      "query_suite" -> (q1 - q0) / 1e9)
    // JVM garbage collection and JIT compilation time per timed stage, so a
    // run whose figures moved with them labels itself
    Seq("gc_ms" -> ((j: (Long, Long)) => j._1), "jit_ms" -> ((j: (Long, Long)) => j._2)).foreach {
      case (k, f) => report.info(s"jvm_$k") = Map("produce" -> (f(jp1) - f(jp0)),
        "query_suite" -> (f(jq1) - f(jq0)), "priority_stream" -> (f(js1) - f(js0)))
    }
    Files.writeString(out.resolve("report.json"), report.toJson)
    // every timed query, with null for one that has no oracle SQL
    Files.writeString(out.resolve("results").resolve("oracle_sql.json"),
      Report.json(names.map(n => n -> graft.SparkEntry.oracleSql.get(n).orNull).toMap))
  }

  /** Total JVM garbage-collection and JIT-compilation milliseconds so far. */
  private def jvmMs(): (Long, Long) = {
    import java.lang.management.ManagementFactory
    (ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime)
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def session(w: Workload, out: Path, cores: Int): SparkSession = {
    val pools = PriorityPools.writeAllocationFile(w.cfg, out.toString)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", pools.toString)
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
