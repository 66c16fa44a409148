package graft.examples

import org.apache.spark.sql.functions._

import graft.Session
import graft.Tables
import graft.core.BucketPriorityConfig
import graft.sql.BucketRouting
import graft.streaming.PriorityStreams

/** End-to-end usage example: batch-prioritize the events table, then stream
  * the same flow through a file source with windowed per-bucket aggregation.
  *
  * Run: sbt "runMain graft.examples.PriorityPipelineDemo [sfDir]"
  */
object PriorityPipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")

    val cfg = BucketPriorityConfig("events",
      Seq("purchase", "signup", "error", "click"), Seq(40, 30, 20, 10)).toOption.get

    // FAIR scheduling is a context-creation-time choice: write the per-bucket
    // allocation file BEFORE building the session (§2.1 assign → pools)
    val poolFile = PriorityStreams.PriorityPools.writeAllocationFile(
      cfg, System.getProperty("java.io.tmpdir"))

    val spark = Session.local("priority-pipeline-demo", cores = 4, confs = Map(
      "spark.scheduler.mode" -> "FAIR",
      "spark.scheduler.allocation.file" -> poolFile.toString))

    // ---- batch: deterministic routing + discard + accounting ----
    val ev = Tables.load(spark, sfDir, "events")
    val key = concat(col("event_type"), lit("-"), col("event_id"))
    val routed = BucketRouting.route(ev, cfg, numPartitions = 10, key, col("event_id"))
    println("== batch: routed counts per bucket x partition ==")
    BucketRouting.discard(routed)
      .groupBy("bucket", "pt").count().orderBy("bucket", "pt").show(40)

    // ---- scale variant: shuffle-free routing ----
    println("== batch: routeUniform (per-task round-robin) skew check ==")
    BucketRouting.discard(BucketRouting.routeUniform(ev, cfg, 10, key))
      .groupBy("bucket").agg(
        countDistinct(col("pt")).as("partitions_used"),
        count(lit(1)).as("n"))
      .orderBy("bucket").show()

    // ---- streaming: file source -> routeStream -> windowed agg ----
    import spark.implicits._
    // the file stream source wants a directory: read sfDir with a glob, using
    // the RAW parquet schema (ts has shipped as both epoch-nanos int64 and
    // micros TIMESTAMP_NTZ across corpus generations), then normalize like
    // Tables.load does
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val streamRaw = spark.readStream
      .schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    val streamIn = rawSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        streamRaw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        streamRaw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => streamRaw
    }
    val streamRouted = PriorityStreams.routeStream(streamIn, cfg, 10, key)
    val windowed = PriorityStreams.bucketWindowAgg(
      streamRouted, cfg, key, "ts", windowDur = "6 hours", watermark = "1 hour")
    val q = windowed.writeStream.format("memory").queryName("demo_windows")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    println("== streaming: per-bucket 6h windows (append mode; closed windows) ==")
    spark.table("demo_windows").orderBy("w_start", "bucket").show(10)

    // ---- stateful: per-bucket backlog tracker ----
    val bucketEvents = BucketRouting.discard(routed)
      .select(col("bucket"), col("event_id"), unix_micros(col("ts")).as("tsMicros"))
      .as[(String, Long, Long)]
      .map { case (b, id, t) => PriorityStreams.BucketEvent(b, id, t) }
    println("== stateful: per-bucket backlog summary ==")
    PriorityStreams.backlogTracker(bucketEvents).orderBy("bucket").show()

    // ---- FAIR pools: the execution-time priority mapping ----
    println("== FAIR scheduler pools (weight = allocation), live on this context ==")
    cfg.buckets.foreach { b =>
      // run one job inside each bucket's pool; report the live pool weight
      PriorityStreams.PriorityPools.inBucketPool(spark, b) {
        BucketRouting.discard(routed).filter(col("bucket") === b).count()
      }
      val pool = spark.sparkContext.getPoolForName(b)
      println(s"pool=$b weight=${pool.map(_.weight).getOrElse(-1)} " +
        s"assign=${PriorityStreams.PriorityPools.assignJson(cfg, 10, b)}")
    }
    println(s"scheduling mode: ${spark.sparkContext.getSchedulingMode}")
    spark.stop()
  }
}
