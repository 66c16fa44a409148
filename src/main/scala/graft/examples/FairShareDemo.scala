package graft.examples

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import graft.Session
import graft.core.BucketPriorityConfig
import graft.streaming.PriorityStreams.PriorityPools

/** Quantitative proof of the priority claim behind the FAIR-pool mapping:
  * with every bucket's pool under continuous load, a bucket's share of
  * executor task time tracks its allocation weight (the reference
  * README.md:17 "more partitions ⇒ more processing power" claim, realized
  * here as scheduler share instead of partition count — §2.3).
  *
  * Method: one driver thread per bucket loops small 8-task CPU jobs inside
  * that bucket's pool ([[PriorityPools.inBucketPool]]) for a fixed window;
  * a SparkListener attributes every task's executorRunTime to the pool of
  * its job. With demand saturated in all pools, FAIR scheduling hands each
  * pool ≈ weight/Σweights of the core-time. Assertions use generous slack
  * (this box is noisy) but fail on any real inversion of the priority
  * ordering.
  *
  * Run: sbt "runMain graft.examples.FairShareDemo"  (exits non-zero on a
  * violated share bound — it IS the test; a fresh JVM because FAIR mode and
  * the allocation file are context-creation-time configs).
  */
object FairShareDemo {
  def main(args: Array[String]): Unit = {
    val cfg = BucketPriorityConfig("events",
      Seq("purchase", "signup", "error", "click"), Seq(40, 30, 20, 10)).toOption.get
    val poolFile = PriorityPools.writeAllocationFile(
      cfg, System.getProperty("java.io.tmpdir"))

    val spark = Session.local("fair-share-demo", cores = 8, confs = Map(
      "spark.scheduler.mode" -> "FAIR",
      "spark.scheduler.allocation.file" -> poolFile.toString))

    val stageToPool = TrieMap.empty[Int, String]
    val poolTime = TrieMap.empty[String, Long]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val pool = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.scheduler.pool")))
          .getOrElse("default")
        js.stageIds.foreach(sid => stageToPool.put(sid, pool))
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val pool = stageToPool.getOrElse(te.stageId, "default")
        val t = Option(te.taskMetrics).map(_.executorRunTime).getOrElse(0L)
        poolTime.updateWith(pool)(v => Some(v.getOrElse(0L) + t))
      }
    })

    // one CPU-bound job of 48 short tasks on 8 cores: the deep task queue
    // keeps every pool's demand pending almost continuously, which is the
    // regime where the FAIR comparator allocates slots ∝ weight (8-task
    // jobs measured near-equal shares — queues drained between jobs and
    // scheduling degenerated to whoever-has-tasks)
    def burn(): Unit = spark.range(0, 2400000, 1, 48)
      .selectExpr("max(md5(cast(id AS string))) AS m").collect()
    burn() // warm codegen outside the measured window

    val deadline = System.nanoTime() + 6L * 1000 * 1000 * 1000
    val threads = cfg.buckets.map { b =>
      new Thread(() => {
        while (System.nanoTime() < deadline)
          PriorityPools.inBucketPool(spark, b)(burn())
      }, s"pool-$b")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    // drain straggler listener events before reading the totals — a timed
    // sleep can miss late onTaskEnd events on a loaded box and fail the
    // asserts below spuriously. waitUntilEmpty itself carries a 10 s
    // timeout; if even that elapses, proceed with what arrived (the old
    // sleep's behavior) rather than crash before measuring anything.
    try org.apache.spark.sql.graftbridge.Bridge.waitUntilListenerBusEmpty(spark)
    catch { case _: java.util.concurrent.TimeoutException => }

    val times = cfg.buckets.map(b => b -> poolTime.getOrElse(b, 0L)).toMap
    val total = times.values.sum.toDouble
    val shares = cfg.buckets.map(b => b -> times(b) / total).toMap
    val sharesStr = cfg.buckets.map(b => f""""$b":${shares(b)}%.3f""").mkString(",")
    println(s"""{"metric":"fair_share","window_sec":6,$sharesStr}""")

    assert(total > 0, "no task time recorded")
    // 40%-pool: at least ~weight-share with slack for scheduler granularity
    assert(shares("purchase") >= 0.28,
      f"purchase (weight 40) got ${shares("purchase")}%.3f < 0.28 of task time")
    // strict priority ordering between the extreme weights (40 vs 10)
    assert(times("purchase") > (times("click") * 1.3).toLong,
      s"no contention advantage: purchase=${times("purchase")}ms click=${times("click")}ms")
    println("fair-share assertions passed")
    spark.stop()
  }
}
