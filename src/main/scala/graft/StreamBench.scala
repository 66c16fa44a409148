package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.BucketPriorityConfig
import graft.sql.BucketRouting
import graft.streaming.PriorityStreams

/** Routing-throughput measurement: the reference's hot path is one O(1)
  * partition() call per record on a Kafka client thread; this engine's
  * equivalent is routeUniform inside a micro-batch. Reports routed
  * events/second for (a) a large batch and (b) a rate-source stream.
  *
  * Run: sbt "runMain graft.StreamBench"   (prints one JSON line)
  */
object StreamBench {

  /** foreachBatch RE-RUNS its function on a batch retry (same batchId);
    * the legs below accumulate into driver vars/maps, so a retry would
    * double-count and spuriously fail the exactness asserts. Each leg
    * guards its body with its own instance: the body runs exactly once
    * per batchId (batchIds restart at 0 per query, hence per-leg). */
  private final class OncePerBatch {
    private val seen =
      java.util.concurrent.ConcurrentHashMap.newKeySet[java.lang.Long]()
    def apply(batchId: Long)(body: => Unit): Unit =
      if (seen.add(batchId)) body
  }

  def main(args: Array[String]): Unit = {
    val cpus = Session.defaultCores
    val spark = Session.local("graft-stream-bench", cpus,
      // bucketed-table leg target (in-memory catalog; keep it off the repo)
      Map("spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString))

    val cfg = BucketPriorityConfig("events",
      Seq("purchase", "signup", "error", "click"), Seq(40, 30, 20, 10)).toOption.get

    // one key scheme for all three workloads (batch, stream, routed write):
    // 4 routable event types + unroutable "view", each exactly 1/5 of ids
    def keyedFrom(id: org.apache.spark.sql.Column) = concat(
      element_at(
        array(lit("purchase"), lit("signup"), lit("error"), lit("click"), lit("view")),
        (pmod(id, lit(5)) + 1).cast("int")),
      lit("-"), id).as("key")

    // ---- batch: 20M synthetic keyed rows through routeUniform ----
    val rows = 20_000_000L
    val batch = spark.range(rows).select(keyedFrom(col("id")))
    batch.count() // materialize the input plan once (warm)
    val t0 = System.nanoTime()
    val routedCount = BucketRouting.discard(
      BucketRouting.routeUniform(batch, cfg, 10, col("key"))).count()
    val batchSecs = (System.nanoTime() - t0) / 1e9
    val batchRps = routedCount / batchSecs

    // A/B: the same routing as a first-class physical operator
    // (AssignPartitionsExec over UnsafeRows — no Row encoder round-trip)
    val n0 = System.nanoTime()
    val nativeCount = BucketRouting.discard(
      BucketRouting.routeUniformNative(batch, cfg, 10, col("key"))).count()
    val nativeSecs = (System.nanoTime() - n0) / 1e9
    val nativeRps = nativeCount / nativeSecs
    assert(nativeCount == routedCount,
      s"native router count $nativeCount != mapPartitions $routedCount")

    // ---- streaming: rate source through routeStream ----
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", "2000000")
      .option("numPartitions", cpus).load()
    val keyed = rate.select(keyedFrom(col("value")))
    val routed = PriorityStreams.routeStream(keyed, cfg, 10, col("key"), discardUnroutable = true)
    @volatile var streamed = 0L
    val onceRoute = new OncePerBatch
    val q = routed.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, bid: Long) =>
        onceRoute(bid) { streamed += b.count() }; ()
      }
      .trigger(Trigger.ProcessingTime("1 second")).start()
    val s0 = System.nanoTime()
    Thread.sleep(15000)
    q.stop()
    val streamSecs = (System.nanoTime() - s0) / 1e9
    val streamRps = streamed / streamSecs

    // ---- routed write e2e: route -> partitioned parquet sink ----
    // The file-system twin of the Kafka partitioned-topic write (toKafkaFrame
    // carries `partition`; a file sink expresses the same layout as pt=N
    // directories). Timed end-to-end, then the per-partition counts are
    // checked against bucket_layout proportions — each of the 4 routable
    // event types is exactly 1/5 of the input, so bucket b's rows must land
    // ONLY in b's partitions, evenly (routeUniform round-robin, skew ≤ tasks).
    val writeRows = 5_000_000L
    val writeIn = spark.range(writeRows).select(keyedFrom(col("id")))
    val sink = java.nio.file.Files.createTempDirectory("graft-routed-sink").toString
    val w0 = System.nanoTime()
    BucketRouting.discard(BucketRouting.routeUniform(writeIn, cfg, 10, col("key")))
      .write.mode("overwrite").partitionBy("pt").parquet(sink)
    val writeSecs = (System.nanoTime() - w0) / 1e9
    val written = writeRows / 5 * 4 // "view" is unroutable and discarded
    val writeRps = written / writeSecs
    val counts = spark.read.parquet(sink).groupBy("pt").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val lay = graft.core.BucketLayout.layout(cfg, 10).toMap
    val inTasks = spark.sparkContext.defaultParallelism
    cfg.buckets.foreach { b =>
      val parts = lay(b)
      // getOrElse: an empty partition must fail the layout ASSERT below
      // (the regression this check exists for), not a map lookup
      val perPart = parts.map(p => counts.getOrElse(p, 0L))
      assert(perPart.sum == writeRows / 5, s"$b total ${perPart.sum} != ${writeRows / 5}")
      val expected = writeRows / 5.0 / parts.size
      perPart.foreach(c => assert(math.abs(c - expected) <= inTasks,
        s"$b per-partition counts $perPart drifted from $expected (> $inTasks)"))
    }

    // ---- state scale: backlogTrackerTws over 1M distinct keys (RocksDB) ----
    // Evidence the §2.3 stateful row holds beyond toy key counts: 2M events
    // over 1,000,000 distinct keys (each key updated twice, so the
    // read-modify-write path is exercised, not just inserts) through the
    // transformWithState tracker on the RocksDB state store provider.
    val StateKeys = 1_000_000
    val stateEvents = 2L * StateKeys
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val (stateSecs, stateRowsTotal) = try {
      import spark.implicits._
      // file-backed stream (a MemoryStream java-serializes each 500k-row
      // block to every task — driver-heap-bound; files are the honest
      // at-scale source anyway): ids 0..2M-1, key = id mod 1M, so each
      // key's two events land ~1M ids apart → different files → different
      // micro-batches → the read-modify-write path, not just inserts
      val srcDir = java.nio.file.Files.createTempDirectory("graft-tws-src").toString
      spark.range(stateEvents).select(
        format_string("k%07d", pmod(col("id"), lit(StateKeys))).as("bucket"),
        col("id").as("eventId"),
        col("id").as("tsMicros"))
        .repartitionByRange(8, col("eventId"))
        .write.mode("overwrite").parquet(srcDir)
      val events = spark.readStream
        .schema("bucket STRING, eventId BIGINT, tsMicros BIGINT")
        .option("maxFilesPerTrigger", "2")
        .parquet(srcDir)
        .as[PriorityStreams.BucketEvent]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-tws-bench").toString
      @volatile var emitted = 0L
      val once = new OncePerBatch
      val st0 = System.nanoTime()
      val sq = PriorityStreams.backlogTrackerTws(events)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[PriorityStreams.BucketBacklog], bid: Long) =>
          once(bid) { emitted += b.count() }; ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(Trigger.AvailableNow()).start()
      sq.awaitTermination()
      val secs = (System.nanoTime() - st0) / 1e9
      val rowsTotal = sq.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal))
        .foldLeft(0L)(math.max)
      // update-mode emits one row per (key, batch-with-that-key): at least
      // one per key, at most one per event
      assert(emitted >= StateKeys && emitted <= stateEvents,
        s"tws emitted $emitted outside [$StateKeys, $stateEvents]")
      assert(rowsTotal == StateKeys, s"state rows $rowsTotal != $StateKeys keys")
      (secs, rowsTotal)
    } finally prevProvider match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val stateRps = stateEvents / stateSecs

    // ---- funnel state machine over 1M users (RocksDB, added r5) ----------
    // The per-user streaming funnel at production key counts: 3M events =
    // 1M users × (click → signup → purchase). Files are partitioned BY USER
    // (a file stream's batch order is not id-ordered, and the funnel's
    // strict-ordering semantics drop steps that arrive before their
    // predecessor — the documented watermark trade-off), so each user's
    // events share a batch and the processor's in-batch event-time sort
    // makes every conversion land; cross-batch state read-modify-write is
    // the tws leg's job. Checks are exact: every event advances its user
    // (3M advancement rows), final state = 1M keys.
    val FunnelUsers = 1_000_000L
    val funnelEvents = 3L * FunnelUsers
    // capture OUR OWN previous provider: relying on the tws leg's
    // already-restored `prevProvider` would silently break if the legs are
    // reordered or the tws leg's restore changes
    val prevProvider2 = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val (funnelSecs, funnelStateKeys, funnelAdvances) = try {
      import spark.implicits._
      val srcDir = java.nio.file.Files.createTempDirectory("graft-funnel-src").toString
      spark.range(funnelEvents).select(
        pmod(col("id"), lit(FunnelUsers)).as("userId"),
        element_at(array(lit("click"), lit("signup"), lit("purchase")),
          expr(s"int(id div $FunnelUsers)") + 1).as("eventType"),
        timestamp_micros(col("id")).as("ts"))
        .repartition(8, col("userId"))
        .write.mode("overwrite").parquet(srcDir)
      val events = spark.readStream
        .schema("userId BIGINT, eventType STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "2")
        .parquet(srcDir)
        .as[PriorityStreams.FunnelEvent]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-funnel-bench").toString
      @volatile var advances = 0L
      val once = new OncePerBatch
      val f0 = System.nanoTime()
      val fq = PriorityStreams.funnelStream(events)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[PriorityStreams.FunnelAdvance], bid: Long) =>
          once(bid) { advances += b.count() }; ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(Trigger.AvailableNow()).start()
      fq.awaitTermination()
      val secs = (System.nanoTime() - f0) / 1e9
      val keys = fq.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal))
        .foldLeft(0L)(math.max)
      assert(advances == funnelEvents,
        s"funnel advances $advances != $funnelEvents (every event must advance its user)")
      assert(keys == FunnelUsers, s"funnel state keys $keys != $FunnelUsers")
      (secs, keys, advances)
    } finally prevProvider2 match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val funnelRps = funnelEvents / funnelSecs

    // ---- SCD-2 materializer over 1M entities (RocksDB, added r6) ---------
    // The CDC state machine at production key counts: 2M events = 1M users
    // × 2 observations with distinct values, files partitioned BY USER like
    // the funnel leg (each user's history shares a batch; cross-batch
    // read-modify-write is exercised by the tws leg). Every event is a
    // change, so the emission count is exact: open + (close + open) = 3
    // rows per user.
    val Scd2Users = 1_000_000L
    val scd2Events = 2L * Scd2Users
    val prevProvider3 = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val (scd2Secs, scd2StateKeys, scd2Rows) = try {
      import spark.implicits._
      val srcDir = java.nio.file.Files.createTempDirectory("graft-scd2-src").toString
      spark.range(scd2Events).select(
        pmod(col("id"), lit(Scd2Users)).as("userId"),
        col("id").as("eventId"),
        timestamp_micros(col("id")).as("ts"),
        expr(s"CAST(1 + id div $Scd2Users AS DOUBLE)").as("value"))
        .repartition(8, col("userId"))
        .write.mode("overwrite").parquet(srcDir)
      val events = spark.readStream
        .schema("userId BIGINT, eventId BIGINT, ts TIMESTAMP, value DOUBLE")
        .option("maxFilesPerTrigger", "2")
        .parquet(srcDir)
        .as[PriorityStreams.Scd2Event]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-scd2-bench").toString
      @volatile var rows = 0L
      val once = new OncePerBatch
      val t0 = System.nanoTime()
      val q = PriorityStreams.scd2Stream(events)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[PriorityStreams.Scd2Row], bid: Long) =>
          once(bid) { rows += b.count() }; ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      val keys = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(rows == 3L * Scd2Users,
        s"scd2 emissions $rows != ${3L * Scd2Users} (open + close+open per user)")
      assert(keys == Scd2Users, s"scd2 state keys $keys != $Scd2Users")
      (secs, keys, rows)
    } finally prevProvider3 match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val scd2Rps = scd2Events / scd2Secs

    // ---- streaming Markov transition extraction: stateful throughput ------
    // transitionStream over 3M events across 1,000,000 RocksDB-backed users
    // (3 typed events per user in event-time order). Emission accounting is
    // exact by construction: every user contributes exactly 2 transitions
    // (e0→e1, e1→e2), so 2M output rows and 1M state keys or the leg fails.
    // State is ONE row per user regardless of history length — the
    // operator's scale contract.
    val TransUsers = 1_000_000L
    val transEvents = 3L * TransUsers
    val prevProviderT = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val (transSecs, transStateKeys, transRows) = try {
      import spark.implicits._
      val srcDir = java.nio.file.Files.createTempDirectory("graft-trans-src").toString
      spark.range(transEvents).select(
        pmod(col("id"), lit(TransUsers)).as("userId"),
        col("id").as("eventId"),
        timestamp_micros(col("id")).as("ts"),
        concat(lit("e"), (col("id") / lit(TransUsers)).cast("long")).as("eventType"))
        .repartition(8, col("userId"))
        .write.mode("overwrite").parquet(srcDir)
      val events = spark.readStream
        .schema("userId BIGINT, eventId BIGINT, ts TIMESTAMP, eventType STRING")
        .option("maxFilesPerTrigger", "2")
        .parquet(srcDir)
        .as[PriorityStreams.TransEvent]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-trans-bench").toString
      @volatile var rows = 0L
      val once = new OncePerBatch
      val t0 = System.nanoTime()
      val q = PriorityStreams.transitionStream(events)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[PriorityStreams.Transition], bid: Long) =>
          once(bid) { rows += b.count() }; ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      val keys = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(rows == 2L * TransUsers,
        s"transition emissions $rows != ${2L * TransUsers} (2 per user)")
      assert(keys == TransUsers, s"transition state keys $keys != $TransUsers")
      (secs, keys, rows)
    } finally prevProviderT match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val transRps = transEvents / transSecs

    // ---- streaming chained debounce: stateful throughput -------------------
    // debounceStream over 3M events across 1,000,000 RocksDB-backed
    // (user, type) keys — three events per user at engineered offsets
    // (+0, +100 µs, +400 s against the 300 s gap) so the chained verdicts
    // are exact by construction: keep, drop, keep ⇒ 3M decisions, 2M
    // kept, 1M state keys or the leg fails. State is ONE long per key
    // regardless of history length — the operator's scale contract.
    val DebUsers = 1_000_000L
    val debEvents = 3L * DebUsers
    val prevProviderD = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val (debSecs, debStateKeys, debRows, debKept) = try {
      import spark.implicits._
      val srcDir = java.nio.file.Files.createTempDirectory("graft-deb-src").toString
      spark.range(debEvents).select(
        pmod(col("id"), lit(DebUsers)).as("userId"),
        col("id").as("eventId"),
        expr(s"""timestamp_micros(pmod(id, $DebUsers) * 10 +
                |  CASE CAST(id div $DebUsers AS INT)
                |       WHEN 0 THEN 0 WHEN 1 THEN 100 ELSE 400000000 END)""".stripMargin)
          .as("ts"),
        lit("e").as("eventType"))
        .repartition(8, col("userId"))
        .write.mode("overwrite").parquet(srcDir)
      val events = spark.readStream
        .schema("userId BIGINT, eventId BIGINT, ts TIMESTAMP, eventType STRING")
        .option("maxFilesPerTrigger", "2")
        .parquet(srcDir)
        .as[PriorityStreams.DebounceEvent]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-deb-bench").toString
      @volatile var rows = 0L
      @volatile var kept = 0L
      val once = new OncePerBatch
      val t0 = System.nanoTime()
      val q = PriorityStreams.debounceStream(events, 300000000L)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[PriorityStreams.DebounceDecision], bid: Long) =>
          // ONE action per batch: a second action re-executes the stateful
          // operator against the store (numRowsTotal doubles and the work
          // is done twice) — count kept and total in the same pass
          once(bid) {
            val m = b.groupBy("kept").count().collect()
              .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
            kept += m.getOrElse(true, 0L); rows += m.values.sum
          }; ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      val keys = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(rows == debEvents, s"debounce decisions $rows != $debEvents")
      assert(kept == 2L * DebUsers,
        s"debounce kept $kept != ${2L * DebUsers} (keep, drop, keep per user)")
      assert(keys == DebUsers, s"debounce state keys $keys != $DebUsers")
      (secs, keys, rows, kept)
    } finally prevProviderD match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val debRps = debEvents / debSecs

    // ---- streaming packer accounting: stateful throughput ------------------
    // packStream over 3M docs across 750,000 RocksDB-backed (source, blk)
    // keys — doc i carries source s(i mod 50) and 10 tokens, so each key
    // receives EXACTLY 4 docs (the 200-doc block × 50 interleaved sources)
    // and its final accounting is closed-form: 4 docs, 40 tokens, 1 pack of
    // 256, 216 padding. The driver folds every batch's emissions into a
    // last-write-wins map keyed by (source, blk) and asserts all 750k final
    // rows against the closed form — exact, like the other legs. State is
    // TWO longs per key regardless of doc count — the operator's contract.
    val PackDocs = 3_000_000L // → 15000 blocks × 50 sources = 750,000 keys
    val prevProviderP = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val (packSecs, packStateKeys, packRows) = try {
      import spark.implicits._
      val srcDir = java.nio.file.Files.createTempDirectory("graft-pack-src").toString
      spark.range(PackDocs).select(
        concat(lit("s"), pmod(col("id"), lit(50L))).as("source"),
        col("id").as("docId"),
        lit(10L).as("nTokens"))
        .repartition(8, col("source"), expr("id div 200"))
        .write.mode("overwrite").parquet(srcDir)
      val docs = spark.readStream
        .schema("source STRING, docId BIGINT, nTokens BIGINT")
        .option("maxFilesPerTrigger", "2")
        .parquet(srcDir)
        .as[PriorityStreams.PackDoc]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-pack-bench").toString
      val finals = new java.util.concurrent.ConcurrentHashMap[(String, Long), (Long, Long, Long, Long)]()
      @volatile var rows = 0L
      val once = new OncePerBatch
      val t0 = System.nanoTime()
      val q = PriorityStreams.packStream(docs, 256L)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[PriorityStreams.PackStat], bid: Long) =>
          once(bid) {
            val got = b.collect() // ≤ touched keys per batch
            rows += got.length
            got.foreach(p => finals.put((p.source, p.blk),
              (p.nDocs, p.nTokens, p.nPacks, p.nPadding)))
          }; ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      val keys = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(keys == 750000L, s"pack state keys $keys != 750000")
      assert(finals.size == 750000, s"pack final rows ${finals.size} != 750000")
      val it = finals.values().iterator()
      while (it.hasNext) {
        val v = it.next()
        assert(v == ((4L, 40L, 1L, 216L)), s"pack final accounting $v != (4, 40, 1, 216)")
      }
      (secs, keys, rows)
    } finally prevProviderP match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val packRps = PackDocs / packSecs

    // ---- streaming activity streaks: stateful throughput -------------------
    // islandsStream over 3M user-day observations across 1,000,000
    // RocksDB-backed user keys — three day files (epoch days D, D+1, D+2,
    // one file per day so the funnel ordering contract holds across
    // batches), every user active every day, so each user's final open
    // streak is the closed form (start D, end D+2, len 3) and NO streak
    // ever closes. The driver folds last-write-wins per user and asserts
    // all 1M finals + zero closed emissions + 1M state keys. State is two
    // epoch-day longs per user regardless of history length.
    val IslUsers = 1_000_000L
    val IslDay0 = 20000L
    val prevProviderI = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val (islSecs, islStateKeys, islRows, islClosed) = try {
      import spark.implicits._
      val srcDir = java.nio.file.Files.createTempDirectory("graft-isl-src").toString
      (0 until 3).foreach { d =>
        spark.range(IslUsers).select(
          col("id").as("userId"), lit(IslDay0 + d).as("epochDay"))
          .coalesce(4)
          .write.mode("append").parquet(srcDir)
      }
      val days = spark.readStream
        .schema("userId BIGINT, epochDay BIGINT")
        .option("maxFilesPerTrigger", "4")
        .option("latestFirst", "false")
        .parquet(srcDir)
        .as[PriorityStreams.DayEvent]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-isl-bench").toString
      val finals = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long, Long)]()
      @volatile var rows = 0L
      val once = new OncePerBatch
      @volatile var closed = 0L
      val t0 = System.nanoTime()
      val q = PriorityStreams.islandsStream(days)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[PriorityStreams.StreakRow], bid: Long) =>
          once(bid) {
            val got = b.collect()
            rows += got.length
            closed += got.count(_.closed)
            got.filter(!_.closed).foreach(r =>
              finals.put(r.userId, (r.startDay, r.endDay, r.lenDays)))
          }; ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      val keys = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(keys == IslUsers, s"islands state keys $keys != $IslUsers")
      assert(finals.size == IslUsers, s"islands finals ${finals.size} != $IslUsers")
      assert(closed == 0L, s"islands closed $closed != 0 (no gaps in the feed)")
      val it = finals.values().iterator()
      while (it.hasNext) {
        val v = it.next()
        assert(v == ((IslDay0, IslDay0 + 2, 3L)),
          s"islands final streak $v != ($IslDay0, ${IslDay0 + 2}, 3)")
      }
      (secs, keys, rows, closed)
    } finally prevProviderI match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val islRps = (3L * IslUsers) / islSecs

    // ---- streaming lifecycle accounting: stateful throughput ---------------
    // lifecycleStream over 3M user-week observations across 1,000,000
    // RocksDB-backed user keys (r10, verdict item 7 — the one nontrivial
    // twin without a measured leg). Closed-form week pattern per user:
    // weeks {W, W+7, W+21} — so every user emits EXACTLY new@W,
    // retained@W+7, churned@W+7 (the 14-day gap proves it in-stream), and
    // resurrected@W+21: 4M emissions, 1M each per state, 1M state keys, or
    // the leg fails. All three weeks of a user share a file (repartition
    // by userId) so the in-batch sort owns the ordering contract. State is
    // ONE long per user regardless of history length.
    val LifeUsers = 1_000_000L
    val LifeW0 = 20006L
    val lifeEvents = 3L * LifeUsers
    val prevProviderL = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val (lifeSecs, lifeStateKeys, lifeRows) = try {
      import spark.implicits._
      val srcDir = java.nio.file.Files.createTempDirectory("graft-life-src").toString
      spark.range(lifeEvents).select(
        pmod(col("id"), lit(LifeUsers)).as("userId"),
        expr(s"""$LifeW0 + CASE CAST(id div $LifeUsers AS INT)
                |  WHEN 0 THEN 0 WHEN 1 THEN 7 ELSE 21 END""".stripMargin)
          .cast("long").as("weekDay"))
        .repartition(8, col("userId"))
        .write.mode("overwrite").parquet(srcDir)
      val weeks = spark.readStream
        .schema("userId BIGINT, weekDay BIGINT")
        .option("maxFilesPerTrigger", "2")
        .parquet(srcDir)
        .as[PriorityStreams.WeekEvent]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-life-bench").toString
      val counts = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
      @volatile var rows = 0L
      val once = new OncePerBatch
      val t0 = System.nanoTime()
      val q = PriorityStreams.lifecycleStream(weeks)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[PriorityStreams.LifecycleRow], bid: Long) =>
          // ONE action per batch (the debounce-leg discipline): fold the
          // per-state counts in a single pass
          once(bid) {
            val m = b.groupBy("state").count().collect()
              .map(r => r.getString(0) -> r.getLong(1))
            m.foreach { case (s, n) =>
              counts.merge(s, n, (a, x) => a + x); rows += n }
          }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      val keys = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(keys == LifeUsers, s"lifecycle state keys $keys != $LifeUsers")
      assert(rows == 4L * LifeUsers, s"lifecycle emissions $rows != ${4L * LifeUsers}")
      Seq("new", "retained", "churned", "resurrected").foreach { s =>
        val n: Long = Option(counts.get(s)).map(_.longValue).getOrElse(0L)
        assert(n == LifeUsers, s"lifecycle $s count $n != $LifeUsers")
      }
      (secs, keys, rows)
    } finally prevProviderL match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val lifeRps = lifeEvents / lifeSecs

    // ---- streaming DAU stickiness: stateful throughput (r11) ---------------
    // stickinessStream over 3M user-day observations across 1,000,000
    // RocksDB-backed user keys (r10 verdict: the r10 twins lacked measured
    // legs). Closed-form day pattern per user: days {D, D+1, D+3} — so every
    // user emits exactly (D, returning=false), (D+1, returning=true),
    // (D+3, returning=false): 3M emissions of which exactly 1M returning,
    // 1M state keys, or the leg fails. All three days of a user share a
    // file (repartition by userId) so the in-batch sort owns ordering.
    // State is ONE long per user.
    val StickUsers = 1_000_000L
    val StickD0 = 20006L
    val stickEvents = 3L * StickUsers
    val prevProviderS = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val (stickSecs, stickStateKeys, stickRows, stickReturning) = try {
      import spark.implicits._
      val srcDir = java.nio.file.Files.createTempDirectory("graft-stick-src").toString
      spark.range(stickEvents).select(
        pmod(col("id"), lit(StickUsers)).as("userId"),
        expr(s"""$StickD0 + CASE CAST(id div $StickUsers AS INT)
                |  WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 3 END""".stripMargin)
          .cast("long").as("epochDay"))
        .repartition(8, col("userId"))
        .write.mode("overwrite").parquet(srcDir)
      val days = spark.readStream
        .schema("userId BIGINT, epochDay BIGINT")
        .option("maxFilesPerTrigger", "2")
        .parquet(srcDir)
        .as[PriorityStreams.DayEvent]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-stick-bench").toString
      @volatile var rows = 0L
      val once = new OncePerBatch
      @volatile var returning = 0L
      val t0 = System.nanoTime()
      val q = PriorityStreams.stickinessStream(days)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[PriorityStreams.StickRow], bid: Long) =>
          // ONE action per batch: fold the returning split in a single pass
          once(bid) {
            b.groupBy("returning").count().collect().foreach { r =>
              rows += r.getLong(1)
              if (r.getBoolean(0)) returning += r.getLong(1)
            }
          }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      val keys = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(keys == StickUsers, s"stickiness state keys $keys != $StickUsers")
      assert(rows == stickEvents, s"stickiness emissions $rows != $stickEvents")
      assert(returning == StickUsers,
        s"stickiness returning $returning != $StickUsers (exactly day D+1 per user)")
      (secs, keys, rows, returning)
    } finally prevProviderS match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val stickRps = stickEvents / stickSecs

    // ---- streaming Page-Hinkley drift: stateful throughput (r11) -----------
    // pageHinkleyStream over 12.8M (type, day, count) observations — 64
    // event types × 200k days each. The key space is deliberately SMALL
    // (state is per monitored series; that is the operator's 100 TB shape:
    // state scales with series count, never events), so this leg measures
    // the per-key sequential recursion throughput, not key fan-out. Every
    // type carries the same deterministic volume series
    // x_i = 100 + (i² mod 37); a driver-side replay of the PH recursion is
    // the ground truth — each type's emission count, max excursion, and
    // alarm-day count must equal the replay exactly, or the leg fails.
    // Each type's full series shares a file (repartition by eventType) so
    // the in-batch sort owns ordering.
    val PhTypes = 64
    val PhDays = 200_000
    val PhD0 = 19000L
    val phEvents = PhTypes.toLong * PhDays
    val (phReplayMaxExc, phReplayAlarms) = {
      var t = 0L; var s = 0L; var ph = 0L
      var runmin = Long.MaxValue; var maxExc = 0L; var alarms = 0L
      var i = 0
      while (i < PhDays) {
        val x = 100L + (i.toLong * i.toLong) % 37L
        t += 1; s += x
        ph += x * 1000000L - (s * 1000000L) / t
        runmin = math.min(runmin, ph)
        val exc = ph - runmin
        if (exc > 50000000L) alarms += 1
        if (exc > maxExc) maxExc = exc
        i += 1
      }
      (maxExc, alarms)
    }
    val prevProviderPh = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val (phSecs, phStateKeys, phRows) = try {
      import spark.implicits._
      val srcDir = java.nio.file.Files.createTempDirectory("graft-ph-src").toString
      spark.range(phEvents).select(
        concat(lit("t"), pmod(col("id"), lit(PhTypes)).cast("string")).as("eventType"),
        (lit(PhD0) + expr(s"id div $PhTypes")).cast("long").as("epochDay"),
        expr(s"100L + ((id div $PhTypes) * (id div $PhTypes)) % 37L").as("c"))
        .repartition(8, col("eventType"))
        .write.mode("overwrite").parquet(srcDir)
      val days = spark.readStream
        .schema("eventType STRING, epochDay BIGINT, c BIGINT")
        .option("maxFilesPerTrigger", "2")
        .parquet(srcDir)
        .as[PriorityStreams.DayCount]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ph-bench").toString
      val acc = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Long)]()
      val once = new OncePerBatch
      val t0 = System.nanoTime()
      val q = PriorityStreams.pageHinkleyStream(days)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[PriorityStreams.PhRow], bid: Long) =>
          // ONE action per batch: per-type (rows, maxExc, alarms)
          once(bid) {
            b.groupBy("eventType")
              .agg(count(lit(1)).as("n"), max(col("exc6")).as("mx"),
                sum(when(col("alarm"), 1L).otherwise(0L)).as("al"))
              .collect().foreach { r =>
                acc.merge(r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3)),
                  (a, x) => (a._1 + x._1, math.max(a._2, x._2), a._3 + x._3))
              }
          }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      val keys = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(keys == PhTypes.toLong, s"PH state keys $keys != $PhTypes")
      assert(acc.size == PhTypes, s"PH types seen ${acc.size} != $PhTypes")
      var rows = 0L
      acc.asScala.foreach { case (tn, (n, mx, al)) =>
        rows += n
        assert(n == PhDays.toLong, s"PH $tn emissions $n != $PhDays")
        assert(mx == phReplayMaxExc, s"PH $tn max excursion $mx != replay $phReplayMaxExc")
        assert(al == phReplayAlarms, s"PH $tn alarms $al != replay $phReplayAlarms")
      }
      (secs, keys, rows)
    } finally prevProviderPh match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val phRps = phEvents / phSecs

    // ---- streaming lifecycle with event-time timers: throughput (r11) ------
    // lifecycleTimerStream over 2M user-week observations across 1,000,000
    // RocksDB-backed user keys, PLUS the timer flush path under load: every
    // user gets weeks {W, W+7} and then goes silent, so the terminal
    // `churned` row can ONLY come from the event-time timer firing when the
    // watermark (advanced by a later-mtime sentinel file) passes week+14 —
    // 1M timers must fire, or the leg fails. Expected emissions per user:
    // new@W, retained@W+7, churned@W+7 (timer) — 3M rows, 0 resurrected.
    // Ordering is pinned by THREE sequential queries on one checkpoint
    // (main data, sentinel, trailing sentinel duplicate to force the
    // post-watermark microbatch — the CheckpointRecoverySpec sentinel
    // discipline at bench scale). The watermark delay is 8 DAYS, not the
    // spec's 0 seconds: the corpus spans weeks W and W+7 across
    // micro-batches in no guaranteed order, so a 0-second watermark
    // late-drops every week-W row after the first batch that saw W+7
    // (measured: 2/3 of the corpus silently dropped when first tried).
    // 8 days covers the 7-day in-flight disorder; the W+70 sentinel still
    // pushes the watermark to W+62, past every user's W+21 deadline. The
    // restart between queries also proves checkpoint recovery across a
    // timer arming at 1M-key scale.
    val LtUsers = 1_000_000L
    val LtW0 = 20006L
    val ltEvents = 2L * LtUsers
    val dayMs2 = 86400L
    val prevProviderLt = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val (ltSecs, ltStateKeys, ltCounts) = try {
      import spark.implicits._
      val srcDir = java.nio.file.Files.createTempDirectory("graft-lt-src").toString
      spark.range(ltEvents).select(
        pmod(col("id"), lit(LtUsers)).as("userId"),
        (lit(LtW0) + when(col("id") < LtUsers, 0L).otherwise(7L)).as("weekDay"))
        .withColumn("ts", timestamp_seconds(col("weekDay") * dayMs2))
        .repartition(6, col("userId"))
        .write.mode("overwrite").parquet(srcDir)
      def appendSentinel(): Unit =
        Seq((-1L, LtW0 + 70L)).toDF("userId", "weekDay")
          .withColumn("ts", timestamp_seconds(col("weekDay") * dayMs2))
          .coalesce(1).write.mode("append").parquet(srcDir)
      val ckpt = java.nio.file.Files.createTempDirectory("graft-lt-bench").toString
      val counts = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
      @volatile var lastKeys = 0L
      val once = new OncePerBatch
      def runOnce(): Unit = {
        val weeks = spark.readStream
          .schema("userId BIGINT, weekDay BIGINT, ts TIMESTAMP")
          .option("maxFilesPerTrigger", "2")
          .parquet(srcDir)
          .withWatermark("ts", "8 days")
          .as[PriorityStreams.TimedWeekEvent]
        val q = PriorityStreams.lifecycleTimerStream(weeks)
          .writeStream
          .foreachBatch { (b: org.apache.spark.sql.Dataset[PriorityStreams.LifecycleRow], bid: Long) =>
            // ONE action per batch; the sentinel user's rows are excluded
            once(bid) {
              b.filter(col("userId") =!= -1L).groupBy("state").count().collect()
                .foreach(r => counts.merge(r.getString(0), r.getLong(1), (a, x) => a + x))
            }
            ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // numRowsTotal includes the timer/latch column families alongside
        // the value state on this operator — pin the floor, not the exact sum
        Option(q.lastProgress).foreach(p =>
          lastKeys = p.stateOperators.map(_.numRowsTotal).sum)
      }
      val t0 = System.nanoTime()
      runOnce()               // all main data; watermark ends at W+7
      appendSentinel(); runOnce() // watermark -> W+70 at batch end
      appendSentinel(); runOnce() // timers fire against that watermark
      val secs = (System.nanoTime() - t0) / 1e9
      val keys = lastKeys
      assert(keys >= LtUsers, s"lifecycle-timer state keys $keys < $LtUsers")
      def c(s: String): Long = Option(counts.get(s)).map(_.longValue).getOrElse(0L)
      assert(c("new") == LtUsers, s"lifecycle-timer new ${c("new")} != $LtUsers")
      assert(c("retained") == LtUsers, s"lifecycle-timer retained ${c("retained")} != $LtUsers")
      assert(c("churned") == LtUsers,
        s"lifecycle-timer churned ${c("churned")} != $LtUsers (1M timers must fire)")
      assert(c("resurrected") == 0L, s"lifecycle-timer resurrected ${c("resurrected")} != 0")
      (secs, keys, counts.values.asScala.map(_.longValue).sum)
    } finally prevProviderLt match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val ltRps = ltEvents / ltSecs

    // ---- streaming HLL sketch: stateful throughput (r11) -------------------
    // hllStream over 5M item observations across 100,000 RocksDB-backed
    // sketch keys (50 items each, duplicated ids across batches exercise
    // the max-merge idempotence). Ground truth is a driver-side register
    // replay for three sampled keys (md5 math is exact, the R11BatchSpec
    // algebra); globally every key must emit in exactly ONE batch (keys
    // share a file via repartition) and state is 100k register blobs.
    val HllKeys = 100_000L
    val hllEvents = 50L * HllKeys
    val prevProviderH = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val (hllSecs, hllStateKeys, hllRows) = try {
      import spark.implicits._
      val srcDir = java.nio.file.Files.createTempDirectory("graft-hll-src").toString
      spark.range(hllEvents).select(
        format_string("g%06d", pmod(col("id"), lit(HllKeys))).as("groupKey"),
        // 50 distinct items per key (duplicate-idempotence is the twin
        // spec's job; this leg measures register-update throughput)
        expr(s"pmod(id, $HllKeys) * 1000000L + id div $HllKeys").as("itemId"))
        .repartition(8, col("groupKey"))
        .write.mode("overwrite").parquet(srcDir)
      val items = spark.readStream
        .schema("groupKey STRING, itemId BIGINT")
        .option("maxFilesPerTrigger", "2")
        .parquet(srcDir)
        .as[PriorityStreams.HllItem]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-hll-bench").toString
      val acc = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Double)]()
      @volatile var rows = 0L
      val once = new OncePerBatch
      val t0 = System.nanoTime()
      val q = PriorityStreams.hllStream(items)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[PriorityStreams.HllRow], bid: Long) =>
          // one count + one 3-key filter per batch
          once(bid) {
            rows += b.count()
            b.filter(col("groupKey").isin("g000000", "g012345", "g099999"))
              .collect().foreach(r =>
                acc.put(r.groupKey, (r.nBucketsUsed, r.vZero, r.hllEst)))
          }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      // numRowsTotal counts 2 rows/key on this operator (value-state +
      // internal column family) — pin the floor, like the timer leg; the
      // EXACT per-key claim is the emission count + sampled replays below
      val keys = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(keys >= HllKeys, s"hll state keys $keys < $HllKeys")
      assert(rows == HllKeys, s"hll emissions $rows != $HllKeys (one batch per key)")
      // driver replay of the sampled keys (distinct items 0..49 per key)
      val md = java.security.MessageDigest.getInstance("MD5")
      Seq("g000000", "g012345", "g099999").foreach { k =>
        val base = k.drop(1).toLong * 1000000L
        val regs = new Array[Int](64)
        (0L until 50L).map(base + _).foreach { item =>
          val h = md.digest(s"hll:$item".getBytes("UTF-8")).map("%02x".format(_)).mkString
          val b = Integer.parseInt(h.substring(0, 2), 16) / 4
          val sfx = h.substring(2, 17)
          val zs = sfx.takeWhile(_ == '0').length
          val rho =
            if (zs >= 15) 61
            else {
              val cv = Integer.parseInt(sfx.charAt(zs).toString, 16)
              zs * 4 + (if (cv >= 8) 0 else if (cv >= 4) 1 else if (cv >= 2) 2 else 3) + 1
            }
          regs(b) = math.max(regs(b), rho)
        }
        val present = regs.count(_ > 0)
        val v = 64L - present
        val s62 = regs.map(x => if (x > 0) BigInt(1) << (62 - x) else BigInt(1) << 62).sum
        val raw = ((0.709 * 4096.0) * 4611686018427387904.0) / s62.toDouble
        val est =
          if (raw <= 160.0 && v > 0)
            (64.0 * graft.queries.LnGrid.ln6Ref(64, math.max(v, 1L)).toDouble) / 1000000.0
          else raw
        val got = acc.get(k)
        assert(got != null, s"hll sampled key $k never emitted")
        assert(got == ((present.toLong, v, est)), s"hll $k register replay: $got")
      }
      (secs, keys, rows)
    } finally prevProviderH match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val hllRps = hllEvents / hllSecs

    // ---- streaming PII release gate: stateful throughput (r13) -------------
    // piiStream over 2M synthetic events across 5 types: the map-only
    // shared regex chain (5 regex extracts + 4 replaces + the Luhn fold
    // per row since r14's card/IP classes) dominates — this leg measures
    // the LIVE gate's scan-speed claim. user_id cycles 0..10⁶ so every
    // %3/%5/%7/%9/%11/%13 span branch is exercised. Exactness: the
    // final per-type stream rows must equal the BATCH pii_audit aggregate
    // over the same generated frame, field for field (classification is
    // deterministic, counting is associative — any mismatch is a bug).
    val PiiEvents = 2_000_000L
    val prevProviderPii = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val (piiSecs, piiStateKeys, piiRowsClean) = try {
      val srcDir = java.nio.file.Files.createTempDirectory("graft-pii-src").toString
      spark.range(PiiEvents).select(
          col("id").as("event_id"),
          pmod(col("id") * 7919L, lit(1_000_000L)).as("user_id"),
          format_string("p%d q%d", pmod(col("id"), lit(97L)),
            pmod(col("id"), lit(13L))).as("props"),
          format_string("t%d", pmod(col("id"), lit(5L))).as("event_type"))
        .repartition(8)
        .write.mode("overwrite").parquet(srcDir)
      val events = spark.readStream
        .schema("event_id BIGINT, user_id BIGINT, props STRING, event_type STRING")
        .option("maxFilesPerTrigger", "2")
        .parquet(srcDir)
      val ckpt = java.nio.file.Files.createTempDirectory("graft-pii-bench").toString
      val fin = new java.util.concurrent.ConcurrentHashMap[String, PriorityStreams.PiiCountRow]()
      val once = new OncePerBatch
      val t0 = System.nanoTime()
      val q = PriorityStreams.piiStream(events)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[PriorityStreams.PiiCountRow], bid: Long) =>
          once(bid) {
            // running rows are nRows-monotone: keep the largest per type
            b.collect().foreach { r =>
              fin.merge(r.eventType, r,
                (a, x) => if (x.nRows > a.nRows) x else a)
            }
          }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      val keys = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(keys >= 5, s"pii state keys $keys < 5")
      // batch replay over the same frame — the stream's final accounting
      // must reproduce it exactly
      val batch = graft.queries.PrivacyQueries
        .piiClassified(spark.read.parquet(srcDir))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("ne") > 0, 1L).otherwise(0L)).as("re"),
          sum(when(col("np") > 0, 1L).otherwise(0L)).as("rp"),
          sum(when(col("nu") > 0, 1L).otherwise(0L)).as("ru"),
          sum(when(col("nc") > 0, 1L).otherwise(0L)).as("rca"),
          sum(when(col("ni") > 0, 1L).otherwise(0L)).as("ri"),
          sum(col("ne")).as("se"), sum(col("np")).as("sp"),
          sum(col("nu")).as("su"), sum(col("nc")).as("sc"),
          sum(col("ni")).as("si"), sum(col("nd")).as("sd"),
          sum(when(col("ne") === 0 && col("np") === 0 && col("nu") === 0
            && col("nc") === 0 && col("ni") === 0
            && col("nd") === 0, 1L).otherwise(0L)).as("rc"))
        .collect()
      assert(batch.length == fin.size, "pii type count")
      batch.foreach { r =>
        val g = fin.get(r.getString(0))
        assert(g != null, s"pii type ${r.getString(0)} never emitted")
        val want = PriorityStreams.PiiCountRow(r.getString(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getLong(7), r.getLong(8), r.getLong(9), r.getLong(10),
          r.getLong(11), r.getLong(12), r.getLong(13))
        assert(g == want, s"pii ${r.getString(0)}: stream $g != batch $want")
      }
      val totalRows = fin.values().toArray.map(_.asInstanceOf[PriorityStreams.PiiCountRow].nRows).sum
      assert(totalRows == PiiEvents, s"pii rows $totalRows != $PiiEvents")
      import scala.jdk.CollectionConverters._
      (secs, keys, fin.values().asScala.map(_.rowsClean).sum)
    } finally prevProviderPii match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val piiRps = PiiEvents / piiSecs

    // ---- streaming drift monitor: declarative windowed agg throughput -----
    // driftStream over 10M events spread across 200 six-hour windows and 8
    // event types. Update mode with an effectively-infinite watermark: file
    // micro-batches arrive in arbitrary window order, so nothing may be
    // declared late — every batch upserts its touched windows and the LAST
    // upsert per window must carry the exact final counts (asserted below
    // against the closed-form totals). State is one row per window (200) —
    // the operator's whole point at 100 TB: state scales with open windows,
    // never with events.
    val DriftEvents = 10_000_000L
    val DriftWindows = 200L
    val driftTypes = (0 until 8).map(t => s"t$t")
    // uniform 1/8 reference on LnGrid's integer 1e-6 grid; the bench
    // asserts exact COUNTS (the stateful-window contract), not drift
    // values, so the grid value of ln(1/8) just needs to be a valid Long
    val driftRef = {
      import spark.implicits._
      val one = graft.queries.LnGrid.withLn6(
        Seq((1L, 8L)).toDF("a", "b"), col("a"), col("b"), "l6")
        .head().getLong(2)
      driftTypes.map(_ -> one).toMap
    }
    val (driftSecs, driftFinal) = {
      val srcDir = java.nio.file.Files.createTempDirectory("graft-drift-src").toString
      // window id cycles fastest so every file touches every window
      spark.range(DriftEvents).select(
        timestamp_micros(pmod(col("id"), lit(DriftWindows)) * lit(21600000000L)
          + (col("id") % 21600L) * lit(1000000L)).as("ts"),
        concat(lit("t"), pmod(col("id"), lit(8)).cast("string")).as("event_type"))
        .repartition(8)
        .write.mode("overwrite").parquet(srcDir)
      val events = spark.readStream
        .schema("ts TIMESTAMP, event_type STRING")
        .option("maxFilesPerTrigger", "2")
        .parquet(srcDir)
      val ckpt = java.nio.file.Files.createTempDirectory("graft-drift-bench").toString
      val last = new java.util.concurrent.ConcurrentHashMap[java.sql.Timestamp, (Long, Long)]()
      val t0 = System.nanoTime()
      val q = PriorityStreams.driftStream(
          events, "ts", "event_type", "6 hours", driftRef, watermark = "3650 days")
        .writeStream
        .outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach { r =>
            last.put(r.getTimestamp(0), (r.getLong(1), r.getLong(2)))
          }; ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ((System.nanoTime() - t0) / 1e9, last)
    }
    assert(driftFinal.size == DriftWindows,
      s"drift windows ${driftFinal.size} != $DriftWindows")
    val driftTotals = driftFinal.values.asScala.toSeq
    assert(driftTotals.map(_._1).sum == DriftEvents,
      s"drift n_events sum ${driftTotals.map(_._1).sum} != $DriftEvents")
    assert(driftTotals.forall(_._2 == 0L), "drift n_other != 0")
    val driftRps = DriftEvents / driftSecs

    // ---- streaming anomaly monitor: windowed agg vs broadcast reference ----
    // anomalyStream over the same 10M-event corpus, daily windows, update
    // mode with the infinite-watermark upsert discipline of the drift leg.
    // The generator ties type ≡ id mod 8 and window ≡ id mod 200 with
    // 8 | 200, so each six-hour window holds ONE type and each day's four
    // windows hold types {0–3} (even days) or {4–7} (odd days): exactly
    // 200 (type, day) rows of exactly 50 000 events. Reference stats are
    // closed-form: t0–t3 get mean 48 000 with n²σ² = 9e6 (dev = 2e4,
    // dev² = 4e8 > 8.1e7 ⇒ EVERY appearance anomalous, z = 20/3), t4–t7
    // get mean 50 000 (dev = 0 ⇒ never anomalous). The leg asserts the
    // exact 200-row verdict table — throughput with correctness, like
    // every other leg.
    val anomRef = (0 until 8).map { t =>
      val ss = if (t < 4) 480000L else 500000L
      s"t$t" -> ((10L, ss, (ss * ss + 9000000L) / 10L))
    }.toMap
    val (anomSecs, anomFinal) = {
      val srcDir = java.nio.file.Files.createTempDirectory("graft-anom-src").toString
      spark.range(DriftEvents).select(
        timestamp_micros(pmod(col("id"), lit(DriftWindows)) * lit(21600000000L)
          + (col("id") % 21600L) * lit(1000000L)).as("ts"),
        concat(lit("t"), pmod(col("id"), lit(8)).cast("string")).as("event_type"))
        .repartition(8)
        .write.mode("overwrite").parquet(srcDir)
      val events = spark.readStream
        .schema("ts TIMESTAMP, event_type STRING")
        .option("maxFilesPerTrigger", "2")
        .parquet(srcDir)
      val ckpt = java.nio.file.Files.createTempDirectory("graft-anom-bench").toString
      val last = new java.util.concurrent.ConcurrentHashMap[(String, java.sql.Timestamp), (Long, Double, Int)]()
      val t0 = System.nanoTime()
      val q = PriorityStreams.anomalyStream(
          events, "ts", "event_type", anomRef, windowDur = "1 day",
          watermark = "3650 days")
        .writeStream
        .outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach { r =>
            last.put((r.getString(0), r.getTimestamp(1)),
              (r.getLong(2), r.getDouble(3), r.getInt(4)))
          }; ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ((System.nanoTime() - t0) / 1e9, last)
    }
    assert(anomFinal.size == 200, s"anomaly rows ${anomFinal.size} != 200 (type, day) pairs")
    anomFinal.asScala.foreach { case ((t, w), (c, z, flag)) =>
      assert(c == 50000L, s"$t@$w count $c != 50000")
      val hot = t.stripPrefix("t").toInt < 4
      val day = w.toInstant.getEpochSecond / 86400
      assert((day % 2 == 0) == hot, s"$t@$w on the wrong day parity")
      assert(flag == (if (hot) 1 else 0), s"$t@$w flag $flag wrong")
      assert(if (hot) math.abs(z - 20.0 / 3.0) < 1e-12 else z == 0.0, s"$t@$w z $z wrong")
    }
    val anomRps = DriftEvents / anomSecs

    // ---- skew mitigation A/B/C: 90%-hot-key join, plain vs salted vs AQE ----
    // 10M-row fact with 90% of rows on key 0 joined to a 100k-row dim, with
    // broadcast DISABLED so the join is a real shuffle (at 100 TB the dim
    // outgrows broadcast; this measures the reducer-skew story, which a
    // broadcast would simply hide). Plain SMJ pins the hot key's 9M rows on
    // one reducer; SkewUtils.saltedJoin spreads them over 32; AQE's skew
    // join splits the hot partition at runtime (thresholds lowered so the
    // optimization actually fires at bench scale).
    val factRows = 10_000_000L
    val fact = spark.range(factRows).select(
      when(pmod(col("id"), lit(10)) < 9, 0L).otherwise(pmod(col("id"), lit(100000))).as("key"),
      col("id").as("v"))
    val dim = spark.range(100000).select(col("id").as("key"), (col("id") * 2).as("payload"))
    fact.count(); dim.count() // warm input plans
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevSkew = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
    def timedJoin(skewJoin: Boolean, salted: Boolean): (Double, Long) = {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewJoin.toString)
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      try {
        val joined =
          if (salted) graft.sql.SkewUtils.saltedJoin(fact, dim, "key", 32)
          else fact.join(dim, "key")
        val t = System.nanoTime()
        val n = joined.count()
        ((System.nanoTime() - t) / 1e9, n)
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prevSkew)
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      }
    }
    val (plainSecs, plainN) = timedJoin(skewJoin = false, salted = false)
    val (saltedSecs, saltedN) = timedJoin(skewJoin = false, salted = true)
    val (aqeSecs, aqeN) = timedJoin(skewJoin = true, salted = false)
    assert(plainN == factRows && saltedN == factRows && aqeN == factRows,
      s"skew join counts diverged: plain=$plainN salted=$saltedN aqe=$aqeN")
    assert(saltedSecs < plainSecs,
      f"salted join ($saltedSecs%.1fs) must beat the skew-pinned plain join ($plainSecs%.1fs)")

    // ---- bucketed co-located join A/B (added r5) ----
    // The storage-layer shuffle-elimination story: both sides written
    // pre-hashed into 32 buckets on the join key, so every later join on
    // that key reads co-located buckets and plans with ZERO shuffle
    // exchange — the write pays the shuffle once, every downstream join
    // skips it. At 100 TB this is the difference between re-shuffling the
    // fact table per query and never shuffling it again. 20M-row fact ⋈
    // 2M-row dim with broadcast disabled (at scale the dim outgrows
    // broadcast; that regime is what bucketing exists for).
    val bjFactRows = 20_000_000L
    val bjFact = spark.range(bjFactRows)
      .select(pmod(col("id"), lit(2_000_000L)).as("k"), col("id").as("v"))
    val bjDim = spark.range(2_000_000L).select(col("id").as("k2"), (col("id") * 3).as("w"))
    val bjDir = java.nio.file.Files.createTempDirectory("graft-bj").toString
    bjFact.write.mode("overwrite").parquet(s"$bjDir/fact")
    bjDim.write.mode("overwrite").parquet(s"$bjDir/dim")
    val bw0 = System.nanoTime()
    bjFact.write.bucketBy(32, "k").sortBy("k").mode("overwrite").saveAsTable("bench_fact_b")
    bjDim.write.bucketBy(32, "k2").sortBy("k2").mode("overwrite").saveAsTable("bench_dim_b")
    val bucketedWriteSecs = (System.nanoTime() - bw0) / 1e9
    val (bjPlainSecs, bjBucketedSecs) = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p0 = System.nanoTime()
      val nPlain = spark.read.parquet(s"$bjDir/fact")
        .join(spark.read.parquet(s"$bjDir/dim"), col("k") === col("k2")).count()
      val pSecs = (System.nanoTime() - p0) / 1e9
      val bucketedJoin = spark.table("bench_fact_b")
        .join(spark.table("bench_dim_b"), col("k") === col("k2"))
      val bjPlan = bucketedJoin.queryExecution.executedPlan.toString
      assert(!bjPlan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle either side:\n$bjPlan")
      val b0 = System.nanoTime()
      val nBucketed = bucketedJoin.count()
      val bSecs = (System.nanoTime() - b0) / 1e9
      assert(nPlain == bjFactRows && nBucketed == bjFactRows,
        s"bucketed-join counts diverged: plain=$nPlain bucketed=$nBucketed")
      (pSecs, bSecs)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS bench_fact_b")
      spark.sql("DROP TABLE IF EXISTS bench_dim_b")
    }

    println(f"""{"metric":"route_throughput","batch_rows_per_sec":$batchRps%.0f,"native_exec_rows_per_sec":$nativeRps%.0f,"stream_rows_per_sec":$streamRps%.0f,"batch_rows":$routedCount,"stream_rows":$streamed,"routed_write_rows_per_sec":$writeRps%.0f,"routed_write_rows":$written,"layout_check":"pass","tws_state_keys":$stateRowsTotal,"tws_rows_per_sec":$stateRps%.0f,"funnel_state_keys":$funnelStateKeys,"funnel_advances":$funnelAdvances,"funnel_rows_per_sec":$funnelRps%.0f,"scd2_state_keys":$scd2StateKeys,"scd2_rows":$scd2Rows,"scd2_rows_per_sec":$scd2Rps%.0f,"trans_state_keys":$transStateKeys,"trans_rows":$transRows,"trans_rows_per_sec":$transRps%.0f,"debounce_state_keys":$debStateKeys,"debounce_rows":$debRows,"debounce_kept":$debKept,"debounce_rows_per_sec":$debRps%.0f,"pack_state_keys":$packStateKeys,"pack_rows":$packRows,"pack_rows_per_sec":$packRps%.0f,"islands_state_keys":$islStateKeys,"islands_rows":$islRows,"islands_closed":$islClosed,"islands_rows_per_sec":$islRps%.0f,"lifecycle_state_keys":$lifeStateKeys,"lifecycle_rows":$lifeRows,"lifecycle_rows_per_sec":$lifeRps%.0f,"stickiness_state_keys":$stickStateKeys,"stickiness_rows":$stickRows,"stickiness_returning":$stickReturning,"stickiness_rows_per_sec":$stickRps%.0f,"ph_state_keys":$phStateKeys,"ph_rows":$phRows,"ph_rows_per_sec":$phRps%.0f,"lifetimer_state_keys":$ltStateKeys,"lifetimer_rows":$ltCounts,"lifetimer_rows_per_sec":$ltRps%.0f,"hll_state_keys":$hllStateKeys,"hll_rows":$hllRows,"hll_rows_per_sec":$hllRps%.0f,"pii_state_keys":$piiStateKeys,"pii_rows_clean":$piiRowsClean,"pii_rows_per_sec":$piiRps%.0f,"drift_windows":${driftFinal.size},"drift_rows_per_sec":$driftRps%.0f,"anomaly_rows":${anomFinal.size},"anomaly_rows_per_sec":$anomRps%.0f,"skew_plain_sec":$plainSecs%.2f,"skew_salted_sec":$saltedSecs%.2f,"skew_aqe_sec":$aqeSecs%.2f,"bucketed_write_sec":$bucketedWriteSecs%.2f,"bj_plain_join_sec":$bjPlainSecs%.2f,"bj_bucketed_join_sec":$bjBucketedSecs%.2f}""")
    spark.stop()
  }
}
