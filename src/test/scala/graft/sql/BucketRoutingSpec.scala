package graft.sql

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.BucketPriorityConfig

/** DataFrame-level parity with the reference partitioner behavior tests
  * (BucketPriorityPartitionerTest.java:110-567). */
class BucketRoutingSpec extends SparkTestBase {
  import spark.implicits._

  private val c8020 =
    BucketPriorityConfig("orders", Seq("B1", "B2"), Seq(80, 20)).toOption.get

  private def msgs(perBucket: Int, buckets: String*) =
    buckets.flatMap(b => (0 until perBucket).map(i => (s"$b-$i", b)))
      .zipWithIndex.map { case ((key, b), seq) => (key, b, seq.toLong) }
      .toDF("key", "expected_bucket", "seq")

  test("round-robin uniformity: 80/20 x 10, 32 msgs/bucket -> exactly 4 and 16 per partition (PartitionerTest:344-419)") {
    val routed = BucketRouting.route(msgs(32, "B1", "B2"), c8020, 10, col("key"), col("seq"))
    val counts = routed.groupBy("bucket", "pt").count()
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    val b1 = counts.filter(_._1 == "B1")
    val b2 = counts.filter(_._1 == "B2")
    assert(b1.map(_._2).sorted == (0 to 7))
    assert(b1.forall(_._3 == 4), s"B1 should have exactly 4 per partition: $b1")
    assert(b2.map(_._2).sorted == (8 to 9))
    assert(b2.forall(_._3 == 16), s"B2 should have exactly 16 per partition: $b2")
  }

  test("over-allocation 55/40/5: empty bucket's traffic routes to -1 and is discarded (PartitionerTest:186-262)") {
    val cfg = BucketPriorityConfig("orders", Seq("B1", "B2", "B3"), Seq(55, 40, 5)).toOption.get
    val routed = BucketRouting.route(msgs(10, "B1", "B2", "B3"), cfg, 10, col("key"), col("seq"))
    val b3 = routed.filter(col("bucket") === "B3")
    assert(b3.count() == 10)
    assert(b3.filter(col("pt") === -1).count() == 10)
    assert(BucketRouting.discard(routed).filter(col("bucket") === "B3").count() == 0)
    // surviving buckets stay in range
    val okRanges = routed.filter(col("bucket") === "B1").select("pt").as[Int].collect()
    assert(okRanges.forall(p => p >= 0 && p <= 5))
  }

  test("resize: same stream routed at 20 partitions uses the grown layout (PartitionerTest:422-567)") {
    val routed = BucketRouting.route(msgs(32, "B1", "B2"), c8020, 20, col("key"), col("seq"))
    val b1 = routed.filter(col("bucket") === "B1").select("pt").as[Int].collect()
    val b2 = routed.filter(col("bucket") === "B2").select("pt").as[Int].collect()
    assert(b1.toSet == (0 to 15).toSet)
    assert(b2.toSet == (16 to 19).toSet)
    assert(b1.groupBy(identity).values.map(_.size).forall(_ == 2)) // 32/16
    assert(b2.groupBy(identity).values.map(_.size).forall(_ == 8)) // 32/4
  }

  test("bucket_of key shapes (README.md:65-75): first token, trim, unknown/null fall through") {
    val cfg = BucketPriorityConfig("t", Seq("Platinum", "Gold"), Seq(70, 30)).toOption.get
    val df = Seq(
      "Platinum", "Platinum-001", "Platinum-Group01-001",
      " Gold -2", // trimmed token
      "Silver-1", // unknown bucket
      null
    ).toDF("key")
    val got = df.select(BucketRouting.bucketOf(col("key"), cfg).as("b")).as[String].collect().toSeq
    assert(got == Seq("Platinum", "Platinum", "Platinum", "Gold", null, null))
  }

  test("delimiter is a regex, as in the reference's String.split") {
    val cfg = BucketPriorityConfig("t", Seq("Platinum", "Gold"), Seq(70, 30),
      delimiter = "\\|").toOption.get
    val df = Seq("Platinum|001", "Gold|x|y").toDF("key")
    val got = df.select(BucketRouting.bucketOf(col("key"), cfg).as("b")).as[String].collect().toSeq
    assert(got == Seq("Platinum", "Gold"))
  }

  // Property parity for the delimiter-as-regex contract: the reference
  // splits keys with java String.split(delimiter), takes token 0 trimmed
  // when the array is non-empty, and routes only if it names a bucket
  // (BucketPriorityPartitioner.java:68-78). Spark's split keeps trailing
  // empty tokens where String.split drops them (a key consisting ENTIRELY
  // of delimiter matches is [] in Java but ["", ...] in Spark) — with empty
  // bucket names rejected at config time the two agree on the ROUTING
  // OUTCOME for every key, which is what this property pins, over
  // metacharacter delimiters (".", "|", "[0-9]") × adversarial keys
  // (leading/trailing delimiters, whitespace, nulls, bucket-like noise).
  test("property: bucket_of == reference String.split routing for regex delimiters") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val bucketNames = Seq("Platinum", "Gold", "a.b", "0042")
    val genDelim = Gen.oneOf("-", "\\|", ".", "|", "--", "\\.", "x",
      "[0-9]", "\\s", "(?:-)", "a|b")
    val genKeyPart = Gen.oneOf("Platinum", "Gold", "", "a.b", "x|y", "(z)",
      "0042", " Platinum", "Gold ", "a-b-c", "...", "---")
    val genKey: Gen[String] = Gen.frequency(
      9 -> (for {
        parts <- Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, genKeyPart))
        sep <- Gen.oneOf("-", "|", ".", "", " ")
      } yield parts.mkString(sep)),
      1 -> Gen.const(null: String))
    val p = Prop.forAll(genDelim, Gen.listOfN(8, genKey)) { (delim, keys) =>
      val cfg = BucketPriorityConfig("t", bucketNames, Seq(40, 30, 20, 10),
        delimiter = delim).toOption.get
      // the reference's partition() body, verbatim as a model
      val expected = keys.map {
        case null => null
        case k =>
          val toks = k.split(delim)
          if (toks.length >= 1 && bucketNames.contains(toks(0).trim)) toks(0).trim
          else null
      }
      val got = keys.toDF("key")
        .select(BucketRouting.bucketOf(col("key"), cfg).as("b"))
        .collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
      got == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), p)
    assert(res.passed, res.status.toString)
  }

  test("empty bucket names are rejected at config time (split-parity guard)") {
    val r = BucketPriorityConfig("t", Seq("B1", " "), Seq(70, 30))
    assert(r.swap.toOption.exists(_.isInstanceOf[graft.core.ConfigError.EmptyBucketName]))
    // the key corner the guard exists for: a key that is ALL delimiter
    // matches is length-0 in Java but ["", ""] in Spark — with no ""-bucket
    // configurable, both route to "no bucket"
    val cfg = c8020
    val got = Seq("--", "-", "B1-1").toDF("key")
      .select(BucketRouting.bucketOf(col("key"), cfg).as("b"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
    assert(got == Seq(null, null, "B1"))
  }

  test("routed write: repartition by pt + partitionBy lands each routed partition in its own dir") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-routed").toString
    val routed = BucketRouting.discard(
      BucketRouting.route(msgs(32, "B1", "B2"), c8020, 10, col("key"), col("seq")))
    // the file-sink analogue of "the Kafka sink honors the partition column"
    routed.repartition(10, col("pt"))
      .write.mode("overwrite").partitionBy("pt").parquet(tmp)
    val dirs = new java.io.File(tmp).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("pt=")).sorted
    assert(dirs.toSeq == (0 to 9).map(p => s"pt=$p"))
    val back = spark.read.parquet(tmp)
    assert(back.count() == 64)
    assert(back.filter(col("pt") >= 8).count() == 32) // B2's share
  }

  test("routed write: per-partition file counts track bucket_layout proportions") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-routed-prop").toString
    // 800 msgs/bucket through the shuffle-free router into a partitioned
    // sink: each B1 partition (8 of 10) should hold ~100 rows, each B2
    // partition (2 of 10) ~400 — the layout made observable as directory
    // sizes, the file-system twin of Kafka per-partition message counts
    val routed = BucketRouting.discard(
      BucketRouting.routeUniform(msgs(800, "B1", "B2"), c8020, 10, col("key")))
    routed.write.mode("overwrite").partitionBy("pt").parquet(tmp)
    val counts = spark.read.parquet(tmp).groupBy("pt").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val lay = graft.core.BucketLayout.layout(c8020, 10).toMap
    assert(counts.keySet == (0 to 9).toSet)
    Seq("B1", "B2").foreach { b =>
      val parts = lay(b)
      val perPart = parts.map(counts)
      assert(perPart.sum == 800, s"$b total: ${perPart.sum}")
      val expected = 800.0 / parts.size
      // routeUniform round-robins per task; worst-case skew = #input tasks
      perPart.foreach(c => assert(math.abs(c - expected) <= 8,
        s"$b per-partition counts $perPart drifted from $expected"))
    }
  }

  test("route is re-entrant: an already-routed frame can be routed again (r4 salted-select regression)") {
    val once = BucketRouting.discard(
      BucketRouting.route(msgs(8, "B1", "B2"), c8020, 10, col("key"), col("seq")))
    val twice = BucketRouting.route(once, c8020, 20, col("key"), col("seq"))
    assert(twice.columns.count(_ == "bucket") == 1, twice.columns.toSeq)
    assert(twice.columns.count(_ == "pt") == 1, twice.columns.toSeq)
    // discard()'s col("pt") must not be ambiguous and the relayout must hold
    val counts = BucketRouting.discard(twice).groupBy("bucket").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("B1" -> 8L, "B2" -> 8L))
  }

  // route's output contract in closed form: for a bucket with n messages
  // and a range of z partitions, ANY bijection rn: rows → 1..n gives
  // partition start+j exactly ceil((n-j)/z)-at-j counts — i.e. the first
  // (n % z) partitions of the range get ⌈n/z⌉, the rest ⌊n/z⌋. This property
  // pins that against random allocations/partition counts/loads and input
  // partitionings (route deals per input task, so the tasks' seeds must
  // stitch into one bijection), so a future rewrite can't silently change
  // the allocation pattern.
  test("property: route per-partition counts match the closed-form round-robin model") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genCase = for {
      nBuckets <- Gen.choose(1, 4)
      cuts <- Gen.pick(nBuckets - 1, 1 until 100)
      parts <- Gen.choose(nBuckets, 16)
      loads <- Gen.listOfN(nBuckets, Gen.choose(0, 40))
      inputParts <- Gen.oneOf(1, 3, 16)
    } yield {
      // composition of 100 into nBuckets positive parts (allocations must
      // sum to exactly 100 by config contract)
      val sorted = cuts.toList.sorted
      val allocs = (sorted :+ 100).zip(0 :: sorted).map { case (b, a) => b - a }
      (allocs, parts, loads, inputParts)
    }
    val p = Prop.forAll(genCase) { case (allocs, parts, loads, inputParts) =>
      val names = allocs.indices.map(i => s"P$i")
      BucketPriorityConfig("t", names, allocs).toOption match {
        case None => false // a composition of 100 must always be valid
        case Some(cfg) =>
          val rows = names.zip(loads).flatMap { case (b, n) =>
            (0 until n).map(i => (s"$b-$i", b))
          }.zipWithIndex.map { case ((k, b), seq) => (k, b, seq.toLong) }
          if (rows.isEmpty) true
          else {
            val input = rows.toDF("key", "expected_bucket", "seq")
              .repartition(inputParts, col("key"))
            val routed = BucketRouting.route(input, cfg, parts, col("key"), col("seq"))
            val got = BucketRouting.discard(routed).groupBy("bucket", "pt").count()
              .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
            val ranges = graft.core.BucketLayout.ranges(cfg, parts).toMap
            val expected = names.zip(loads).flatMap { case (b, n) =>
              val (start, z) = ranges(b)
              if (z == 0 || n == 0) Nil
              else (0 until math.min(z, n)).map { j =>
                (b, start + j) -> (n / z + (if (j < n % z) 1L else 0L))
              }
            }.toMap
            got == expected
          }
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40), p)
    assert(res.passed, res.status.toString)
  }

  private def keySeqPt(df: org.apache.spark.sql.DataFrame) =
    df.select("key", "seq", "pt").collect()
      .map(r => (r.getString(0), r.getLong(1), if (r.isNullAt(2)) null else r.getInt(2)))
      .sortBy(x => (x._1, x._2)).toSeq

  test("route is deterministic: the same partitioned input routed twice gives identical rows") {
    val input = msgs(50, "B1", "B2", "Nope").repartition(3, col("key"))
    val first = keySeqPt(BucketRouting.route(input, c8020, 10, col("key"), col("seq")))
    val second = keySeqPt(BucketRouting.route(input, c8020, 10, col("key"), col("seq")))
    assert(first.size == 150)
    assert(first == second)
  }

  test("route plans one narrow pass: no window, no broadcast, no shuffle below the router") {
    val sink = BucketRouting.discard(
      BucketRouting.route(msgs(32, "B1", "B2"), c8020, 10, col("key"), col("seq")))
      .groupBy("bucket", "pt").count()
    assert(sink.collect().map(_.getLong(2)).sum == 64)
    val nodes = planNodes(sink.queryExecution.executedPlan)
    val routers = nodes.collect { case a: graft.plans.AssignPartitionsExec => a }
    assert(routers.size == 1, nodes.map(_.nodeName))
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]))
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.BroadcastExchangeExec]))
    val below = planNodes(routers.head.child)
    assert(!below.exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]),
      below.map(_.nodeName))
  }

  test("route fails when its input yields different rows on a second evaluation") {
    // the counting pass sees every key in B1, the dealing pass every key in B2
    BucketRoutingSpec.evaluations.set(0)
    val drifting = udf { (i: Long) =>
      if (BucketRoutingSpec.evaluations.getAndIncrement() < 64) s"B1-$i" else s"B2-$i"
    }.asNondeterministic()
    val input = spark.range(0, 64, 1, 2).toDF("seq").withColumn("key", drifting(col("seq")))
    val routed = BucketRouting.route(input, c8020, 10, col("key"), col("seq"))
    val e = intercept[Exception](routed.collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => t.isInstanceOf[IllegalStateException] &&
      t.getMessage.startsWith("route:")) || e.getMessage.contains("IllegalStateException: route:"),
      chain.map(_.toString).mkString("\n"))
  }

  test("route rejects a streaming input") {
    val stream = spark.readStream.format("rate").load().withColumn("key", lit("B1-x"))
    val e = intercept[IllegalArgumentException](
      BucketRouting.route(stream, c8020, 10, col("key"), col("value")))
    assert(e.getMessage.contains("routeStream"), e.getMessage)
  }

  test("routeUniform keeps <=1 skew per partition within each bucket") {
    val routed = BucketRouting.routeUniform(msgs(32, "B1", "B2"), c8020, 10, col("key"))
    val counts = routed.groupBy("bucket", "pt").count()
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    Seq("B1", "B2").foreach { b =>
      val cs = counts.filter(_._1 == b).map(_._3)
      assert(cs.max - cs.min <= 1, s"$b skew: ${cs.toSeq}")
    }
    // every routed partition within the bucket's range
    assert(counts.filter(_._1 == "B1").forall(c => c._2 >= 0 && c._2 <= 7))
    assert(counts.filter(_._1 == "B2").forall(c => c._2 >= 8 && c._2 <= 9))
  }
}

object BucketRoutingSpec {
  /** Evaluations of the drifting key in the input-determinism test. */
  val evaluations = new java.util.concurrent.atomic.AtomicLong
}
