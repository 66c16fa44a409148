package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Layout parity fixtures (FIXTURES.md §A; reference test citations inline)
  * plus scalacheck properties (SURVEY §5.2). */
class BucketLayoutSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  private def cfg(buckets: (String, Int)*): BucketPriorityConfig =
    BucketPriorityConfig("orders", buckets.map(_._1), buckets.map(_._2)).toOption.get

  test("even allocation 50/30/20 x 10 -> [0-4][5-7][8-9] (PartitionerTest:110-183)") {
    val lay = BucketLayout.layout(cfg("B1" -> 50, "B2" -> 30, "B3" -> 20), 10)
    assert(lay == Seq("B1" -> (0 to 4), "B2" -> (5 to 7), "B3" -> (8 to 9)))
  }

  test("over-allocation 55/40/5 x 10 -> 6+4+1=11 -> B3 empty (PartitionerTest:186-262)") {
    val lay = BucketLayout.layout(cfg("B1" -> 55, "B2" -> 40, "B3" -> 5), 10)
    assert(lay == Seq("B1" -> (0 to 5), "B2" -> (6 to 9), "B3" -> Seq.empty))
  }

  test("few partitions 55/40/5 x 5 -> [0-2][3-4] B3 empty (PartitionerTest:265-341)") {
    val lay = BucketLayout.layout(cfg("B1" -> 55, "B2" -> 40, "B3" -> 5), 5)
    assert(lay == Seq("B1" -> (0 to 2), "B2" -> (3 to 4), "B3" -> Seq.empty))
  }

  test("80/20 x 10 -> [0-7][8-9]; resize to 20 -> [0-15][16-19] (PartitionerTest:344-567)") {
    val c = cfg("B1" -> 80, "B2" -> 20)
    assert(BucketLayout.layout(c, 10) == Seq("B1" -> (0 to 7), "B2" -> (8 to 9)))
    assert(BucketLayout.layout(c, 20) == Seq("B1" -> (0 to 15), "B2" -> (16 to 19)))
  }

  test("remainder distribution round-robin in priority order (Partitioner:124-139)") {
    // 40/40/20 over 11: round(4.4)=4, round(4.4)=4, round(2.2)=2 => sum 10,
    // remainder 1 goes to the highest-priority bucket.
    val lay = BucketLayout.layout(cfg("B1" -> 40, "B2" -> 40, "B3" -> 20), 11)
    assert(lay == Seq("B1" -> (0 to 4), "B2" -> (5 to 8), "B3" -> (9 to 10)))
  }

  test("fewer partitions than buckets throws (Partitioner:98-105)") {
    assertThrows[BucketLayout.InvalidLayoutException] {
      BucketLayout.layout(cfg("B1" -> 50, "B2" -> 30, "B3" -> 20), 2)
    }
  }

  test("layout error carries the reference's verbatim wording (Partitioner:99-104)") {
    val e = intercept[BucketLayout.InvalidLayoutException] {
      BucketLayout.layout(cfg("B1" -> 50, "B2" -> 30, "B3" -> 20), 2)
    }
    assert(e.getMessage ==
      "The number of partitions available for the topic 'orders' is incompatible " +
        "with the number of buckets. It needs to be at least 3.")
  }

  test("config errors carry the reference's verbatim wording (Partitioner:35-42)") {
    val mismatch = BucketPriorityConfig("orders", Seq("B1", "B2"), Seq(100))
      .swap.toOption.get
    assert(mismatch.referenceMessage.contains(
      "The bucket allocation doesn't match with the number of buckets configured."))
    val badSum = BucketPriorityConfig("orders", Seq("B1", "B2"), Seq(60, 60))
      .swap.toOption.get
    assert(badSum.referenceMessage.contains(
      "The bucket allocation is incorrect. The sum of all buckets needs to be 100."))
    // failures the reference never validates have no reference wording
    val dup = BucketPriorityConfig("orders", Seq("B1", "B1"), Seq(50, 50))
      .swap.toOption.get
    assert(dup.referenceMessage.isEmpty)
  }

  test("ranges view matches layout") {
    val r = BucketLayout.ranges(cfg("B1" -> 55, "B2" -> 40, "B3" -> 5), 10)
    assert(r == Seq("B1" -> (0, 6), "B2" -> (6, 4), "B3" -> (-1, 0)))
  }

  // ---- properties (SURVEY §5.2) ----------------------------------------

  private val genConfig: Gen[BucketPriorityConfig] = for {
    k <- Gen.choose(1, 8)
    cuts <- Gen.listOfN(k - 1, Gen.choose(1, 99)).map(_.distinct.sorted)
  } yield {
    val bounds = 0 +: cuts :+ 100
    val allocs = bounds.zip(bounds.tail).map { case (a, b) => b - a }.filter(_ > 0)
    BucketPriorityConfig("t", allocs.indices.map(i => s"B$i"), allocs).toOption.get
  }

  test("property: layout partitions a prefix of 0..n-1 into contiguous disjoint ranges") {
    check(Prop.forAll(genConfig, Gen.choose(1, 200)) { (c, extra) =>
      val n = c.numBuckets + extra
      val lay = BucketLayout.layout(c, n)
      val all = lay.flatMap(_._2)
      val contiguous = lay.forall { case (_, parts) =>
        parts.isEmpty || parts == (parts.head to parts.last)
      }
      // sizes respect round-then-remainder rule: recompute independently
      val sizes0 = c.allocation.map(a => math.round(a / 100f * n))
      val rem = n - sizes0.sum
      val expected =
        if (rem <= 0) {
          var left = n
          sizes0.map { s => val t = math.min(s, left); left -= t; t }
        } else {
          val arr = sizes0.toArray
          (0 until rem).foreach(i => arr(i % arr.length) += 1)
          arr.toSeq
        }
      all == (0 until n) && contiguous &&
        lay.map(_._1) == c.buckets &&
        lay.map(_._2.size) == expected
    })
  }

  test("property: higher allocation never gets fewer partitions") {
    check(Prop.forAll(genConfig, Gen.choose(1, 200)) { (c, extra) =>
      val n = c.numBuckets + extra
      val sizes = BucketLayout.layout(c, n).map(_._2.size)
      sizes == sizes.sorted.reverse
    })
  }
}
