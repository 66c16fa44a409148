package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** SURVEY §5.2's remaining property: for ANY valid config, partition count,
  * and message sequence, per-bucket round-robin keeps every partition's
  * message count within 1 of its bucket-mates, and every message lands
  * inside its bucket's range (or is discarded for empty buckets). Pure
  * simulation of the route semantics — the Spark implementations are pinned
  * to the same behavior by BucketRoutingSpec's fixtures and the oracle
  * queries. */
class RoutePropertySpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  private val genConfig: Gen[BucketPriorityConfig] = for {
    k <- Gen.choose(1, 6)
    cuts <- Gen.listOfN(k - 1, Gen.choose(1, 99)).map(_.distinct.sorted)
  } yield {
    val bounds = 0 +: cuts :+ 100
    val allocs = bounds.zip(bounds.tail).map { case (a, b) => b - a }.filter(_ > 0)
    BucketPriorityConfig("t", allocs.indices.map(i => s"B$i"), allocs).toOption.get
  }

  test("property: round-robin routing is uniform within each bucket and stays in range") {
    check(Prop.forAll(
      genConfig,
      Gen.choose(1, 64),
      Gen.choose(0, 500)) { (cfg, extra, msgsPerBucket) =>
      val n = cfg.numBuckets + extra
      val layout = BucketLayout.layout(cfg, n).toMap
      // simulate the reference's per-bucket counter over msgsPerBucket sends
      val routed: Map[String, Seq[Int]] = cfg.buckets.map { b =>
        val parts = layout(b)
        val assigned =
          if (parts.isEmpty) Seq.empty[Int]
          else (0 until msgsPerBucket).map(i => parts(i % parts.size))
        b -> assigned
      }.toMap
      routed.forall { case (b, assigned) =>
        val parts = layout(b)
        if (parts.isEmpty) assigned.isEmpty // empty bucket ⇒ all discarded
        else {
          val counts = parts.map(p => assigned.count(_ == p))
          assigned.forall(parts.contains) &&                 // in range
            assigned.size == msgsPerBucket &&                // nothing lost
            (counts.max - counts.min) <= 1                   // ≤1 skew
        }
      }
    })
  }

  test("counterSlot survives Int wraparound exactly like Utils.toPositive (Bucket.java:22-29)") {
    // reference semantics replayed in plain Java arithmetic
    def referenceSlot(c: Int, size: Int): Int = (c & 0x7fffffff) % size
    for (size <- Seq(1, 2, 3, 7, 16, 100)) {
      // seed a counter near Int.MaxValue and step THROUGH the wraparound:
      // every slot stays in [0, size) and equals the reference's sequence,
      // including the discontinuity at MinValue (where a raw `c % size`
      // would go negative and route outside the bucket's range)
      var c = Int.MaxValue - 3
      var steps = 0
      while (steps < 8) {
        val slot = BucketLayout.counterSlot(c, size)
        assert(slot >= 0 && slot < size, s"slot $slot out of range for c=$c size=$size")
        assert(slot == referenceSlot(c, size))
        c += 1 // wraps to Int.MinValue after MaxValue, like the reference's AtomicInteger
        steps += 1
      }
      // the poster-child values
      assert(BucketLayout.counterSlot(Int.MaxValue, size) == Int.MaxValue % size)
      assert(BucketLayout.counterSlot(Int.MinValue, size) == 0) // toPositive(MinValue) = 0
      assert(BucketLayout.counterSlot(-1, size) == Int.MaxValue % size)
    }
  }

  test("property: assign covers exactly the subscribed consumers' buckets") {
    check(Prop.forAll(genConfig, Gen.choose(1, 64), Gen.choose(1, 5)) {
      (cfg, extra, consumersPerBucket) =>
        val n = cfg.numBuckets + extra
        val subs = cfg.buckets.flatMap(b =>
          (0 until consumersPerBucket).map(i =>
            s"$b-c$i" -> BucketAssign.Subscription(Seq(cfg.topic), Some(b)))).toMap
        val layout = BucketLayout.layout(cfg, n).toMap
        val result = BucketAssign.assign(cfg, Map(cfg.topic -> n), subs)
        // every subscriber present; every assigned partition in its bucket's
        // range; each bucket's partitions fully and uniquely distributed
        result.keySet == subs.keySet &&
          cfg.buckets.forall { b =>
            val owned = result.collect {
              case (cid, tps) if cid.startsWith(s"$b-") => tps.map(_.partition)
            }.flatten.toSeq
            owned.sorted == layout(b).sorted &&
              result.filter(_._1.startsWith(s"$b-")).values
                .map(_.size).forall(s => (layout(b).size / consumersPerBucket) <= s + 1)
          }
    })
  }
}
