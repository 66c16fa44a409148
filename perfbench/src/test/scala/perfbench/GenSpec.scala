package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  /** The reference's rule, written independently of the engine: the first
    * delimiter-separated token, trimmed, if it names a configured bucket. */
  private def referenceBucket(w: Workload, key: String): Int =
    if (key == null) -1 else w.cfg.buckets.indexOf(key.split(w.cfg.delimiter, -1)(0).trim)

  test("keys are a function of the seed and route where the generator intends") {
    for (w <- Workload.all) {
      val a = new KeyGen(w, 42L)
      val b = new KeyGen(w, 42L)
      val keys = (0 until 5000).map(i => a.next(i.toLong))
      assert(keys == (0 until 5000).map(i => b.next(i.toLong)))
      assert(keys != (0 until 5000).map(i => new KeyGen(w, 43L).next(i.toLong)))
      keys.foreach { case (bucket, key) => assert(referenceBucket(w, key) == bucket, String.valueOf(key)) }
      assert(keys.exists(_._2 == null) && keys.exists(_._1 < 0) && keys.exists(_._2.contains(" ")))
    }
  }

  test("a schedule is a function of the seed and re-sends only earlier events") {
    val w = Workload.skewed
    val s = Stream.schedule(w, 9L, 0.5, 1.0, 1.0)
    val t = Stream.schedule(w, 9L, 0.5, 1.0, 1.0)
    assert(s.slotEvent.sameElements(t.slotEvent) && s.eventKey.sameElements(t.eventKey))
    assert(s.slots == Workload.SteadyEps * 3 / 2 + w.overloadEps)
    assert(s.slotDue.sliding(2).forall(p => p(0) <= p(1)))
    s.slotEvent.indices.foreach(i => assert(s.eventDue(s.slotEvent(i)) <= s.slotDue(i)))
  }
}
