package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class AccountingSpec extends AnyFunSuite {

  private def sched(buckets: Byte*): Stream.Schedule = {
    val n = buckets.size
    new Stream.Schedule(Array.tabulate(n)(_.toLong), Array.tabulate(n)(identity),
      buckets.toArray, Array.fill(n)("k"), Array.tabulate(n)(_.toLong), 0L, n.toLong, n.toLong)
  }

  test("exactly-once accounting flags double, missing, misplaced and unroutable commits") {
    val s = sched(0, 1, -1, 0, 1)
    val ok = new Stream.Commits(s.events)
    ok.record(Array(0L, 3L), bucket = 0, nowUs = 10)
    ok.record(Array(1L, 4L), bucket = 1, nowUs = 11)
    assert(Stream.notExactlyOnce(s, ok).isEmpty)

    val bad = new Stream.Commits(s.events)
    bad.record(Array(0L, 3L, 3L), bucket = 0, nowUs = 10) // 3: a duplicate got through
    bad.record(Array(1L), bucket = 0, nowUs = 11) // 1: committed by the wrong consumer
    bad.record(Array(2L), bucket = 1, nowUs = 12) // 2: unroutable, yet committed
    // 4: never committed
    assert(Stream.notExactlyOnce(s, bad) == Seq(1, 2, 3, 4))
    assert(bad.at(3) == 10 && bad.by(1) == 0)
  }

  test("committed events in a window spread each commit over its consumer's busy interval") {
    val c = new Stream.Commits(40)
    c.record(Array.range(0, 10).map(_.toLong), bucket = 0, nowUs = 100) // first: counts at 100
    c.record(Array.range(10, 30).map(_.toLong), bucket = 0, nowUs = 300) // 20 over (100, 300]
    c.record(Array(10L, 30L), bucket = 1, nowUs = 250) // a re-commit is not distinct: 1 at 250
    assert(Stream.committedIn(c, 0, 1000) == 31.0)
    // half of the second commit's interval, and nothing of bucket 1's
    assert(Stream.committedIn(c, 200, 250) == 5.0)
    assert(Stream.committedIn(c, 100, 200) == 20.0)
  }

  test("a tiny deterministic load commits every routable event exactly once") {
    val w = Workload.quickstart.copy(overloadEps = 400)
    val out = Files.createTempDirectory("perfbench-accounting")
    val spark = Main.session(w, out, 2)
    try {
      val c = new Ctx(spark, new Tracer(false), new Report, w, 7L, out, 2)
      val s = Stream.schedule(w, 7L, 0.2, 0.5, 0.5, steadyEps = 200)
      assert(s.slots > s.events, "the load re-sends duplicates")
      assert(s.eventBucket.contains(-1: Byte), "the load holds unroutable keys")
      val o = Stream.drive(c, s, drainS = 60, parent = -1)
      assert(o.drained)
      Stream.evaluate(c, o)
      assert(c.report.failed.get == 0, c.report.failures.mkString("; "))
      assert(c.report.attempted.get == s.events)
      assert((0 until s.events).forall(e => s.eventBucket(e) < 0 || o.commits.at(e) >= o.sentUs(0)))
      Seq("steady.hi_p50_ms", "steady.lo_p99_ms", "overload.hi_p99_ms")
        .foreach(m => assert(c.report.metrics(m)._1 > 0, m))
    } finally spark.stop()
  }
}
