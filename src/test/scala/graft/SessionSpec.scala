package graft

/** One way to build a SparkSession: the shared test session comes from
  * [[Session.local]], and no main builds its own, so per-main config drift
  * (core counts, missing UTC) cannot come back unnoticed. */
class SessionSpec extends SparkTestBase {

  test("the shared test session is factory-built: local[4], UTC, 4 shuffle partitions, UI off") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  test("SparkSession.builder appears in src/main only in graft/Session.scala") {
    val builders = SparkTestBase.scalaSources("src/main/scala")
      .collect { case (file, text) if text.contains("SparkSession.builder") => file }
    assert(builders == Seq("graft/Session.scala"),
      s"build sessions through graft.Session.local, not SparkSession.builder: $builders")
  }
}
