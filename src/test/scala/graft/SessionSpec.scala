package graft

import scala.jdk.CollectionConverters._

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
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"src/main/scala not found from ${System.getProperty("user.dir")}")
    val walk = java.nio.file.Files.walk(root)
    val builders = try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => java.nio.file.Files.readString(p).contains("SparkSession.builder"))
      .map(p => root.relativize(p).toString.replace('\\', '/'))
      .toSeq.sorted
    finally walk.close()
    assert(builders == Seq("graft/Session.scala"),
      s"build sessions through graft.Session.local, not SparkSession.builder: $builders")
  }
}
