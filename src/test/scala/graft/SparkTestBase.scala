package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.funsuite.AnyFunSuite

/** One lazily-created local session shared across a suite. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Run `body` with the given session confs set, restoring each key's
    * previous value (or unsetting it) afterwards — the session is shared
    * across suites, so every temporary conf change must be scoped. */
  def withConfs[T](pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Run `body` on the RocksDB state-store provider (transformWithState
    * requires it), restoring the previous provider afterwards. */
  def withRocksDB[T](body: => T): T =
    withConfs("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  /** Every operator of an executed plan, walking through AQE's adaptive
    * and query-stage wrappers (a plan that shuffles hides its operators
    * behind them). */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec        => planNodes(q.plan)
    case other                    => other +: other.children.flatMap(planNodes)
  }

  /** Every file scan in an executed plan. */
  def fileScans(p: SparkPlan): Seq[FileSourceScanExec] =
    planNodes(p).collect { case s: FileSourceScanExec => s }

  /** How many scans of the `documents` table the executed plan carries. */
  def docScanCount(qe: QueryExecution): Int = fileScans(qe.executedPlan)
    .count(_.relation.location.rootPaths.exists(_.toString.contains("documents")))
}

object SparkTestBase {
  lazy val session: SparkSession = Session.local("graft-tests", cores = 4,
    confs = Map("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))

  /** Every `.scala` file under `dir` (relative to the project root) as
    * (path relative to `dir`, contents), sorted by path — for the specs
    * that pin where a construct may appear in the sources. */
  def scalaSources(dir: String): Seq[(String, String)] = {
    val root = java.nio.file.Paths.get(dir)
    assert(java.nio.file.Files.isDirectory(root),
      s"$root not found from ${System.getProperty("user.dir")}")
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString.replace('\\', '/') -> java.nio.file.Files.readString(p))
      .toSeq.sorted
    finally walk.close()
  }
}
