package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** What one run collects: metrics by name, operations attempted and
  * failed, and the first few failure messages. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val failures = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Count `n` operations, `bad` of which failed their check. */
  def ops(n: Long, bad: Long, what: => String = ""): Unit = {
    attempted.addAndGet(n)
    if (bad > 0) fail(bad, what)
  }

  def fail(bad: Long, what: String): Unit = synchronized {
    failed.addAndGet(bad)
    if (failures.size < 50) failures += what
  }

  /** A value that is not a finite number is written as null. */
  def toJson: String = Report.json(Map(
    "attempted" -> attempted.get, "failed" -> failed.get,
    "failures" -> failures.toSeq,
    "metrics" -> metrics.map { case (k, (v, u)) =>
      k -> Map("value" -> (if (v.isNaN || v.isInfinite) null else v), "unit" -> u) }.toMap,
    "info" -> info.toMap))
}

object Report {
  def json(value: AnyRef): String = Serialization.write(value)(DefaultFormats)
}

/** Everything a stage needs. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val report: Report,
    val w: Workload, val seed: Long, val outDir: java.nio.file.Path, val cores: Int)
