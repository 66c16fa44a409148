package perfbench

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sql.BucketRouting
import graft.streaming.PriorityStreams

class PlansSpec extends AnyFunSuite {

  test("plan counters see Row-encoder operators and the native routing operator") {
    val w = Workload.quickstart
    val spark = Main.session(w, Files.createTempDirectory("perfbench-plans"), 2)
    try {
      import spark.implicits._
      val df = Seq(("Platinum-1", 1L), ("Gold-2", 2L)).toDF("key", "event_id")
      def classes(p: org.apache.spark.sql.DataFrame) =
        Produce.planNodes(p.queryExecution.executedPlan).map(_.getClass.getSimpleName)
      val viaRows = classes(PriorityStreams.routeStream(df, w.cfg, w.partitions, col("key")))
      assert(viaRows.count(n => n == "DeserializeToObjectExec" || n == "SerializeFromObjectExec") == 2)
      val native = classes(BucketRouting.routeUniformNative(df, w.cfg, w.partitions, col("key")))
      assert(native.count(_ == "AssignPartitionsExec") == 1)
    } finally spark.stop()
  }
}
