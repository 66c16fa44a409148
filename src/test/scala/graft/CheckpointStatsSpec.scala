package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

/** Regression guard for the r11 doubly-exponential checkpoint-stats blow-up.
  *
  * `Dataset.localCheckpoint` preserves the origin plan's Statistics on the
  * resulting LogicalRDD; in an iterative join→agg→checkpoint loop the
  * inherited estimates multiply each round and the BigInt sizes grow
  * doubly-exponentially until Catalyst spends minutes per planning pass in
  * BigInteger multiplication (observed live on the sf1 band-local cluster
  * leg). [[org.apache.spark.sql.graftbridge.Bridge.capRddStats]] (applied
  * inside [[graft.queries.Q.truncate]]) clamps every checkpointed leaf's
  * estimate, keeping round estimates bounded forever.
  */
class CheckpointStatsSpec extends SparkTestBase {

  test("iterative checkpoint loop keeps size estimates bounded") {
    val cap = BigInt("1000000000000000")
    var df = spark.range(200)
      .select(col("id").as("src"), ((col("id") + 1) % 200).as("dst"))
      .localCheckpoint(true)
    df = org.apache.spark.sql.graftbridge.Bridge.capRddStats(df)
    (1 to 18).foreach { round =>
      val step = df.as("a").join(df.as("b"), col("a.dst") === col("b.src"))
        .groupBy(col("a.src").as("src")).agg(min(col("b.dst")).as("dst"))
      val t0 = System.nanoTime()
      df = org.apache.spark.sql.graftbridge.Bridge.capRddStats(
        step.localCheckpoint(true))
      val secs = (System.nanoTime() - t0) / 1e9
      val leafStats = df.queryExecution.analyzed.stats.sizeInBytes
      assert(leafStats <= cap,
        s"round $round: checkpointed leaf estimate $leafStats exceeds the cap")
      // uncapped, round ~14 takes MINUTES; capped, every round is sub-second
      // planning (generous bound absorbs CI noise / job time on 200 rows)
      assert(secs < 30.0, s"round $round took ${secs}s — stats blow-up is back")
    }
  }

  // The CC and k-core loops piggyback their convergence sum on each round's
  // checkpoint job through Dataset.observe, then read it with obs.get —
  // which blocks until the metrics arrive. So an eager checkpoint must
  // deliver them on both truncation paths (Q.truncate's localCheckpoint,
  // and reliable checkpoint() when a checkpoint dir is set), and an empty
  // frame must yield null rather than hang.
  test("eager checkpoints deliver Observation metrics; an empty frame yields null") {
    def observedSum(df: org.apache.spark.sql.DataFrame, col0: String)(
        checkpoint: org.apache.spark.sql.DataFrame => Unit): Any = {
      val obs = Observation()
      checkpoint(df.observe(obs, sum(col(col0).cast("decimal(28,0)")).as("s")))
      obs.get("s")
    }
    val grouped = spark.range(0, 1000).toDF("id")
      .groupBy((col("id") % 7).as("k"))
      .agg(sum(col("id")).cast("decimal(28,0)").as("label"))
    assert(String.valueOf(observedSum(grouped, "label")(_.localCheckpoint(true))) == "499500")

    val empty = spark.range(0, 10).toDF("id").filter(col("id") < 0)
    assert(observedSum(empty, "id")(_.localCheckpoint(true)) == null)

    val ckptDir = java.nio.file.Files.createTempDirectory("graft-observe-ckpt").toString
    spark.sparkContext.setCheckpointDir(ckptDir)
    try {
      val got = observedSum(spark.range(0, 100).toDF("id"), "id")(_.checkpoint(true))
      assert(String.valueOf(got) == "4950")
    } finally {
      // Option(null) -> None: restores the localCheckpoint path for the
      // shared session
      spark.sparkContext.setCheckpointDir(null)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckptDir))
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }
}
