package graft.sql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, AttributeReference, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.IntegerType

import graft.core.{BucketLayout, BucketPriorityConfig}
import graft.functions.BucketSqlFunctions

/** The reference's produce-path semantics (§2.1 `bucket_of`, `route`,
  * `discard`) as declarative DataFrame transforms.
  *
  * Reference behavior being reproduced
  * (BucketPriorityPartitioner.java:61-94, Bucket.java:22-29,
  * DiscardPartitioner.java:15-18):
  *   - bucket_of(key): split on the delimiter REGEX, take token 0, trim; a
  *     configured bucket name ⇒ that bucket, else no bucket; null key ⇒ no
  *     bucket;
  *   - route: a message whose key resolves to a bucket goes to the bucket's
  *     next round-robin partition; an EMPTY bucket (over-allocation edge,
  *     BucketPriorityPartitionerTest.java:186-262) yields partition −1 ⇒ the
  *     message is silently discarded; no bucket ⇒ null partition (the
  *     reference returns UNKNOWN_PARTITION so engine-default placement
  *     applies);
  *   - discard: drop unroutable rows (documented DiscardPartitioner intent,
  *     README.md:77-84).
  *
  * Round-robin determinism: the reference's AtomicInteger counter order
  * depends on send order; distributed Spark has no global send order, so the
  * caller supplies an explicit ordering column (`seqCol`, e.g. `event_id`).
  * The uniformity invariant (≤1 message skew per partition within a bucket)
  * is identical; the exact message→partition byte order is defined by the
  * input's partitions and `seqCol` instead of arrival time (SURVEY §7 risk
  * register).
  *
  * Scale note (100 TB): [[route]] deals in one narrow pass — no shuffle, no
  * window, no join. Each task sorts its own rows by `seq` and keeps one
  * counter per bucket, seeded with the bucket's row count in earlier tasks
  * (a counting job over the same input supplies those counts, the
  * `zipWithIndex` pattern), so the tasks together deal each bucket a
  * bijection onto 1..N and the reference's uniformity contract (≤1 skew
  * within a bucket) holds exactly. [[routeUniformNative]] runs the same
  * operator with per-task seeds and no counting job — the guarantee
  * profile of the reference under concurrent producer threads (its
  * AtomicInteger order is scheduling-dependent too); [[routeUniform]] is
  * its Row-level twin, which the streaming router calls.
  */
object BucketRouting {

  /** `bucket_of(key)` as a pure Column (no UDF — codegen-friendly): the
    * SQL surface's [[graft.functions.BucketSqlFunctions.bucketOfExpr]]
    * tree, so the DataFrame and SQL forms are one expression. */
  def bucketOf(key: Column, cfg: BucketPriorityConfig): Column =
    Bridge.column(BucketSqlFunctions.bucketOfExpr(Bridge.expression(key), cfg))

  /** Deterministic priority routing.
    *
    * Adds `bucket` (nullable string) and `pt` (nullable int):
    *   - known bucket, non-empty range → assigned partition (round-robin over
    *     the bucket's contiguous range);
    *   - known bucket, EMPTY range     → −1 (to be discarded);
    *   - no bucket                     → null (engine-default placement).
    *
    * Dealing: every input task sorts its rows by `seqCol` (a local sort, no
    * exchange) and deals each bucket's rows in that order, starting at the
    * bucket's row count in earlier tasks — so the tasks together give a
    * bucket's n rows the ordinals 0..n−1 and partition `start + j` of a
    * range of z receives ⌈n/z⌉ rows for j < n % z, else ⌊n/z⌋: the counts
    * of one global counter, ≤1 skew. The earlier tasks' counts come from a
    * counting job over the same input when the plan executes; building the
    * frame runs nothing.
    *
    * Determinism contract: the output is a pure function of the input's
    * partitions (which rows each holds, in partition order) and their
    * `seqCol` values. Rows with equal `seqCol` in one task may take either
    * order. The input must yield the same rows on every evaluation: a task
    * that deals a different number of rows of some bucket than the counting
    * job counted fails with an `IllegalStateException` naming `route`.
    * Streaming input is rejected — route a stream with
    * [[graft.streaming.PriorityStreams.routeStream]].
    *
    * Re-entrant: a frame that already carries `bucket` and `pt` is routed
    * again, `bucket` replaced in place and `pt` recomputed.
    */
  def route(
      df: DataFrame,
      cfg: BucketPriorityConfig,
      numPartitions: Int,
      keyCol: Column,
      seqCol: Column
  ): DataFrame = {
    require(!df.isStreaming,
      "route deals over a bounded input; route a stream with PriorityStreams.routeStream")
    assignPartitions(df, cfg, numPartitions, keyCol, Some(seqCol))
  }

  /** Shuffle-free routing for cluster scale: one round-robin counter per
    * (task, bucket), exactly the reference's per-bucket `AtomicInteger`
    * design (Bucket.java:14,22-29) with task-locality instead of
    * producer-instance-locality. Uniformity is exact within each task (≤1
    * skew per partition per task); across T tasks the worst-case skew is T,
    * the same compounding the reference has across producer instances.
    * Counters start at the task's partition id so concurrent tasks don't all
    * begin on the bucket's first partition.
    *
    * `mapPartitions` is justified here (preference (d), SURVEY §2): the
    * semantics are inherently stateful-per-task and a window would force a
    * by-bucket shuffle with one partition per bucket — the exact skew this
    * variant exists to avoid at 100 TB.
    */
  def routeUniform(
      df: DataFrame,
      cfg: BucketPriorityConfig,
      numPartitions: Int,
      keyCol: Column
  ): DataFrame = {
    val ranges: Map[String, (Int, Int)] = BucketLayout.ranges(cfg, numPartitions).toMap
    val withBucket = df.withColumn("bucket", bucketOf(keyCol, cfg))
    val outSchema = org.apache.spark.sql.types.StructType(
      withBucket.schema.fields :+
        org.apache.spark.sql.types.StructField("pt", org.apache.spark.sql.types.IntegerType, nullable = true))
    val bucketIdx = withBucket.schema.fieldIndex("bucket")
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    withBucket.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val counters = scala.collection.mutable.HashMap.empty[String, Int]
      it.map { row =>
        val b = row.getString(bucketIdx)
        val pt: Any =
          if (b == null) null
          else ranges.get(b) match {
            case Some((_, 0)) | None => -1
            case Some((startP, size)) =>
              val c = counters.getOrElseUpdate(b, pid)
              counters(b) = c + 1
              startP + BucketLayout.counterSlot(c, size)
          }
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ pt)
      }
    }
  }

  /** [[routeUniform]] as a first-class Catalyst operator (§2.5 preference
    * (c)): same per-(task, bucket) counter semantics, but executed by
    * [[graft.plans.AssignPartitionsExec]] directly over `UnsafeRow`s —
    * no Row encoder round-trip. */
  def routeUniformNative(
      df: DataFrame,
      cfg: BucketPriorityConfig,
      numPartitions: Int,
      keyCol: Column
  ): DataFrame = assignPartitions(df, cfg, numPartitions, keyCol, None)

  /** `df` with `bucket` and `pt` added by [[graft.plans.AssignPartitions]],
    * dealt in `dealBy` order when given (the counter's seed, see there).
    * Registers [[graft.plans.GraftStrategy]] on the session idempotently (or
    * use `GraftExtensions` cluster-wide). An input `pt` is dropped first, so
    * a routed frame can be routed again. */
  private def assignPartitions(
      df: DataFrame,
      cfg: BucketPriorityConfig,
      numPartitions: Int,
      keyCol: Column,
      dealBy: Option[Column]
  ): DataFrame = {
    val spark = df.sparkSession
    graft.plans.GraftStrategy.register(spark)
    val ranges: Map[String, (Int, Int)] = BucketLayout.ranges(cfg, numPartitions).toMap
    val withBucket = df.drop("pt").withColumn("bucket", bucketOf(keyCol, cfg))
    val childPlan = Bridge.logicalPlan(withBucket)
    // resolve the attribute withColumn just produced: exact name when unique
    // (withColumn guarantees one column named "bucket" whether it appended
    // or replaced); positional last as the fallback for resolvers that kept
    // a pre-existing differently-cased name — never bind some other column
    val bucketAttr = childPlan.output.filter(_.name == "bucket") match {
      case Seq(a) => a
      case _ =>
        val last = childPlan.output.last
        require(last.name.equalsIgnoreCase("bucket"),
          s"cannot locate the routed bucket column in ${childPlan.output.map(_.name)}")
        last
    }
    // the order expression resolved against the same child plan
    val dealOrder = dealBy.map { c =>
      val Project(Seq(e), _) = Bridge.logicalPlan(withBucket.select(c)): @unchecked
      SortOrder(e match { case Alias(inner, _) => inner; case a => a }, Ascending)
    }
    val ptAttr = AttributeReference("pt", IntegerType, nullable = true)()
    Bridge.ofRows(spark,
      graft.plans.AssignPartitions(ranges, bucketAttr, ptAttr, dealOrder, childPlan))
  }

  /** `discard` fallback: keep only routable rows (documented intent of
    * DiscardPartitioner.java:15-18 — unroutable messages are never written). */
  def discard(df: DataFrame): DataFrame =
    df.filter(col("pt").isNotNull && col("pt") =!= -1)
}
