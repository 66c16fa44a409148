package graft.plans

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, UnaryExecNode}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.BucketLayout

/** Priority routing as a first-class physical operator — a logical node, a
  * planner strategy, and an `InternalRow`-level exec — behind both
  * [[graft.sql.BucketRouting.route]] and
  * [[graft.sql.BucketRouting.routeUniformNative]].
  *
  * Both keep one round-robin counter per (task, bucket), the reference's
  * per-producer `AtomicInteger` design (Bucket.java:14,22-29) with the task
  * in the producer's place, and append `pt` to the unmodified `UnsafeRow`
  * via a `JoinedRow` + reused projection — no encoder round-trip, pipelined
  * with the upstream scan. They differ only in the counter's seed:
  *   - `dealOrder = None` (routeUniformNative): rows in arrival order, the
  *     counter seeded with the task's partition id, exactly
  *     `routeUniform`'s mapPartitions router;
  *   - `dealOrder = Some(o)` (route): rows sorted by `o` inside each task (a
  *     local sort, no exchange), each bucket's counter seeded with that
  *     bucket's row count in EARLIER tasks. A counting job over the same
  *     child RDD supplies those counts (the `zipWithIndex` pattern), so the
  *     counters of all tasks together deal ordinals 0..n−1 to a bucket's n
  *     rows: ≤1 skew per bucket exactly, the closed-form counts of a global
  *     counter.
  *
  * `ranges`: bucket → (startPartition, size) from `BucketLayout.ranges`;
  * size 0 or a name with no range ⇒ −1 (discard downstream), null bucket ⇒
  * null pt (engine placement).
  */
final case class AssignPartitions(
    ranges: Map[String, (Int, Int)],
    bucketAttr: Attribute,
    ptAttr: Attribute,
    dealOrder: Option[SortOrder],
    child: LogicalPlan
) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ ptAttr
  // pt is produced HERE — without this the analyzer flags it as missing
  // input. bucketAttr and dealOrder being constructor fields puts them in
  // `expressions`, so `references` = {bucket, seq}: the read dependency that
  // stops ColumnPruning from dropping either column under this node when
  // the parent query doesn't select it.
  override def producedAttributes: AttributeSet = AttributeSet(ptAttr :: Nil)
  override protected def withNewChildInternal(newChild: LogicalPlan): AssignPartitions =
    copy(child = newChild)
}

/** Plans [[AssignPartitions]] into [[AssignPartitionsExec]]. Registered
  * per-session by [[GraftStrategy.register]] or cluster-wide via
  * `GraftExtensions` (`injectPlannerStrategy`). */
object GraftStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AssignPartitions(ranges, bucketAttr, ptAttr, dealOrder, child) =>
      AssignPartitionsExec(ranges, bucketAttr, ptAttr, dealOrder, planLater(child)) :: Nil
    case _ => Nil
  }

  /** Adds this strategy to `spark`'s extra strategies unless it is there.
    * Synchronized check-then-append: two concurrent callers racing here
    * could otherwise each read the same list and one would overwrite the
    * other's (or a user's concurrently-added) strategy. */
  def register(spark: SparkSession): Unit = spark.experimental.synchronized {
    if (!spark.experimental.extraStrategies.contains(this))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ this
  }
}

/** The bucket names as `UTF8String`s, looked up by the row's bytes — no
  * `String` decode per row. Linear: a layout holds a handful of buckets. */
private final class BucketIndex(ranges: Map[String, (Int, Int)]) {
  private val entries = ranges.toArray
  val names: Array[UTF8String] = entries.map(e => UTF8String.fromString(e._1))
  val starts: Array[Int] = entries.map(_._2._1)
  val sizes: Array[Int] = entries.map(_._2._2)

  /** Index of `b`'s range, or −1 when no bucket has that name. */
  def indexOf(b: UTF8String): Int = {
    var i = 0
    while (i < names.length) {
      if (names(i).equals(b)) return i
      i += 1
    }
    -1
  }

  /** Index of the row's bucket when it has partitions to deal to; else −1. */
  def dealt(row: InternalRow, bucketIdx: Int): Int =
    if (row.isNullAt(bucketIdx)) -1
    else {
      val i = indexOf(row.getUTF8String(bucketIdx))
      if (i >= 0 && sizes(i) > 0) i else -1
    }
}

final case class AssignPartitionsExec(
    ranges: Map[String, (Int, Int)],
    bucketAttr: Attribute,
    ptAttr: Attribute,
    dealOrder: Option[SortOrder],
    child: SparkPlan
) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ ptAttr
  override def producedAttributes: AttributeSet = AttributeSet(ptAttr :: Nil)
  // narrow op: partition count and distribution are untouched
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning
  override protected def withNewChildInternal(newChild: SparkPlan): AssignPartitionsExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val bucketIdx = child.output.indexWhere(_.exprId == bucketAttr.exprId)
    require(bucketIdx >= 0, "AssignPartitions child must carry the bucket column")
    val out = output
    val rangesLocal = ranges
    val nb = ranges.size
    val input = child.execute()
    dealOrder match {
      case None =>
        input.mapPartitions({ iter =>
          val pid = TaskContext.getPartitionId().toLong
          AssignPartitionsExec.deal(iter, rangesLocal, bucketIdx, out, Array.fill(nb)(pid), null)
        }, preservesPartitioning = true)
      case Some(order) =>
        // per task, per bucket: the rows this task will deal
        val counted: Array[Array[Long]] = sparkContext.runJob(input, { (iter: Iterator[InternalRow]) =>
          val idx = new BucketIndex(rangesLocal)
          val n = new Array[Long](nb)
          iter.foreach { row =>
            val i = idx.dealt(row, bucketIdx)
            if (i >= 0) n(i) += 1
          }
          n
        })
        val seeds = counted.scanLeft(new Array[Long](nb)) { (acc, n) =>
          acc.zip(n).map { case (a, b) => a + b }
        }
        val sorter = SortExec(order :: Nil, global = false, child)
        input.mapPartitionsWithIndex({ (pid, iter) =>
          val sorted = sorter.createSorter().sort(iter.asInstanceOf[Iterator[UnsafeRow]])
          AssignPartitionsExec.deal(sorted, rangesLocal, bucketIdx, out, seeds(pid), counted(pid))
        }, preservesPartitioning = true)
    }
  }
}

object AssignPartitionsExec {

  /** The counter loop of both routers. Bucket i's counter starts at
    * `seeds(i)`; with `expected` null (per-task seeds) the slot wraps as an
    * Int like the reference's counter, else the counter is the row's exact
    * ordinal in its bucket and the task checks at its end that it dealt
    * `expected(i)` rows of every bucket i. */
  private def deal(
      iter: Iterator[InternalRow],
      ranges: Map[String, (Int, Int)],
      bucketIdx: Int,
      out: Seq[Attribute],
      seeds: Array[Long],
      expected: Array[Long]
  ): Iterator[InternalRow] = {
    val idx = new BucketIndex(ranges)
    val counters = seeds.clone()
    val joined = new JoinedRow
    val ptRow = new GenericInternalRow(1)
    val project = UnsafeProjection.create(out, out)
    def verify(): Unit = for (i <- counters.indices) {
      val dealt = counters(i) - seeds(i)
      if (dealt != expected(i)) throw new IllegalStateException(
        s"route: task ${TaskContext.getPartitionId()} dealt $dealt rows of bucket " +
          s"${idx.names(i)} but its counting pass saw ${expected(i)}; route's input " +
          "must yield the same rows on every evaluation")
    }
    new Iterator[InternalRow] {
      override def hasNext: Boolean = {
        val more = iter.hasNext
        if (!more && expected != null) verify()
        more
      }
      override def next(): InternalRow = {
        val row = iter.next()
        if (row.isNullAt(bucketIdx)) ptRow.update(0, null)
        else {
          val i = idx.dealt(row, bucketIdx)
          if (i < 0) ptRow.update(0, -1)
          else {
            val c = counters(i)
            counters(i) = c + 1
            val size = idx.sizes(i)
            val slot = if (expected == null) BucketLayout.counterSlot(c.toInt, size) else (c % size).toInt
            ptRow.update(0, idx.starts(i) + slot)
          }
        }
        project(joined(row, ptRow))
      }
    }
  }
}
