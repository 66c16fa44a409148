package perfbench

import java.util.SplittableRandom

import graft.core.BucketPriorityConfig

/** One benchmark workload: a bucket layout, the key mix offered to it, and
  * the fixed overload rate. Rates are constants, never calibrated at run
  * time, so two commits are offered identical load.
  *
  * @param weights     share of new events per bucket, in `cfg.buckets` order
  * @param unroutable  share of new events whose key names no bucket
  * @param overloadEps offered events/s of the `overload` phase (above capacity)
  */
final case class Workload(
    name: String,
    cfg: BucketPriorityConfig,
    partitions: Int,
    weights: Seq[Double],
    unroutable: Double,
    overloadEps: Int) {
  require(weights.size == cfg.buckets.size, "one weight per bucket")
  def hi: String = cfg.buckets.head
  def lo: String = cfg.buckets.last
}

object Workload {
  /** Events in the producer batch. */
  val ProduceEvents = 100000
  /** Share of stream slots that re-send a recent event. */
  val DupShare = 0.05
  /** Offered events/s of the `steady` phase, below either layout's capacity. */
  val SteadyEps = 2000

  private def cfg(topic: String, buckets: Seq[String], alloc: Seq[Int]) =
    BucketPriorityConfig(topic, buckets, alloc).fold(e => sys.error(e.toString), identity)

  /** The reference quickstart: topic `orders`, Platinum 70 / Gold 30 over
    * six partitions, keys split evenly between the buckets. On a 4-core box
    * this layout drains about 9.1k events/s, so `steady` offers under a
    * quarter of that and `overload` about 1.3 times it, while Platinum's
    * half of the overload (5.9k/s) stays inside 70% of it. */
  val quickstart: Workload = Workload(
    "quickstart", cfg("orders", Seq("Platinum", "Gold"), Seq(70, 30)), 6,
    weights = Seq(0.49, 0.49), unroutable = 0.02, overloadEps = 12000)

  /** Four buckets 40/30/20/10 over ten partitions, keys skewed toward the
    * top bucket, a tenth of them unroutable (null, unknown, empty token).
    * Five streaming queries drain about 4.1k events/s on the same box, so
    * `overload` offers about 1.45 times that; here the top bucket's share of
    * the load exceeds its share of the pools. */
  val skewed: Workload = Workload(
    "skewed", cfg("events", Seq("B1", "B2", "B3", "B4"), Seq(40, 30, 20, 10)), 10,
    weights = Seq(0.39, 0.27, 0.16, 0.08), unroutable = 0.10, overloadEps = 6000)

  val all: Seq[Workload] = Seq(quickstart, skewed)
  def byName(n: String): Option[Workload] = all.find(_.name == n)
}

/** Seeded synthetic keys. The engine only ever sees what this produces. */
final class KeyGen(w: Workload, seed: Long) {
  private val rnd = new SplittableRandom(seed)
  private val cum = w.weights.scanLeft(0.0)(_ + _).tail
  private val delim = w.cfg.delimiter

  /** Bucket index of the next key, or -1 for an unroutable one, and the key
    * itself (null for a null key). Key shapes follow the reference's
    * README: `Bucket`, `Bucket-<id>`, `Bucket-Group<g>-<id>`, with stray
    * whitespace around the bucket token that routing must trim. */
  def next(id: Long): (Int, String) = {
    val u = rnd.nextDouble() * (cum.last + w.unroutable)
    val b = cum.indexWhere(u < _)
    if (b < 0) (-1, unroutableKey(id))
    else {
      val name = w.cfg.buckets(b)
      val key = rnd.nextInt(8) match {
        case 0 => name
        case 1 => s" $name $delim$id"
        case 2 | 3 => s"$name${delim}Group${rnd.nextInt(16)}$delim$id"
        case _ => s"$name$delim$id"
      }
      (b, key)
    }
  }

  private def unroutableKey(id: Long): String = rnd.nextInt(4) match {
    case 0 => null
    case 1 => s"Silver$delim$id"
    case 2 => s"$delim${w.cfg.buckets.head}$delim$id"
    case _ => s"${w.cfg.buckets.head.toLowerCase}$delim$id"
  }

  def nextDouble(): Double = rnd.nextDouble()
  def nextInt(n: Int): Int = rnd.nextInt(n)
}
