package graft

import org.apache.spark.sql.functions._

/** sf1 corpus generator for the order-of-magnitude scale check (r9,
  * verdict item 4): replicate the driver's sf0.1 `documents` and
  * `embeddings` 10× with per-replica decorrelation chosen so the TRUE
  * result scales linearly by construction — the point is to measure the
  * ENGINE's scaling, not to manufacture a quadratic answer:
  *
  *  - documents: replica r suffixes every token with `_r{r}` (replica 0 is
  *    the original), so cross-replica shingles/grams NEVER collide —
  *    each replica carries exactly sf0.1's dup/near-dup structure and the
  *    global answer is 10 independent copies (df distributions, pair
  *    counts, cluster counts all ×10, never ×45 from self-pairing);
  *  - embeddings: replica r cyclically rotates the 64 dims by 7r — an
  *    orthogonal transform, so EVERY within-replica dot product, norm, and
  *    cosine is bit-preserved (the replica is geometrically identical to
  *    sf0.1) while cross-replica vectors decorrelate.
  *
  * Writes to /tmp (builder-side scratch, like /tmp/verify_out); testdata
  * itself is read-only. Deterministic — no RNG anywhere.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/sf1"
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "10").toInt
    val spark = Session.local("graft-scale-gen")

    val repCol = explode(array((0 until reps).map(lit(_)): _*)).as("rep")

    val docs = Tables.load(spark, src, "documents")
    val dBase = docs.agg(max("doc_id")).head().getLong(0) + 1
    docs.select(col("*"), repCol)
      .select(
        (col("doc_id") + col("rep").cast("long") * dBase).as("doc_id"),
        when(col("rep") === 0, col("text"))
          .otherwise(array_join(
            transform(split(col("text"), " "),
              t => concat(t, lit("_r"), col("rep").cast("string"))), " "))
          .as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = Tables.load(spark, src, "embeddings")
    val vBase = emb.agg(max("vec_id")).head().getLong(0) + 1
    emb.select(col("*"), repCol)
      .select(
        (col("vec_id") + col("rep").cast("long") * vBase).as("vec_id"),
        expr("concat(slice(embedding, pmod(rep * 7, 64) + 1, 64 - pmod(rep * 7, 64))," +
          " slice(embedding, 1, pmod(rep * 7, 64)))").as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // events (r10): user_id/event_id shift per replica so user-grain ops
    // scale linearly; ts/type/value stay — the calendar span is IDENTICAL,
    // so day-grain series ops (markov/trend/decomposition family) keep a
    // bounded true answer while volume grows 10× — exactly their 100 TB
    // contract ("quadratic in CALENDAR DAYS, never rows").
    val ev = Tables.load(spark, src, "events")
    val uBase = ev.agg(max("user_id")).head().getLong(0) + 1
    val eBase = ev.agg(max("event_id")).head().getLong(0) + 1
    ev.select(col("*"), repCol)
      .select(
        (col("event_id") + col("rep").cast("long") * eBase).as("event_id"),
        col("ts"),
        (col("user_id") + col("rep").cast("long") * uBase).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    val nd = spark.read.parquet(s"$out/documents.parquet").count()
    val ne = spark.read.parquet(s"$out/embeddings.parquet").count()
    val nv = spark.read.parquet(s"$out/events.parquet").count()
    println(s"""{"metric":"scale_gen","out":"$out","reps":$reps,"documents":$nd,"embeddings":$ne,"events":$nv}""")
    spark.stop()
  }
}
