package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.SparkTestBase

/** Focused contracts for the third round-16 optimization batch: the
  * single-corpus-pass rewrites of burrows_delta (one (source, tok)
  * aggregate re-aggregated three ways), bm25_topk (one per-doc conditional
  * aggregate replacing the (doc, term) agg + doc-length join), and
  * bigram_logprob (context total as a window over the counts exchange
  * instead of an agg-then-join-back), plus executed-plan pins that the
  * ppl family's decode chains read only checkpointed frames. The DuckDB
  * oracle pins exact output values at the gate; these pin the
  * equivalences and plan shapes the oracle can't see.
  */
class R16Batch3Spec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("burrows_delta: (source,tok) counts reproduce top / srcTot / freq") {
    val toks = graft.Tables.load(spark, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
    val stok = toks.groupBy("source", "tok").agg(count(lit(1)).as("c"))
    // old spelling: three independent corpus aggregations
    val oldTop = toks.groupBy("tok").agg(count(lit(1)).as("tc"))
      .orderBy(col("tc").desc, col("tok")).limit(50).select("tok")
      .collect().map(_.getString(0)).toSeq
    val oldSrcTot = toks.groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val oldFreq = toks.join(broadcast(
        toks.groupBy("tok").agg(count(lit(1)).as("tc"))
          .orderBy(col("tc").desc, col("tok")).limit(50).select("tok")),
        Seq("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // new spelling: everything re-aggregates the one (source, tok) frame
    val newTop = stok.groupBy("tok").agg(sum(col("c")).as("tc"))
      .orderBy(col("tc").desc, col("tok")).limit(50).select("tok")
      .collect().map(_.getString(0)).toSeq
    val newSrcTot = stok.groupBy("source").agg(sum(col("c")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val newFreq = stok.join(broadcast(
        stok.groupBy("tok").agg(sum(col("c")).as("tc"))
          .orderBy(col("tc").desc, col("tok")).limit(50).select("tok")),
        Seq("tok"))
      .select(col("source"), col("tok"), col("c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(newTop.nonEmpty && oldTop == newTop)
    assert(oldSrcTot == newSrcTot)
    assert(oldFreq == newFreq)
  }

  test("bm25: per-doc conditional counts ≡ the (doc, term) agg + dl join") {
    val qlist = Seq("hash", "join", "merge", "window", "sort", "order",
      "stream", "batch", "spark")
    val toks = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    // old spelling
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val oldRows = tf.filter(col("term").isin(qlist: _*))
      .join(dl, Seq("doc_id"))
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val oldStats = dl.agg(count(lit(1)), sum(col("dl"))).collect()(0)
    // new spelling: one per-doc aggregate, stacked back to rows
    val per = toks.groupBy("doc_id")
      .agg(count(lit(1)).as("dl"),
        qlist.map(t =>
          sum(when(col("term") === t, 1L).otherwise(0L)).as(s"c_$t")): _*)
    val newRows = per.select(col("doc_id"), col("dl"), expr(
        s"stack(${qlist.size}, ${qlist.map(t => s"'$t', c_$t").mkString(", ")})"
          + " AS (term, tf)"))
      .filter(col("tf") > 0)
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val newStats = per.agg(count(lit(1)), sum(col("dl"))).collect()(0)
    assert(newRows.nonEmpty && oldRows == newRows,
      "stacked conditional counts must equal the (doc, term) aggregation")
    assert(oldStats == newStats)
  }

  test("bigram_logprob: na over the a-window ≡ the ctx inner join-back") {
    val counts = graft.Tables.load(spark, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(toks) - 2),
          |  i -> struct(element_at(toks, i + 1) AS a, element_at(toks, i + 2) AS b))"""
          .stripMargin)).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("nb"))
    val ctx = counts.groupBy("a").agg(sum(col("nb")).as("na"))
    val oldNa = counts.join(ctx, Seq("a"))
      .select(col("a"), col("b"), col("na"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val newNa = counts
      .withColumn("na", sum(col("nb")).over(Window.partitionBy(col("a"))))
      .select(col("a"), col("b"), col("na"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(newNa.nonEmpty && oldNa == newNa,
      "window context totals must equal the joined-back aggregation")
  }

  test("batch-3 final plans read checkpoints, not the corpus") {
    for (q <- Seq("burrows_delta", "kn_bigram_ppl", "bigram_logprob", "bm25_topk")) {
      val qe = graft.SparkEntry.queries(q)(spark, dir).queryExecution
      qe.toRdd.count()
      assert(docScanCount(qe) == 0,
        s"$q: the scoring plan must derive from the materialized aggregates")
    }
  }
}
