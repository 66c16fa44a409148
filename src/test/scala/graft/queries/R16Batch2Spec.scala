package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.SparkTestBase

/** Focused contracts for the second round-16 optimization batch: the
  * window-df rewrite of the duplicated-5-gram label family (df per gram via
  * a gh-window over the SAME (doc, gh) frame instead of an agg-then-join-
  * back that re-ran the corpus explode), the single-corpus-pass
  * greedy_source_cover incidence frame, and the one-scan / checkpoint-fed
  * plan shapes of the queries whose lazy subtrees used to re-execute per
  * branch (ReuseCheck read 6-56 parquet scans on their old forms). The
  * DuckDB oracle pins exact output values at the gate; these pin the
  * equivalences and plan shapes the oracle can't see.
  */
class R16Batch2Spec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("window-df == agg-then-join-back df on the real (doc, gh) frame") {
    val tf = graft.Tables.load(spark, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 5)
      .select(col("doc_id"), explode(graft.functions.WindowMd5Functions
        .rollingWindowHashes(col("toks"), 5)).as("gh"))
      .groupBy("doc_id", "gh").agg(count(lit(1)).as("c"))
    val oldDf = tf.groupBy("gh").agg(count(lit(1)).as("df"))
    val oldLab = tf.join(oldDf, Seq("gh"))
      .select(col("doc_id"), hex(col("gh")).as("gh"), col("df"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val newLab = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("gh"))))
      .select(col("doc_id"), hex(col("gh")).as("gh"), col("df"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(newLab.nonEmpty && oldLab == newLab,
      "count over the gh window must equal the per-gram row count joined back")
  }

  test("greedy_source_cover: per-(source,bg) counts reproduce the 3-pass incidence frame") {
    val toks = graft.Tables.load(spark, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
    val bgAll = toks.filter(size(col("toks")) >= 2)
      .select(col("source"), explode(expr(
        """transform(sequence(0, size(toks) - 2),
          |  i -> concat(element_at(toks, i + 1), ' ', element_at(toks, i + 2)))"""
          .stripMargin)).as("bg"))
    // old spelling: corpus-wide weights + a distinct incidence frame + join
    val wt = bgAll.groupBy("bg").agg(count(lit(1)).as("w"))
    val oldSt = bgAll.distinct().join(wt, Seq("bg"))
      .select(col("source"), col("bg"), col("w"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val oldTot = wt.agg(sum(col("w"))).collect()(0).getLong(0)
    // new spelling: ONE (source, bg) aggregate; w from the bg window,
    // total from the same frame's counts
    val sbg = bgAll.groupBy("source", "bg").agg(count(lit(1)).as("c"))
    val newStFrame = sbg
      .withColumn("w", sum(col("c")).over(Window.partitionBy(col("bg"))))
    val newSt = newStFrame.select(col("source"), col("bg"), col("w"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val newTot = newStFrame.agg(sum(col("c"))).collect()(0).getLong(0)
    assert(newSt.nonEmpty && oldSt == newSt,
      "window-summed weights must equal the corpus-wide bigram counts")
    assert(oldTot == newTot, s"total mass must match: $oldTot vs $newTot")
  }

  test("dup_ngram_ratio: ONE documents scan (window shares the gh exchange)") {
    val qe = graft.SparkEntry.queries("dup_ngram_ratio")(spark, dir).queryExecution
    qe.toRdd.count()
    assert(docScanCount(qe) == 1,
      "the df side must read the same (doc, gh) frame, not re-explode the corpus")
  }

  test("auc_dup_quality: the label pass explodes the corpus once") {
    val qe = graft.SparkEntry.queries("auc_dup_quality")(spark, dir).queryExecution
    qe.toRdd.count()
    // one text explode for the label + one narrow (doc_id, n_chars) scan
    assert(docScanCount(qe) == 2,
      "expected the 5-gram explode once plus the n_chars projection")
  }

  test("bigram_greedy_decode: the decode chain reads only checkpointed frames") {
    val qe = graft.SparkEntry.queries("bigram_greedy_decode")(spark, dir).queryExecution
    qe.toRdd.count()
    assert(docScanCount(qe) == 0,
      "model and start are materialized once; the unrolled steps must not re-scan the corpus")
  }

  test("spearman_length_quality: the rank grids read the checkpointed (x, y) frame") {
    val qe = graft.SparkEntry.queries("spearman_length_quality")(spark, dir).queryExecution
    qe.toRdd.count()
    assert(docScanCount(qe) == 0,
      "xg/ygrid/m must derive from the materialized base, not re-tokenize the corpus")
  }
}
