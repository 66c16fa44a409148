package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Session
import graft.SparkEntry

/** End-to-end training-data curation example: the §2.4 verbs chained the way
  * a pretraining data pipeline actually runs them, each stage consuming the
  * previous stage's survivors and printing its accounting. Every operator
  * used here is an oracle-gated `SparkEntry.queries` entry — the demo adds
  * no logic of its own beyond the joins that thread doc survivorship
  * through, so what it demonstrates is exactly what the gate checks.
  *
  * Stages (the standard recipe, e.g. RefinedWeb/FineWeb-style):
  *   1. gopher_rules        — rule-gate raw documents (quality floor)
  *   2. dedup_exact         — drop exact duplicates (keep first)
  *   3. dedup_survivorship  — collapse near-dup clusters to one survivor
  *   4. decontaminate       — remove benchmark-contaminated docs
  *   5. quality_buckets     — CCNet terciles on the survivors' corpus stats
  *   6. mix_weights         — per-source sampling weights (α = 0.5)
  *   7. curriculum_schedule — easy-first global training order
  *   8. pack_sequences      — greedy token-budget packing of the survivors
  *
  * Run: sbt "runMain graft.examples.TrainingDataPipelineDemo [sfDir]"
  */
object TrainingDataPipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")

    val spark = Session.local("training-data-pipeline-demo", cores = 4)

    def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)

    val raw = graft.Tables.load(spark, sfDir, "documents")
    val total = raw.count()
    println(s"== 0. raw corpus: $total documents ==")

    // 1. quality rule gate
    val gated = q("gopher_rules").filter(col("pass")).select("doc_id")
    println(s"== 1. gopher_rules: ${gated.count()} pass the rule gate ==")

    // 2. exact dedup (dedup_exact emits the kept canonical doc per text
    // group with its copy count)
    val exactKeep = q("dedup_exact").select("doc_id")
    val afterExact = gated.join(exactKeep, Seq("doc_id"))
    println(s"== 2. dedup_exact: ${afterExact.count()} after exact dedup ==")

    // 3. near-dup survivorship: survivors of minhash clusters + all
    // unclustered docs (docs absent from the cluster map)
    val clustered = q("dedup_minhash_clusters").select("doc_id", "cluster")
    val survivors = q("dedup_survivorship").select(col("survivor_id").as("doc_id"))
    val afterNear = afterExact.join(clustered, Seq("doc_id"), "left_anti")
      .unionByName(afterExact.join(survivors, Seq("doc_id")))
    println(s"== 3. dedup_survivorship: ${afterNear.count()} after near-dup collapse ==")

    // 4. benchmark decontamination: per-doc overlap scores; any benchmark
    // shingle overlap marks the doc contaminated (decontaminate is the
    // per-source accounting of the same decision)
    val contaminated = q("contamination_score")
      .filter(col("n_overlap") > 0).select("doc_id")
    val clean = afterNear.join(contaminated, Seq("doc_id"), "left_anti")
    println(s"== 4. decontaminate: ${clean.count()} after contamination removal ==")

    // 5. quality terciles over the full corpus stats, reported on survivors
    val buckets = q("quality_buckets").select("doc_id", "lang", "ppl_bucket")
    println("== 5. quality_buckets: survivor tercile distribution ==")
    clean.join(buckets, Seq("doc_id"))
      .groupBy("ppl_bucket").count().orderBy("ppl_bucket").show()

    // 6. mixture weights for the sampling stage
    println("== 6. mix_weights: per-source sampling weights (alpha = 0.5) ==")
    q("mix_weights").show(5)

    // 7. curriculum order on the survivors
    val curriculum = q("curriculum_schedule")
    println("== 7. curriculum_schedule: first 5 training positions among survivors ==")
    clean.join(curriculum, Seq("doc_id")).orderBy("pos").show(5)

    // 8. sequence packing accounting
    println("== 8. pack_sequences: packing efficiency ==")
    q("pack_sequences").agg(count(lit(1)).as("packs"),
      sum(col("n_docs")).as("docs_packed"),
      sum(col("pack_tokens")).as("tokens_packed")).show()

    // 9. closing datacard (r7): is the curated corpus healthy?
    println("== 9a. zipf_fit: rank-frequency law (natural text ≈ -1) ==")
    q("zipf_fit").show()
    println("== 9b. tokenizer_fertility: subwords per word by source × lang ==")
    q("tokenizer_fertility").orderBy(col("fertility").desc).show(5)

    // 10. eval gate (r7 tail): held-out quality + signal audit — the
    // checks a pipeline runs BEFORE shipping the mix
    println("== 10a. heldout_bigram_ppl: generalization scores on the val band (worst 5) ==")
    q("heldout_bigram_ppl").orderBy("logprob").show(5)
    println("== 10b. auc_dup_quality: is length predictive of duplicated text? ==")
    q("auc_dup_quality").show()
    println("== 10c. gini_source_tokens: how concentrated is the token budget? ==")
    q("gini_source_tokens").show()

    println(s"pipeline: $total raw -> ${clean.count()} curated survivors")
    spark.stop()
  }
}
