package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** SURVEY §2.4 ANN index LIFECYCLE (r15, VERDICT items 1/2/6): the
  * build-once / serve-many half of the ANN engine that [[AnnQueries]]'s
  * in-plan retrievers deliberately do not model.
  *
  * Every AnnQueries ANN query retrains the quantizers and re-encodes the
  * corpus INSIDE the query plan — correct for auditing semantics, wrong as
  * a serving architecture at 100 TB, where the index is built once,
  * persisted partitioned by `list_id`, and a query reads ONLY its probed
  * partitions. This file supplies that missing half:
  *
  *   - [[servedIndex]]: materialize (coarse centroids, trained per-subspace
  *     residual-PQ codebooks, 1-byte-per-subspace codes) from the r14
  *     trained pipeline — the SHARED gated builders, so the persisted index
  *     is provably the in-plan retriever's own — as parquet, codes
  *     partitioned by `list_id`.
  *   - `ivf_pq_served_topk`: serve top-k FROM the persisted index. The
  *     probes→codes join is on the partition column, so Spark's dynamic
  *     partition pruning reads only the probed `list_id=` directories (the
  *     spec pins the pruning in the executed plan). Result-identical to
  *     `ivf_pq_residual_refined_topk` — its SQL is the oracle.
  *   - `index_append`: maintain the index without retraining — assign +
  *     encode an incoming batch against the FROZEN quantizers, with
  *     per-list growth accounting and a staleness signal.
  *   - `ivf_sampled_topk` / `ivf_sampled_recall`: execute the "train on a
  *     sample at 100 TB" claim — coarse quantizer trained on a
  *     deterministic hash-sample, FULL corpus served, recall measured
  *     leg-for-leg against the full-corpus-trained retriever.
  *
  * Scale shape: the build is the training pipeline's cost (paid once per
  * session — the bpeTrainLoop memo discipline); serving reads
  * nprobe/nlist of the codes table via partition pruning plus three
  * broadcast-sized frames (16 centroids, ≤128 codebook rows, the per-query
  * ADC table). At 100 TB with nlist re-sharded up (the ReshardCheck dial),
  * serving cost is proportional to the probed lists only.
  */
object AnnIndexQueries {

  /** Root directory of one materialized index; layout:
    * `centroids/` (cent_id, centv float[64]) — the coarse quantizer,
    * `codebook/`  (j, code, centv double[8]) — trained residual-PQ,
    * `codes/list_id=N/` (cid, j, code)       — the corpus, 8 codes/vector,
    * `vectors/list_id=N/` (cid, cv float[64]) — raw vectors co-partitioned
    *   with their codes (the FAISS convention) so the exact re-rank reads
    *   only probed lists too, never the source table. */
  private[queries] final case class ServedIndex(
      root: String,
      centroidsSchema: org.apache.spark.sql.types.StructType,
      codebookSchema: org.apache.spark.sql.types.StructType,
      codesSchema: org.apache.spark.sql.types.StructType,
      vectorsSchema: org.apache.spark.sql.types.StructType) {
    def centroidsPath: String = root + "/centroids"
    def codebookPath: String = root + "/codebook"
    def codesPath: String = root + "/codes"
    def vectorsPath: String = root + "/vectors"
  }

  /** Session-scoped memo of the built index (the bpeTrainLoop pattern,
    * atomic lock included): build once per (session, dir), serve many.
    * The parquet content is a pure function of the corpus (trained by the
    * gated deterministic pipeline), so rebuilding after a session restart
    * is idempotent; `overwrite` mode makes a stale dir from a dead session
    * harmless. */
  private val ixMemo = new java.util.concurrent.atomic.AtomicReference[
    (java.lang.ref.WeakReference[org.apache.spark.sql.SparkSession], String, ServedIndex)]()
  private val ixLock = new Object

  /** Count of actual index builds (memo misses) — the spec pins
    * build-once-serve-many with it. */
  private[queries] val ixBuilds = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Build (or return the memoized) persisted index for `dir`. Every
    * stage is the gated builder the in-plan retrievers run —
    * [[AnnQueries.ivfLists]] (coarse assignment),
    * [[AnnQueries.pqResidualSubFrom]] (residual slices),
    * [[AnnQueries.pqResidualTrainFrom]] (trained codebooks),
    * [[AnnQueries.pqResidualCodesFrom]] (the encoder) — so the persisted
    * bytes are provably the audit queries' own index. Codes are written
    * `partitionBy("list_id")` after ONE repartition on the partition
    * column (co-locates each list's rows into one task → one file per
    * list, the bucketed-layout discipline; at 100 TB this is the
    * write-side shuffle the read side never pays again). */
  private[queries] def servedIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): ServedIndex =
    ixLock.synchronized {
      ixMemo.get() match {
        case (ref, d, ix) if ref != null && (ref.get() eq s) && d == dir =>
          return ix
        case _ =>
      }
      ixBuilds.incrementAndGet()
      val t0 = System.nanoTime()
      val emb = Tables.load(s, dir, "embeddings")
      val cents = AnnQueries.ivfCentroids(emb)
      // r16 (verdict item 3): the residual frame derives from its OWN
      // map-only coarse argmin (fused scan pipeline, no shuffle) so its
      // checkpoint overlaps listsFull's instead of waiting on it —
      // same bits, one fewer serial barrier in the build
      val Seq(listsFull, rsub) = Q.truncatePar(Seq(
        AnnQueries.ivfLists(emb),
        AnnQueries.pqResidualSubFrom(AnnQueries.ivfLists(emb), cents)))
      val cb = Q.truncate(AnnQueries.pqResidualTrainFrom(rsub)._1)
      val codes = AnnQueries.pqResidualCodesFrom(rsub, cb)
        .join(listsFull.select(col("cid"), col("list_id")), Seq("cid"))
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val root = new java.io.File(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"),
        s"graft-ann-index-$digest").getAbsolutePath
      // the writers' schemas ride in the memo so the serve side reads with
      // an EXPLICIT schema: an empty corpus writes zero parquet files, and
      // schema inference would fail on the empty dirs (EmptyInputSpec);
      // explicitly typing list_id long also kills the partition-dir
      // int-inference cast on the join key
      val vectors = listsFull.select(col("cid"), col("cv"), col("list_id"))
      val ix = ServedIndex(root, cents.schema, cb.schema, codes.schema,
        vectors.schema)
      // r15 (guide §2.6): the four index files are independent write jobs
      // over already-truncated inputs — overlap them instead of paying four
      // serial write barriers (the one-time build cost halves; raw vectors
      // stay co-partitioned with their codes, the FAISS convention, so the
      // exact re-rank reads only probed lists — see the class doc)
      Q.par[Unit](
        () => cents.write.mode("overwrite").parquet(ix.centroidsPath),
        () => cb.write.mode("overwrite").parquet(ix.codebookPath),
        () => codes.repartition(col("list_id"))
          .write.mode("overwrite").partitionBy("list_id").parquet(ix.codesPath),
        () => vectors.repartition(col("list_id"))
          .write.mode("overwrite").partitionBy("list_id").parquet(ix.vectorsPath))
      val ms = (System.nanoTime() - t0) / 1000000L
      System.err.println(
        s"[ann-index] build #${ixBuilds.get()} for $dir took $ms ms -> $root")
      ixMemo.set((new java.lang.ref.WeakReference(s), dir, ix))
      ix
    }

  /** nlist-parameterized index build for the re-shard measurement
    * (graft.ServedReshardCheck — the 100 TB serving dial): identical
    * pipeline to [[servedIndex]] with L coarse centroids (the first L
    * vectors) and PQ init codewords taken from the next 16 vectors past
    * the centroid block. NOT memoized and NOT a registry query — the
    * registry's gate shape stays L = 16; this exists so the "serving cost
    * tracks probed-list size" claim is measured at re-sharded L instead of
    * asserted. */
  private[graft] def buildServedIndexN(
      s: org.apache.spark.sql.SparkSession, dir: String,
      nl: Int, root: String): ServedIndex = {
    val emb = Tables.load(s, dir, "embeddings")
    val cents = emb.filter(col("vec_id") < nl)
      .select(col("vec_id").as("cent_id"), col("embedding").as("centv"))
    // r16: overlapped coarse-assignment + residual checkpoints (see
    // servedIndex)
    val Seq(listsFull, rsub) = Q.truncatePar(Seq(
      AnnQueries.ivfListsN(emb, nl),
      AnnQueries.pqResidualSubFrom(AnnQueries.ivfListsN(emb, nl), cents)))
    val cb = Q.truncate(AnnQueries.pqResidualTrainFrom(rsub, initLo = nl)._1)
    val codes = AnnQueries.pqResidualCodesFrom(rsub, cb)
      .join(listsFull.select(col("cid"), col("list_id")), Seq("cid"))
    val vectors = listsFull.select(col("cid"), col("cv"), col("list_id"))
    val ix = ServedIndex(root, cents.schema, cb.schema, codes.schema,
      vectors.schema)
    // overlapped independent write jobs — see servedIndex
    Q.par[Unit](
      () => cents.write.mode("overwrite").parquet(ix.centroidsPath),
      () => cb.write.mode("overwrite").parquet(ix.codebookPath),
      () => codes.repartition(col("list_id"))
        .write.mode("overwrite").partitionBy("list_id").parquet(ix.codesPath),
      () => vectors.repartition(col("list_id"))
        .write.mode("overwrite").partitionBy("list_id").parquet(ix.vectorsPath))
    ix
  }

  /** Serve from an [[buildServedIndexN]] index — [[servedTopk]]'s plan over
    * the provided index paths. */
  private[graft] def servedTopkFromIx(
      s: org.apache.spark.sql.SparkSession, dir: String, ix: ServedIndex)
      : org.apache.spark.sql.DataFrame = {
    val cents = s.read.schema(ix.centroidsSchema).parquet(ix.centroidsPath)
    val cb = s.read.schema(ix.codebookSchema).parquet(ix.codebookPath)
    val emb = Tables.load(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < AnnQueries.NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val probes = AnnQueries.ivfProbesFrom(q, cents)
    val adc = AnnQueries.residualAdcFrom(q, probes, cents, cb)
    // explicit schema (from the build) keeps the partition column its
    // written LONG type — no inference, no cast on the join/pruning key —
    // and makes an empty index readable (see servedIndex)
    val codes = s.read.schema(ix.codesSchema).parquet(ix.codesPath)
      .select(col("cid"), col("j"), col("code"), col("list_id"))
    // list_id rides through the ADC aggregation (functionally dependent on
    // cid, so first() is deterministic) — the refine join below prunes the
    // VECTORS table with it
    val dist = broadcast(probes).join(codes, Seq("list_id"))
      .filter(col("qid") =!= col("cid"))
      .join(broadcast(adc), Seq("qid", "list_id", "j", "code"))
      .groupBy("qid", "cid")
      .agg(sum(col("qd2")).as("adist"), first(col("list_id")).as("list_id"))
    // the exact re-rank reads the INDEX's own per-list raw vectors (the
    // FAISS convention), not the source embeddings table — so BOTH serving
    // stages are partition-pruned to the probed lists. Arithmetic is
    // ivfPqRefineTopk's verbatim (same windows, tie-breaks, grid): the cv
    // floats round-trip parquet exactly, so the result is bit-identical to
    // the in-plan refine and the shared oracle is unchanged.
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adist"), col("cid"))
    val short = dist
      .withColumn("srk", row_number().over(wAdc))
      .filter(col("srk") <= AnnQueries.RefineShortlist)
      .select(col("qid"), col("cid"), col("list_id"))
    val vectors = s.read.schema(ix.vectorsSchema).parquet(ix.vectorsPath)
      .select(col("cid"), col("cv"), col("list_id"))
    val rr = broadcast(short)
      .join(vectors, Seq("list_id", "cid"))
      .join(broadcast(q), Seq("qid"))
      .withColumn("sim",
        graft.functions.VectorFunctions.cosineSimilarity(col("qv"), col("cv")))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    rr.withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= AnnQueries.TopK)
      .select(col("qid"), col("cid"), Q.grid6(col("sim")).as("sim"), col("rk"))
      .orderBy("qid", "rk")
  }

  /** The serving plan over a built index: load centroids + codebook
    * (broadcast-sized), compute this query batch's probes and per-list
    * residual ADC table with the retrievers' own factored stages, then
    * join probes into the `list_id`-partitioned codes table — the join is
    * on the partition column with the probe side broadcast, so dynamic
    * partition pruning reads only probed partitions — and finish with the
    * gated ADC-sum + shortlist + exact-cosine re-rank tail. */
  private[queries] def servedTopk(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    servedTopkFromIx(s, dir, servedIndex(s, dir))

  /** Deterministic hash-sample predicate for quantizer training (the
    * sample_stratified md5-threshold idiom): the 16 seed vectors plus
    * every vector whose md5(vec_id) first hex char < '4' — ~25% of the
    * corpus, stable across engines and scales. The seeds are forced in so
    * the sampled training starts from the SAME init centroids as the
    * full-corpus training (kmeansTrainLoop seeds from vec_id < 16). */
  private val SampleHex = "4"
  private def sampledPredicate: org.apache.spark.sql.Column =
    col("vec_id") < 16 ||
      substring(md5(col("vec_id").cast("string")), 1, 1) < SampleHex
  private def sampledPredicateSql: String =
    s"vec_id < 16 OR substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '$SampleHex'"

  /** ivf_sampled_topk's Spark leg and complete oracle text, factored
    * before the map so ivf_sampled_recall can compose them without
    * reading a half-initialized map entry (the recall_at_k init-order
    * rule). */
  private def sampledTopkFn(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val cents = Q.truncate(TrainQueries.kmeansTrainLoop(
      emb.filter(sampledPredicate).select(col("vec_id"), col("embedding")))._1)
    AnnQueries.ivfL2ServeFrom(emb, cents)
  }

  private def sampledTopkSql: String = {
    val sampledBody =
      s"""SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |       FROM embeddings WHERE $sampledPredicateSql""".stripMargin
    val fullBody =
      """efull AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |          FROM embeddings)""".stripMargin
    "WITH " + TrainQueries.kmeansSqlCtesFrom(sampledBody) + ",\n" +
      fullBody + ",\n" + AnnQueries.ivfL2ServeTailSql("efull")
  }

  val all: Map[String, Q] = Map(

    // ---- serve top-k from the PERSISTED index (r15, VERDICT item 1) ------
    // The build-once / serve-many end state: quantizers trained and the
    // corpus encoded ONCE (servedIndex, memoized per session), then every
    // query reads 16 centroids + ≤128 codebook rows + ONLY the probed
    // list_id partitions of the codes table (dynamic partition pruning on
    // the probes⋈codes join — AnnIndexSpec pins the pruning filter in the
    // executed plan and measures the file-count cut). Result-identical BY
    // CONSTRUCTION to ivf_pq_residual_refined_topk: every stage is the
    // same gated builder, only the codes/codebook/centroids frames arrive
    // from parquet instead of in-plan lineage — so that query's SQL is the
    // oracle, and a hash match proves the persisted index serves exactly
    // what the in-plan pipeline computes.
    //
    // Scale shape: serving touches nprobe/nlist of the corpus (partition
    // pruning), one broadcast ADC join, a shortlist-sized exact re-rank.
    // The 100 TB tuning is the nlist re-shard (ReshardCheck) — serving
    // cost tracks probed-list size, never corpus size.
    "ivf_pq_served_topk" -> Q(
      fn = (s, dir) => servedTopk(s, dir),
      oracle = AnnQueries.base("ivf_pq_residual_refined_topk").oracle),

    // ---- incremental index maintenance (r15, VERDICT item 6) -------------
    // The no-retrain append path every persisted index needs: an incoming
    // batch (stand-in: vec_id ≡ 7 mod 10 — the dedup_incremental slice
    // idiom) is coarse-assigned to the EXISTING trained lists and
    // residual-PQ-encoded with the FROZEN codebooks, then the table
    // reports, per list: base size, appended count, growth, and a
    // STALENESS signal — the batch's mean encode distortion over the
    // base's training-time mean. On this corpus the batch is an in-sample
    // slice, so staleness ≈ 1 by construction (the calibration point); on
    // a drifted real batch the ratio rises above 1 list by list, which is
    // exactly the retrain trigger. Assignment-by-frozen-quantizer for an
    // in-corpus slice coincides with the gated ivfLists assignment (same
    // argmin, same centroids), so the shared builders compute it in ONE
    // pass instead of a separate batch-sized re-derivation.
    //
    // Float parity: per-(vec, subspace) d2 on the proven grid6 decimal;
    // per-list sums exact decimals; the three reported ratios are bare
    // correctly-rounded double divisions (growth, two means) and one
    // division of those two means (a deterministic chain).
    //
    // Scale shape: the append pass is batch-sized (assign = broadcast
    // argmin, encode = broadcast argmin); the base-side accounting reuses
    // the build's own frames. No corpus-sized shuffle beyond the build's.
    "index_append" -> Q(
      fn = (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val cents = AnnQueries.ivfCentroids(emb)
        // r16 (verdict item 3): rsub's checkpoint overlaps listsFull's —
        // its own map-only argmin replaces the wait on listsFull (same
        // bits; see servedIndex)
        val Seq(listsFull, rsub) = Q.truncatePar(Seq(
          AnnQueries.ivfLists(emb),
          AnnQueries.pqResidualSubFrom(AnnQueries.ivfLists(emb), cents)))
        val cb = Q.truncate(AnnQueries.pqResidualTrainFrom(rsub)._1)
        // r15: map-only VectorArgmin encode (see AnnQueries.ivfListsN's
        // optimization note) — no corpus shuffle in the error pass
        val errs = rsub.join(broadcast(AnnQueries.cbCands(cb)), Seq("j"))
          .select(col("cid"), col("j"),
            Q.grid6(graft.functions.VectorFunctions
              .argminL2(col("cands"), col("rsub")).getField("score"))
              .cast("decimal(16,6)").as("d2"))
        val perVec = errs.groupBy("cid")
          .agg(sum(col("d2")).cast("decimal(20,6)").as("vd2"))
          .join(listsFull.select(col("cid"), col("list_id")), Seq("cid"))
          .withColumn("is_new", (col("cid") % 10 === 7).cast("int"))
        perVec.groupBy("list_id")
          .agg(
            sum(lit(1) - col("is_new")).cast("long").as("n_base"),
            sum(col("is_new")).cast("long").as("n_new"),
            sum(when(col("is_new") === 0, col("vd2")).otherwise(lit(0)))
              .cast("decimal(20,6)").as("s_base"),
            sum(when(col("is_new") === 1, col("vd2")).otherwise(lit(0)))
              .cast("decimal(20,6)").as("s_new"))
          .select(col("list_id"), col("n_base"), col("n_new"),
            (col("n_new").cast("double") / col("n_base").cast("double"))
              .as("growth"),
            (col("s_base").cast("double") / col("n_base").cast("double"))
              .as("mean_base_d2"),
            when(col("n_new") === 0, lit(null).cast("double"))
              .otherwise(col("s_new").cast("double") / col("n_new").cast("double"))
              .as("mean_new_d2"),
            when(col("n_new") === 0, lit(null).cast("double"))
              .otherwise((col("s_new").cast("double") / col("n_new").cast("double"))
                / (col("s_base").cast("double") / col("n_base").cast("double")))
              .as("staleness"))
          .orderBy("list_id")
      },
      oracle = Some {
        "WITH " + AnnQueries.pqResidualTrainSql + s""",
          |resenc AS (
          |  ${AnnQueries.nearestCodeSql("rsub", s"cb${AnnQueries.PqTrainRounds}", "cid", "j",
                 "CAST(floor(d2 * 1000000.0) / 1000000.0 AS DECIMAL(16,6)) AS d2")}),
          |pv AS (
          |  SELECT e.cid, CAST(SUM(e.d2) AS DECIMAL(20,6)) AS vd2, l.list_id,
          |         CASE WHEN e.cid % 10 = 7 THEN 1 ELSE 0 END AS is_new
          |  FROM resenc e JOIN lists l ON l.cid = e.cid
          |  GROUP BY e.cid, l.list_id),
          |agg AS (
          |  SELECT list_id,
          |         CAST(SUM(1 - is_new) AS BIGINT) AS n_base,
          |         CAST(SUM(is_new) AS BIGINT) AS n_new,
          |         CAST(SUM(CASE WHEN is_new = 0 THEN vd2 ELSE 0 END) AS DECIMAL(20,6)) AS s_base,
          |         CAST(SUM(CASE WHEN is_new = 1 THEN vd2 ELSE 0 END) AS DECIMAL(20,6)) AS s_new
          |  FROM pv GROUP BY list_id)
          |SELECT list_id, n_base, n_new,
          |       CAST(n_new AS DOUBLE) / CAST(n_base AS DOUBLE) AS growth,
          |       CAST(s_base AS DOUBLE) / CAST(n_base AS DOUBLE) AS mean_base_d2,
          |       CASE WHEN n_new = 0 THEN NULL
          |            ELSE CAST(s_new AS DOUBLE) / CAST(n_new AS DOUBLE) END AS mean_new_d2,
          |       CASE WHEN n_new = 0 THEN NULL
          |            ELSE (CAST(s_new AS DOUBLE) / CAST(n_new AS DOUBLE))
          |                 / (CAST(s_base AS DOUBLE) / CAST(n_base AS DOUBLE)) END AS staleness
          |FROM agg ORDER BY list_id""".stripMargin
      }),

    // ---- IVF trained on a deterministic SAMPLE (r15, VERDICT item 2) -----
    // Executes the "train on a sample at 100 TB" claim the trained family
    // documents: the coarse quantizer's 3 Lloyd rounds run over ~25% of
    // the corpus (seeds + md5 hash-sample — deterministic, engine-
    // portable), and the FULL corpus is then assigned and served by the
    // SAME factored tail as ivf_trained_topk. Training cost drops from 3
    // full passes to 3 sample passes (at 100 TB: sample-sized, the whole
    // point); ivf_sampled_recall measures what the sample costs in recall.
    "ivf_sampled_topk" -> Q(
      fn = (s, dir) => sampledTopkFn(s, dir),
      oracle = Some(sampledTopkSql)),

    // ---- sampled-vs-full training recall (r15, VERDICT item 2's measure) -
    // The closing number for sampled training: recall@10 of the
    // full-corpus-trained retriever vs the sample-trained one (SAME serve
    // tail, SAME nprobe) against brute-force truth. The shared-frame
    // composition of ivf_trained_recall: legs consume the factored serve
    // tail over once-derived truncated centroid sets; the oracle nests the
    // retrievers' own SQL. If the sampled row holds recall (it does here —
    // BASELINE.md r15), the trained family's 100 TB story is measured, not
    // asserted: Lloyd passes shrink by the sample rate with no recall
    // cliff.
    "ivf_sampled_recall" -> Q(
      fn = (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        // r15 (guide §2.6): truth pass + the two independent trainings
        // overlap instead of three serial checkpoint barriers
        val Seq(exact, centsFull, centsSampled) = Q.truncatePar(Seq(
          AnnQueries.base("similarity_topk").fn(s, dir)
            .select(col("qid"), col("cid")),
          TrainQueries.kmeansTrainLoop(
            emb.select(col("vec_id"), col("embedding")))._1,
          TrainQueries.kmeansTrainLoop(
            emb.filter(sampledPredicate).select(col("vec_id"), col("embedding")))._1))
        AnnQueries.recallAtK(exact, Seq(
          "ivf_trained_topk" -> AnnQueries.ivfL2ServeFrom(emb, centsFull),
          "ivf_sampled_topk" -> AnnQueries.ivfL2ServeFrom(emb, centsSampled)))
      },
      oracle = Some(AnnQueries.recallAtKSql(Seq(
        "ivf_trained_topk" -> AnnQueries.base("ivf_trained_topk").oracle.get,
        "ivf_sampled_topk" -> sampledTopkSql))))
  )
}
