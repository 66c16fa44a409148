package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions.cosineSimilarity
import graft.queries.AnnQueries._
import graft.queries.SimilarityQueries.{duckDot, duckL2Double, duckL2Full}

/** SURVEY §2.4 ANN QUALITY EVALS + the OPQ rotation study, split from
  * [[AnnQueries]] (r15 — the retriever file had grown past review size
  * again after the index-lifecycle round): recall@k across the retriever
  * families, MRR / MAP / NDCG / RBO ranking evals, MMR re-ranking, the
  * probe-count tuning curve, and the PQ distortion studies including the
  * r15 OPQ controlled pair. Every leg consumes the retrievers' own gated
  * builders via [[AnnQueries]]'s private[queries] surface — the no-drift
  * composition discipline is unchanged by the file split.
  */
object AnnEvalQueries {

  // ------------------------------------------------------------------
  // OPQ-lite rotation (r15, VERDICT item 4; Ge, He, Ke & Sun 2013).
  // Full OPQ alternates rotation and codebook updates; the deterministic
  // first-order variant here is the HOUSEHOLDER reflection H = I − 2wwᵀ/‖w‖²
  // with w = v₁ − e₁ built from the gated PCA dominant component
  // (SimilarityQueries.pcaVector): H is exactly orthogonal and maps v₁ to
  // e₁, i.e. aligns the corpus's main axis of variation with the first
  // coordinate (the PCA-allocation idea behind OPQ-P). pq_train_distortion
  // gains a controlled pair — `plain_trained` (trained PQ on micro-gridded
  // RAW vectors) vs `opq_trained` (the SAME trainer on ROTATED vectors) —
  // so the rotation's distortion contribution is isolated with training,
  // grid, and rounds held constant. L2 is rotation-invariant in exact
  // arithmetic, so any mean_d2 difference is purely how H re-allocates
  // variance across the 8 subspaces.
  //
  // Float parity: w, ‖w‖², and 2wᵢwⱼ live on exact integer micro-grids
  // (the PCA component is 6 dp decimal); each H entry is a chain of
  // correctly-rounded IEEE ops on exact int64 inputs — identical bits both
  // engines. Rotated components are exact ints (Σⱼ floor(hᵢⱼ·qⱼ), with
  // floor pinning each double product to an int) divided once by 10⁶.
  //
  // Scale shape: the rotation is a MAP-ONLY projection (the 4096-entry H
  // broadcasts as one array row; each vector pays a 64×64 fold — no
  // shuffle, no join fan-out); training cost is pqResidualTrainFrom's.
  // ------------------------------------------------------------------

  /** Micro-gridded raw subspace slices (cid, j, rsub double[8]): component
    * k is floor(xₖ·10⁶)/10⁶ — the same grid the rotation uses, so
    * plain_trained vs opq_trained differ ONLY by H. */
  private[queries] def microSub(emb: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    emb.select(col("vec_id").as("cid"),
        expr("""transform(embedding,
               |  x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) / 1000000.0D)"""
          .stripMargin).as("gv"))
      .select(col("cid"), explode(sequence(lit(0), lit(7))).as("j"), col("gv"))
      .select(col("cid"), col("j"), expr("slice(gv, int(j * 8 + 1), 8)").as("rsub"))

  /** The Householder matrix as ONE broadcastable row (harr: 4096 doubles,
    * row-major h[i·64+j]): w₆ = 10⁶·v₁ − 10⁶·e₁ exact ints from the gated
    * PCA component; hᵢⱼ = δᵢⱼ − 2wᵢwⱼ/‖w‖² with the single division the
    * only inexact op (correctly rounded on exact int64 operands < 2⁵³).
    * A degenerate ‖w‖² = 0 (v₁ = e₁ exactly) degrades to H = I. */
  private[queries] def opqHouseholderRow(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val w6 = SimilarityQueries.pcaVector(s, dir)
      .select(col("i").cast("long").as("i"),
        ((col("vv") * lit(1000000)).cast("long")
          - when(col("i") === 0, lit(1000000L)).otherwise(lit(0L))).as("w6"))
    val den = w6.agg(sum(col("w6") * col("w6")).as("den"))
    w6.select(col("i").as("hi"), col("w6").as("wa"))
      .crossJoin(w6.select(col("i").as("hj"), col("w6").as("wb")))
      .crossJoin(broadcast(den))
      .select((col("hi") * 64 + col("hj")).as("k"),
        (when(col("hi") === col("hj"), lit(1.0d)).otherwise(lit(0.0d))
          - when(col("den") > 0,
              (lit(2L) * col("wa") * col("wb")).cast("double")
                / col("den").cast("double"))
            .otherwise(lit(0.0d))).as("h"))
      .agg(expr("transform(array_sort(collect_list(struct(k, h))), x -> x.h)")
        .as("harr"))
  }

  /** Rotated subspace slices (cid, j, rsub double[8]): rᵢ =
    * (Σⱼ floor(h[i·64+j]·qⱼ)) / 10⁶ with qⱼ the micro-gridded raw
    * component — one map-only projection per vector (the 1-row H frame
    * broadcasts; the 64×64 fold runs inside the row, no join fan-out).
    * The fold is the codegen'd [[graft.functions.MicroRotate]] — the
    * interpreted transform/aggregate spelling it replaces paid 4096 boxed
    * lambda calls per row (the FloatVectorDot lesson at n² scale: 41 s of
    * pq_train_distortion's first sf0.1 reading was this one projection);
    * identical arithmetic order, so the DuckDB HOF mirror is unchanged. */
  private[queries] def opqRotSub(
      emb: org.apache.spark.sql.DataFrame,
      hrow: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    emb.crossJoin(broadcast(hrow))
      .select(col("vec_id").as("cid"),
        graft.functions.VectorFunctions.microRotate(col("harr"), col("embedding"))
          .as("rv"))
      .select(col("cid"), explode(sequence(lit(0), lit(7))).as("j"), col("rv"))
      .select(col("cid"), col("j"), expr("slice(rv, int(j * 8 + 1), 8)").as("rsub"))

  /** Oracle twin of the OPQ chain: CTE text from the nested PCA (`v5`)
    * through `prsub`/`pcb0` (plain micro-grid) and `orsub`/`ocb0`
    * (rotated), each followed by its own [[pqTrainRoundsSql]] chain under
    * prefixes `p`/`o`. Assumes `js` is already in scope (the
    * pqResidualTrainSql chain defines it). */
  private def opqSqlCtes: String =
    s"""pca AS (WITH ${SimilarityQueries.pcaSqlCtes}
       |        SELECT i, vv FROM v5),
       |w6 AS (SELECT i, CAST(vv * 1000000 AS BIGINT)
       |                 - CASE WHEN i = 0 THEN 1000000 ELSE 0 END AS w6
       |       FROM pca),
       |hden AS (SELECT CAST(SUM(w6 * w6) AS BIGINT) AS den FROM w6),
       |hmat AS (SELECT a.i AS hi, b.i AS hj,
       |                (CASE WHEN a.i = b.i THEN 1.0 ELSE 0.0 END)
       |                - (CASE WHEN den > 0
       |                        THEN CAST(2 * a.w6 * b.w6 AS DOUBLE) / CAST(den AS DOUBLE)
       |                        ELSE 0.0 END) AS h
       |         FROM w6 a CROSS JOIN w6 b, hden),
       |hrow AS (SELECT list(h ORDER BY hi * 64 + hj) AS harr FROM hmat),
       |qv AS (SELECT vec_id AS cid,
       |              list_transform(embedding,
       |                x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qarr
       |       FROM embeddings),
       |prsub AS MATERIALIZED (
       |  SELECT cid, j, list_transform(qarr, q -> q / 1000000.0)[j*8+1 : j*8+8] AS rsub
       |  FROM qv, js),
       |pcb0 AS (SELECT j, CAST(cid - 16 AS INTEGER) AS code, rsub AS centv
       |         FROM prsub WHERE cid >= 16 AND cid < 32),
       |${pqTrainRoundsSql("p")},
       |rot AS MATERIALIZED (
       |  SELECT cid, list_transform(range(0, 64), i ->
       |           CAST(list_sum(list_transform(range(0, 64), jj ->
       |             CAST(floor(harr[i * 64 + jj + 1] * qarr[jj + 1]) AS BIGINT)))
       |                AS BIGINT) / 1000000.0) AS rv
       |  FROM qv, hrow),
       |orsub AS MATERIALIZED (
       |  SELECT cid, j, rv[j*8+1 : j*8+8] AS rsub FROM rot, js),
       |ocb0 AS (SELECT j, CAST(cid - 16 AS INTEGER) AS code, rsub AS centv
       |         FROM orsub WHERE cid >= 16 AND cid < 32),
       |${pqTrainRoundsSql("o")}""".stripMargin

  // ---- ANN quality eval: recall@k of the approximate retrievers ---------
  // The missing closing number for any ANN deployment: per query, what
  // fraction of the TRUE cosine top-10 does each sub-quadratic retriever
  // (IVF probe-4, 8-bit hyperplane LSH) actually return? Composed from the
  // SAME Q entries the gate already checks — Spark legs reuse the
  // retrievers' DataFrame builders, the oracle nests their exact SQL as
  // CTEs — so the eval can never drift from the retrievers it measures.
  // Defined OUTSIDE the base map: composing inside the map literal would
  // read half-initialized entries (Scala val init order).
  //
  // Scale shape: each leg is the retriever's own plan plus a broadcast-
  // sized join of two ≤(5×10)-row top-k lists and a 5-row agg — the eval
  // overhead is constant whatever the corpus size.
  //
  // Float parity: n_hit is an exact int; recall is ONE bare
  // correctly-rounded double division by the constant k.
  /** RBO@10 suffix-sum weight table on the 10^-8 grid: entry m (1-based)
    * = Σ_{d=m..10} ⌊(1−p)·p^(d−1)/d · 10^8⌋ with p = 9/10 — exact
    * rationals floored ONCE here (driver-side), emitted as identical
    * integer literals into both engines' CASE (the Ln2_9 shared-literal
    * discipline: one constant source, two engines read it as text).
    * Declared BEFORE [[all]] — the oracle strings evaluate eagerly. */
  private val RboSuffix8: Seq[Long] = {
    val w = (1 to 10).map { d =>
      // (1/10)·(9/10)^(d−1)·(1/d)·10^8 = 9^(d−1)·10^7 / (10^(d−1)·d),
      // floored exactly in BigInt
      val num = BigInt(9).pow(d - 1) * BigInt(10).pow(7)
      val den = BigInt(10).pow(d - 1) * BigInt(d)
      (num / den).toLong
    }
    (1 to 10).map(m => w.drop(m - 1).sum)
  }

  /** The shared 10-branch CASE: per matched pair, the suffix-sum weight at
    * visibility depth m = max(rk, erk) — identical text both engines. */
  private def RboCase: String =
    "CASE greatest(rk, erk) " +
      (1 to 10).map(m => s"WHEN $m THEN ${RboSuffix8(m - 1)}").mkString(" ") +
      " ELSE 0 END"

  val all: Map[String, Q] = Map(
  "recall_at_k" -> Q(
    fn = (s, dir) => {
      recallAtK(base("similarity_topk").fn(s, dir).select(col("qid"), col("cid")),
        Seq("ivf_topk", "lsh_topk").map(name => name -> base(name).fn(s, dir)))
    },
    oracle = Some(recallAtKSql(
      Seq("ivf_topk", "lsh_topk").map(name => name -> base(name).oracle.get)))),

  // ---- recall@10 across the PQ serving family (added r13) ---------------
  // The eval row the two-stage refine exists for: recall@10 of pq_topk
  // (flat ADC over the whole corpus), ivf_pq_topk (probe-pruned ADC), and
  // ivf_pq_refined_topk (probe-pruned ADC shortlist → exact re-rank),
  // against the brute-force cosine truth — the same no-drift composition
  // as recall_at_k (legs reuse the gated retriever builders verbatim; the
  // oracle nests their SQL as CTEs), so the refine step's recall buy-back
  // over raw ADC is measured on exactly the retrievers users run.
  //
  // Scale shape: three retriever plans + ≤(q×10)-row joins — eval overhead
  // is constant; the legs' own scale stories are their own rows.
  "recall_pq_family" -> Q(
    fn = (s, dir) => {
      // Shared heavy frames materialized ONCE (r14, ADVICE item 2 — the
      // repo's own r12 rule): the ADC dist frame feeds the ivf_pq_topk AND
      // ivf_pq_refined_topk legs, and the brute-force truth joins into
      // every leg — without the truncation each plan branch re-derives the
      // subtree. The legs consume the gated retrievers' OWN tails
      // (ivfPqRankTopk / ivfPqRefineTopk — the registry queries are those
      // tails over the same builder), so no-drift composition is preserved.
      // r15 (guide §2.6): independent checkpoint jobs overlap. r16
      // (verdict item 3): the residual frame no longer WAITS on the
      // coarse-assignment checkpoint — since r15's VectorArgmin the
      // coarse argmin is a map-only projection, so rsub's own lineage
      // (argmin + broadcast-centroid join + residual slices, one fused
      // scan pipeline, no shuffle) is checkpointed CONCURRENTLY with
      // exact/listsFull in stage 1, and stage 2 overlaps the two ADC
      // dist frames. Barrier stages: 3 → 2 before the final plan
      // (same bits — the fresh argmin is deterministic and equals the
      // checkpointed one row-for-row).
      val emb = Tables.load(s, dir, "embeddings")
      val Seq(exact, listsFull, rsub) = Q.truncatePar(Seq(
        base("similarity_topk").fn(s, dir).select(col("qid"), col("cid")),
        ivfLists(emb),
        pqResidualSubFrom(ivfLists(emb), ivfCentroids(emb))))
      val lists = listsFull.select(col("cid"), col("list_id"))
      val probes = ivfProbes(emb)
      // thunks, not pre-built frames: ivfPqResidualDistFrom runs its
      // codebook-training truncate EAGERLY at call time, so only a thunk
      // lets that training overlap the raw-ADC dist checkpoint
      val Seq(dist, rdist) = Q.par[org.apache.spark.sql.DataFrame](
        () => Q.truncate(ivfPqAdcDistFrom(emb, lists, probes)),
        () => Q.truncate(ivfPqResidualDistFrom(emb, rsub, lists, probes)))
      recallAtK(exact, Seq(
        "pq_topk" -> base("pq_topk").fn(s, dir),
        "ivf_pq_topk" -> ivfPqRankTopk(dist),
        "ivf_pq_refined_topk" -> ivfPqRefineTopk(s, dir, dist),
        "ivf_pq_residual_topk" -> ivfPqRankTopk(rdist),
        "ivf_pq_residual_refined_topk" -> ivfPqRefineTopk(s, dir, rdist)))
    },
    oracle = Some(recallAtKSql(
      Seq("pq_topk", "ivf_pq_topk", "ivf_pq_refined_topk", "ivf_pq_residual_topk",
        "ivf_pq_residual_refined_topk").map(name => name -> base(name).oracle.get)))),

  // ---- seed-coarse vs trained-coarse IVF recall (r14) --------------------
  // The eval the two trained-coarse retrievers exist for: recall@10 of
  // ivf_topk (coarse = first-16 seed vectors, COSINE-assigned) vs
  // ivf_trained_topk (kmeans_train's L2 Lloyd centroids) vs
  // ivf_spherical_topk (spherical k-means — normalized data AND
  // per-round renormalized centroids) against brute-force truth, at the
  // same nprobe. MEASURED at sf0.01: seed 0.92, spherical 0.86, L2 0.84.
  // Two real lessons the row encodes: (1) metric alignment matters —
  // spherical (unit centroids ⇒ L2 argmin ≡ cosine argmax) beats plain
  // L2 training; (2) training only pays when there IS cluster structure
  // to learn — this corpus's near-uniform random embeddings have none,
  // so Lloyd's balanced cells slice cosine neighborhoods no better than
  // seed Voronoi cells (seed cell sizes 20-42 of mean 31 — no pathological
  // skew inflating its probes). On a real clustered corpus the trained
  // rows track the clusters and this table flips — which is exactly why
  // the eval ships beside the retrievers rather than a hard-coded choice.
  // The recall_at_k no-drift composition: legs are the gated retrievers
  // verbatim, the oracle nests their SQL.
  "ivf_trained_recall" -> Q(
    fn = (s, dir) => {
      // Shared-tail form (r15, ADVICE item 5): the three legs consume the
      // SAME factored serve tail the registry retrievers run
      // (ivfL2ServeFrom / ivfL2ServeAssignFrom — no-drift composition
      // preserved) over once-derived truncated centroid sets. The ADVICE's
      // further suggestion — materialize the spherical leg's normalized
      // frame — was TRIED and MEASURED SLOWER (7.1 s vs 5.1 s committed at
      // sf0.1): normalization is a map-only codegen'd projection, and
      // checkpointing 60k×64 doubles costs more than recomputing it inside
      // each consumer's scan pipeline. So withN stays lazy, exactly like
      // the registry entry.
      val emb = Tables.load(s, dir, "embeddings")
      val withN = normalizedEmb(emb)
      // r15 (guide §2.6): the truth pass and the two independent trainings
      // used to checkpoint strictly serially — three action barriers, most
      // of the box idle during each; their jobs now overlap
      val Seq(exact, centsL2, centsS) = Q.truncatePar(Seq(
        base("similarity_topk").fn(s, dir).select(col("qid"), col("cid")),
        TrainQueries.kmeansTrainLoop(
          emb.select(col("vec_id"), col("embedding")))._1,
        TrainQueries.kmeansTrainLoop(
          withN.select(col("vec_id"), col("nv").as("embedding")),
          spherical = true)._1))
      recallAtK(exact, Seq(
        "ivf_topk" -> base("ivf_topk").fn(s, dir),
        "ivf_trained_topk" -> ivfL2ServeFrom(emb, centsL2),
        "ivf_spherical_topk" -> ivfL2ServeAssignFrom(
          withN.select(col("vec_id"), col("embedding"), col("nv").as("assignv")),
          centsS)))
    },
    oracle = Some(recallAtKSql(
      Seq("ivf_topk", "ivf_trained_topk", "ivf_spherical_topk")
        .map(name => name -> base(name).oracle.get)))),

  // ---- ANN quality eval #2: mean reciprocal rank ------------------------
  // recall_at_k's order-blind companion asks "how MUCH of the truth came
  // back"; MRR asks "how SOON does the first true answer appear in the
  // retriever's own ranking" — the number that matters when a downstream
  // consumer reads results top-down (RAG context windows, dedup survivor
  // picks). Per (retriever, query): best_rank = the retriever's smallest
  // rank that lands in the true cosine top-10, rr = 1/best_rank (0 when
  // nothing relevant returned). Same no-drift composition as recall_at_k:
  // Spark legs reuse the gated retriever builders, the oracle nests their
  // SQL as CTEs. Float parity: rr is ONE bare division of exact ints.
  //
  // Scale shape: each leg = the retriever's own plan + a semi-join of two
  // ≤(5×10)-row lists + a ≤5-row agg — constant eval overhead.
  "retrieval_mrr" -> Q(
    fn = (s, dir) => {
      val exact = base("similarity_topk").fn(s, dir).select(col("qid"), col("cid"))
      val qids = exact.select("qid").distinct()
      def leg(name: String) = {
        val hits = base(name).fn(s, dir).select(col("qid"), col("cid"), col("rk"))
          .join(exact, Seq("qid", "cid"), "left_semi")
          .groupBy("qid").agg(min(col("rk")).as("br"))
        qids.join(hits, Seq("qid"), "left")
          .select(lit(name).as("method"), col("qid"),
            coalesce(col("br"), lit(0)).cast("int").as("best_rank"),
            when(col("br").isNotNull, lit(1.0d) / col("br"))
              .otherwise(lit(0.0d)).as("rr"))
      }
      leg("ivf_topk").unionAll(leg("lsh_topk")).orderBy("method", "qid")
    },
    oracle = Some {
      def leg(name: String) =
        s"""SELECT '$name' AS method, q.qid,
           |       CAST(COALESCE(h.br, 0) AS INTEGER) AS best_rank,
           |       CASE WHEN h.br IS NOT NULL THEN CAST(1 AS DOUBLE) / h.br
           |            ELSE 0.0 END AS rr
           |FROM q LEFT JOIN (
           |  SELECT a.qid, MIN(a.rk) AS br FROM a_$name a
           |  JOIN exact e ON a.qid = e.qid AND a.cid = e.cid
           |  GROUP BY a.qid) h ON q.qid = h.qid""".stripMargin
      s"""WITH exact AS (${base("similarity_topk").oracle.get}),
         |a_ivf_topk AS (${base("ivf_topk").oracle.get}),
         |a_lsh_topk AS (${base("lsh_topk").oracle.get}),
         |q AS (SELECT DISTINCT qid FROM exact)
         |SELECT * FROM (${leg("ivf_topk")}
         |UNION ALL
         |${leg("lsh_topk")})
         |ORDER BY method, qid""".stripMargin
    }),

  // ---- ANN quality eval #3: NDCG@10 -------------------------------------
  // The graded completion of the eval suite: recall counts hits, MRR finds
  // the first, NDCG@10 weighs EVERY returned result by how relevant it is
  // AND how high the retriever placed it. Relevance grades come from the
  // exact cosine ranking itself (rel = 11 − true_rank, 0 off-list), so the
  // eval needs no external labels; the ideal DCG is the same grades in
  // perfect order, making ndcg = 1 exactly when the retriever reproduces
  // the true top-10 in order. Discounts use ln (NDCG is log-base
  // invariant, and ln is the probed-identical transcendental — log2's
  // cross-engine behavior is not probed). Same no-drift composition:
  // Spark legs reuse the gated retriever builders, the oracle nests their
  // SQL.
  //
  // ENGINE-VERSION-PROOF (r8): each term is ((11−rk)·10^12) div ln6(rk+1)
  // — [[LnGrid]]'s fixed-point ln and pure int64 division — so the
  // per-query DCG/IDCG sums are order-independent int64, and ndcg is one
  // bare division of their exact casts.
  //
  // Scale shape: retriever plans + two ≤(queries×10)-row joins/aggs —
  // constant eval overhead at any corpus size.,

  // ---- ANN quality eval #5: exact-integer MAP@10 -------------------------
  // Mean Average Precision completes the IR-eval suite (recall = coverage,
  // MRR = first hit, NDCG = graded order, RBO = rank similarity, MAP =
  // precision integrated over the recall curve — the canonical single
  // number for multi-relevant retrieval). EXACT-INTEGER construction (the
  // attribution_position LCM trick): AP@10 = Σ_hits prec@k / 10 with
  // prec@k = hits≤k/k, and every k ∈ 1..10 divides 2520, so
  // ap_units = Σ hits≤k · (2520 div k) is an exact int with ap =
  // units/25200 as ONE bare division; perfect retrieval ⇒ units = 25200
  // exactly. Same no-drift composition as the other evals: legs reuse the
  // gated retriever builders, the oracle nests their SQL.
  //
  // Scale shape: retriever plans + per-qid ≤10-row windows + ≤5-row aggs —
  // constant eval overhead at any corpus size.
  "map_eval" -> Q(
    fn = (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val exact = base("similarity_topk").fn(s, dir).select(col("qid"), col("cid"))
      val qids = exact.select("qid").distinct()
      def leg(name: String) = {
        val w = Window.partitionBy(col("qid")).orderBy(col("rk"))
        val ap = base(name).fn(s, dir).select(col("qid"), col("cid"), col("rk"))
          .join(exact, Seq("qid", "cid"), "left_semi")
          .withColumn("hle", count(lit(1)).over(w))
          .withColumn("units", col("hle") * expr("2520 div rk"))
          .groupBy("qid").agg(sum(col("units")).as("u"))
        qids.join(ap, Seq("qid"), "left")
          .select(lit(name).as("method"), col("qid"),
            coalesce(col("u"), lit(0L)).as("ap_units"),
            (coalesce(col("u"), lit(0L)).cast("double") / 25200.0).as("ap"))
      }
      leg("ivf_topk").unionAll(leg("lsh_topk")).orderBy("method", "qid")
    },
    oracle = Some {
      def leg(name: String) =
        s"""SELECT '$name' AS method, q.qid,
           |       CAST(COALESCE(u.u, 0) AS BIGINT) AS ap_units,
           |       CAST(COALESCE(u.u, 0) AS DOUBLE) / 25200.0 AS ap
           |FROM q LEFT JOIN (
           |  SELECT qid, SUM(units) AS u FROM (
           |    SELECT a.qid,
           |           COUNT(*) OVER (PARTITION BY a.qid ORDER BY a.rk) * (2520 // a.rk) AS units
           |    FROM a_$name a JOIN exact e ON e.qid = a.qid AND e.cid = a.cid) t
           |  GROUP BY qid) u ON u.qid = q.qid""".stripMargin
      s"""WITH exact AS (${base("similarity_topk").oracle.get}),
         |a_ivf_topk AS (${base("ivf_topk").oracle.get}),
         |a_lsh_topk AS (${base("lsh_topk").oracle.get}),
         |q AS (SELECT DISTINCT qid FROM exact)
         |SELECT * FROM (${leg("ivf_topk")}
         |UNION ALL
         |${leg("lsh_topk")})
         |ORDER BY method, qid""".stripMargin
    }),

  "ndcg_eval" -> Q(
    fn = (s, dir) => {
      val exact = base("similarity_topk").fn(s, dir)
        .select(col("qid"), col("cid"), col("rk").as("erk"))
      val ideal = LnGrid.withLn6(exact, (col("erk") + 1).cast("long"), lit(1L), "li6")
        .select(col("qid"), expr("((11 - erk) * 1000000000000) div li6").as("i6"))
        .groupBy("qid").agg(sum(col("i6")).as("idcg6"))
      def leg(name: String) = {
        val dcg = LnGrid.withLn6(
            base(name).fn(s, dir).select(col("qid"), col("cid"), col("rk"))
              .join(exact, Seq("qid", "cid")),
            (col("rk") + 1).cast("long"), lit(1L), "lr6")
          .select(col("qid"), expr("((11 - erk) * 1000000000000) div lr6").as("t6"))
          .groupBy("qid").agg(sum(col("t6")).as("dcg6"))
        ideal.join(dcg, Seq("qid"), "left")
          .select(lit(name).as("method"), col("qid"),
            (coalesce(col("dcg6"), lit(0L)).cast("double")
              / col("idcg6").cast("double")).as("ndcg"))
      }
      leg("ivf_topk").unionAll(leg("lsh_topk")).orderBy("method", "qid")
    },
    oracle = Some {
      def leg(name: String) =
        s"""SELECT '$name' AS method, i.qid,
           |       CAST(COALESCE(d.dcg6, 0) AS DOUBLE)
           |         / CAST(i.idcg6 AS DOUBLE) AS ndcg
           |FROM ideal i LEFT JOIN (
           |  SELECT qid, CAST(SUM(t6) AS BIGINT) AS dcg6 FROM (
           |    SELECT j.qid, ((11 - j.erk) * 1000000000000) // lr6 AS t6
           |    FROM ln_$name j) GROUP BY qid) d ON i.qid = d.qid""".stripMargin
      s"""WITH exact AS (${base("similarity_topk").oracle.get}),
         |a_ivf_topk AS (${base("ivf_topk").oracle.get}),
         |a_lsh_topk AS (${base("lsh_topk").oracle.get}),
         |ej AS (SELECT qid, cid, CAST(rk AS BIGINT) + 1 AS erk1,
         |              CAST(rk AS BIGINT) AS erk FROM exact),
         |${LnGrid.sqlCtes("ej", "erk1", "1", "li6", "nde_")},
         |ideal AS (
         |  SELECT qid, CAST(SUM(((11 - erk) * 1000000000000) // li6) AS BIGINT) AS idcg6
         |  FROM nde_out GROUP BY qid),
         |ji AS (SELECT a.qid, a.cid, CAST(a.rk AS BIGINT) + 1 AS rk1, e.erk
         |       FROM a_ivf_topk a JOIN ej e ON a.qid = e.qid AND a.cid = e.cid),
         |${LnGrid.sqlCtes("ji", "rk1", "1", "lr6", "ndi_")},
         |ln_ivf_topk AS (SELECT qid, cid, erk, lr6 FROM ndi_out),
         |jl AS (SELECT a.qid, a.cid, CAST(a.rk AS BIGINT) + 1 AS rk1, e.erk
         |       FROM a_lsh_topk a JOIN ej e ON a.qid = e.qid AND a.cid = e.cid),
         |${LnGrid.sqlCtes("jl", "rk1", "1", "lr6", "ndl_")},
         |ln_lsh_topk AS (SELECT qid, cid, erk, lr6 FROM ndl_out)
         |SELECT * FROM (${leg("ivf_topk")}
         |UNION ALL
         |${leg("lsh_topk")})
         |ORDER BY method, qid""".stripMargin
    }),

  // ---- ANN quality eval #4: rank-biased overlap --------------------------
  // Completes the eval suite's fourth axis: recall counts hits, MRR finds
  // the first, NDCG grades placement against relevance — RBO (Webber et
  // al. 2010) measures how similar the retriever's RANKING is to the true
  // cosine ranking as ORDERINGS, top-weighted by persistence p = 0.9:
  // RBO@10 = Σ_{d=1..10} (1−p)·p^(d−1)·|top_d(A) ∩ top_d(B)|/d, truncated
  // (no extrapolation residual), so perfect agreement scores 1 − p^10 ≈
  // 0.6513 — two retrievers can tie on recall yet order the shared hits
  // differently; RBO separates them.
  //
  // ENGINE-VERSION-PROOF: the per-depth weight (1−p)·p^(d−1)/d is ten
  // EXACT rational constants floored once onto the 10^-8 grid at codegen
  // time; a pair matched at ranks (rk, erk) becomes visible at every
  // depth d ≥ max(rk, erk), so its total contribution is the SUFFIX SUM
  // of the weight table at m = max(rk, erk) — a 10-branch integer CASE,
  // summed as int64, ONE bare final division by 10^8.
  //
  // Scale shape: retriever plans + a ≤(queries×10)-row join and agg —
  // constant eval overhead at any corpus size.
  "rbo_rankings" -> Q(
    fn = (s, dir) => {
      val exact = base("similarity_topk").fn(s, dir)
        .select(col("qid"), col("cid"), col("rk").as("erk"))
      val qids = exact.select("qid").distinct()
      def leg(name: String) = {
        val scored = base(name).fn(s, dir).select(col("qid"), col("cid"), col("rk"))
          .join(exact, Seq("qid", "cid"))
          .select(col("qid"), expr(RboCase).as("c8"))
          .groupBy("qid").agg(sum(col("c8")).as("rbo8"))
        qids.join(scored, Seq("qid"), "left")
          .select(lit(name).as("method"), col("qid"),
            (coalesce(col("rbo8"), lit(0L)).cast("double")
              / lit(100000000L).cast("double")).as("rbo"))
      }
      leg("ivf_topk").unionAll(leg("lsh_topk")).orderBy("method", "qid")
    },
    oracle = Some {
      def leg(name: String) =
        s"""SELECT '$name' AS method, q.qid,
           |       CAST(COALESCE(h.rbo8, 0) AS DOUBLE)
           |         / CAST(100000000 AS DOUBLE) AS rbo
           |FROM q LEFT JOIN (
           |  SELECT a.qid, CAST(SUM($RboCase) AS BIGINT) AS rbo8
           |  FROM a_$name a JOIN exact e ON a.qid = e.qid AND a.cid = e.cid
           |  GROUP BY a.qid) h ON q.qid = h.qid""".stripMargin
      s"""WITH exact AS (SELECT qid, cid, rk AS erk FROM (${base("similarity_topk").oracle.get})),
         |a_ivf_topk AS (${base("ivf_topk").oracle.get}),
         |a_lsh_topk AS (${base("lsh_topk").oracle.get}),
         |q AS (SELECT DISTINCT qid FROM exact)
         |SELECT * FROM (${leg("ivf_topk")}
         |UNION ALL
         |${leg("lsh_topk")})
         |ORDER BY method, qid""".stripMargin
    }),

    // ---- MMR diversified re-ranking (added r8) ---------------------------
    // Maximal Marginal Relevance (Carbonell & Goldstein 1998), λ = 3/4:
    // re-rank each query's exact cosine top-10 into 5 picks that trade
    // relevance against redundancy — pick = argmax λ·rel(d) −
    // (1−λ)·max_{s ∈ chosen} sim(d, s). Two near-identical top hits stop
    // occupying two context slots (the RAG / few-shot-selection rule;
    // kcenter_select is its pure-diversity limit). ENGINE-VERSION-PROOF:
    // λ = 3/4 makes the objective integral — rel6/red6 are floors of
    // bit-identical doubles (the gated builder's own sims; candidate-pair
    // sims via the same fixed cosine fold), score = 3·rel6 − red6 compared
    // as int64 with cid tie-break, and the emitted mmr is ONE bare
    // division by 4·10^6.
    //
    // Scale shape: the retriever's plan + a per-qid 10×10 pair join, both
    // localCheckpointed (bounded: queries×10 and queries×45 rows); the 4
    // unrolled greedy rounds then run joins/aggs over those tiny frames
    // only (the textrank unrolling discipline; checkpoints stop round k
    // from re-planning the corpus scan 3^k times).
    "mmr_rerank" -> Q(
      fn = (s, dir) => {
        val cand = base("similarity_topk").fn(s, dir)
          .select(col("qid"), col("cid"),
            floor(col("sim") * lit(1000000.0d)).cast("long").as("rel6"))
          .localCheckpoint()
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val withV = cand.join(emb, cand("cid") === emb("vec_id"))
          .select(col("qid"), col("cid"), col("embedding"))
        // r16 (guide §2.6): the pair table and the round-1 pick are both
        // derived from the already-checkpointed cand frame and are
        // independent of each other — their checkpoint jobs overlap
        // instead of running as two serial barriers
        val Seq(pairs, sel1) = Q.par[org.apache.spark.sql.DataFrame](
          () => withV.select(col("qid"), col("cid").as("x"), col("embedding").as("xv"))
            .join(withV.select(col("qid"), col("cid").as("y"), col("embedding").as("yv")),
              Seq("qid"))
            .filter(col("x") =!= col("y"))
            .select(col("qid"), col("x"), col("y"),
              floor(cosineSimilarity(col("xv"), col("yv")) * lit(1000000.0d))
                .cast("long").as("red6"))
            .localCheckpoint(),
          // round 1: pure relevance
          () => cand
            .groupBy("qid")
            .agg(min(struct(negate(col("rel6")).cast("long").as("ns"), col("cid"),
              col("rel6"))).as("m"))
            .select(col("qid"), col("m.cid").as("cid"), lit(1).as("pick_rank"),
              (lit(3L) * col("m.rel6")).as("s6"))
            .localCheckpoint())
        var selected = sel1
        for (r <- 2 to 5) {
          val rem = cand.join(selected.select("qid", "cid"), Seq("qid", "cid"), "left_anti")
          val red = pairs
            .join(selected.select(col("qid"), col("cid").as("y")), Seq("qid", "y"))
            .groupBy(col("qid"), col("x").as("cid"))
            .agg(max(col("red6")).as("mr6"))
          val pick = rem.join(red, Seq("qid", "cid"), "left")
            .select(col("qid"), col("cid"),
              (lit(3L) * col("rel6") - coalesce(col("mr6"), lit(0L))).as("s6"))
            .groupBy("qid")
            .agg(min(struct(negate(col("s6")).cast("long").as("ns"), col("cid"),
              col("s6"))).as("m"))
            .select(col("qid"), col("m.cid").as("cid"), lit(r).as("pick_rank"),
              col("m.s6").as("s6"))
          selected = selected.unionByName(pick).localCheckpoint()
        }
        selected
          .select(col("qid"), col("pick_rank"), col("cid"),
            (col("s6").cast("double") / lit(4000000.0d)).as("mmr"))
          .orderBy("qid", "pick_rank")
      },
      oracle = Some {
        val rounds = (2 to 5).map { r =>
          s"""red$r AS (
             |  SELECT p.qid, p.x AS cid, MAX(p.red6) AS mr6
             |  FROM pairs p JOIN sel${r - 1} s ON p.qid = s.qid AND p.y = s.cid
             |  GROUP BY p.qid, p.x),
             |sc$r AS (
             |  SELECT c.qid, c.cid, 3 * c.rel6 - COALESCE(r.mr6, 0) AS s6
             |  FROM cand c LEFT JOIN red$r r ON c.qid = r.qid AND c.cid = r.cid
             |  WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} s
             |                    WHERE s.qid = c.qid AND s.cid = c.cid)),
             |pk$r AS (
             |  SELECT qid, cid, $r AS pick_rank, s6 FROM (
             |    SELECT qid, cid, s6,
             |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s6 DESC, cid) AS rn
             |    FROM sc$r) t WHERE rn = 1),
             |sel$r AS (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM pk$r)""".stripMargin
        }.mkString(",\n")
        s"""WITH topk AS (${base("similarity_topk").oracle.get}),
           |cand AS (SELECT qid, cid,
           |                CAST(floor(sim * 1000000.0) AS BIGINT) AS rel6 FROM topk),
           |ce AS (SELECT c.qid, c.cid, e.embedding FROM cand c
           |       JOIN embeddings e ON e.vec_id = c.cid),
           |pairs AS (
           |  SELECT a.qid, a.cid AS x, b.cid AS y,
           |         CAST(floor((${duckCosSql("a.embedding", "b.embedding")}) * 1000000.0) AS BIGINT) AS red6
           |  FROM ce a JOIN ce b ON a.qid = b.qid AND a.cid != b.cid),
           |sel1 AS (
           |  SELECT qid, cid, 1 AS pick_rank, 3 * rel6 AS s6 FROM (
           |    SELECT qid, cid, rel6,
           |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel6 DESC, cid) AS rn
           |    FROM cand) t WHERE rn = 1),
           |$rounds
           |SELECT qid, CAST(pick_rank AS INT) AS pick_rank, cid,
           |       CAST(s6 AS DOUBLE) / CAST(4000000 AS DOUBLE) AS mmr
           |FROM sel5 ORDER BY qid, pick_rank""".stripMargin
      }),

    // ---- IVF probe-count tuning curve (added r9) --------------------------
    // The dial an IVF deployment actually turns: recall@10 as a function
    // of nprobe ∈ {1, 2, 4} — each probed list costs ~corpus/n_lists scan
    // work, so this curve IS the recall/latency trade-off (recall_at_k
    // pins the operating point, the curve says what the next probe buys;
    // ivf_balance says what a probe costs when lists skew). Every leg
    // reuses the SAME gated [[ivfLists]] builder and truth =
    // similarity_topk's exact top-10, with the oracle nesting the same
    // CTE text — the recall_at_k no-drift discipline: the curve cannot
    // measure anything but the production retriever.
    //
    // Scale shape: three probe variants of the retriever's own plan (each
    // a ≤5-row query broadcast against the assignment agg) + three
    // broadcast-sized top-k joins and 5-row aggs — constant eval overhead.
    // n_hit exact int; recall ONE bare division by the constant k.
    "ivf_probe_curve" -> Q(
      fn = (s, dir) => {
        val exact = base("similarity_topk").fn(s, dir).select(col("qid"), col("cid"))
        def leg(nprobe: Int) = {
          val approx = ivfProbeLeg(s, dir, nprobe)
            .select(col("qid"), col("cid"), lit(1L).as("hit"))
          exact.join(approx, Seq("qid", "cid"), "left")
            .groupBy("qid")
            .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
            .select(lit(nprobe.toLong).as("nprobe"), col("qid"), col("n_hit"),
              (col("n_hit").cast("double") / lit(TopK)).as("recall"))
        }
        leg(1).unionAll(leg(2)).unionAll(leg(4)).orderBy("nprobe", "qid")
      },
      oracle = Some {
        def legSql(np: Int) =
          s"""SELECT $np AS nprobe, e.qid,
             |       CAST(SUM(CASE WHEN a.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
             |FROM exact e LEFT JOIN ap_$np a ON e.qid = a.qid AND e.cid = a.cid
             |GROUP BY e.qid""".stripMargin
        val probeCtes = Seq(1, 2, 4).map(np => ivfProbeSql(np)).mkString(",\n")
        s"""WITH exact AS (${base("similarity_topk").oracle.get}),
           |$ivfListsSql,
           |$probeCtes,
           |r AS (${legSql(1)}
           |UNION ALL
           |${legSql(2)}
           |UNION ALL
           |${legSql(4)})
           |SELECT CAST(nprobe AS BIGINT) AS nprobe, qid, n_hit,
           |       CAST(n_hit AS DOUBLE) / $TopK AS recall
           |FROM r ORDER BY nprobe, qid""".stripMargin
      }),

    // ---- PQ quantization-distortion audit (added r9) ----------------------
    // The index-health number for the PQ compression point pq_topk serves
    // from: per subspace, the mean and max squared L2 error between each
    // vector's sub-slice and its assigned codebook centroid — the
    // distortion that bounds ADC ranking error (a subspace with 10× the
    // others' distortion is where re-training k-means codebooks pays
    // first; the PQ twin of ivf_balance's list-skew audit). Composed from
    // the IDENTICAL encode argmin as pq_topk (min(struct(d2, cent_id))
    // over the 16-entry codebook, the proven floatL2Sq ↔ duckL2Full fold
    // pair), so the audit measures the production encoder's own
    // assignments.
    //
    // Float parity: each per-vector d2 is a deterministic double floored
    // onto the 6 dp grid and summed as exact DECIMAL; mean is the
    // decimal→double cast + ONE division; max is a decimal order
    // statistic.
    //
    // Scale shape: the encode's map-side argmin agg (one row per (vec,
    // subspace) reaches the shuffle) → an 8-row subspace roll-up.
    "pq_distortion" -> Q(
      fn = (s, dir) => {
        val errs = pqRawErrs(s, dir)
        errs.groupBy("j")
          .agg(count(lit(1)).as("n_vecs"), sum(col("d2")).as("sum_d2"),
            max(col("d2")).as("max_d2"))
          .select(col("j").cast("long").as("subspace"), col("n_vecs"),
            col("sum_d2").cast("double").as("total_d2"),
            (col("sum_d2").cast("double") / col("n_vecs").cast("double"))
              .as("mean_d2"),
            col("max_d2").cast("double").as("max_d2"))
          .orderBy("subspace")
      },
      oracle = Some(
        s"""WITH $pqRawEncodeSqlCtes,
           |g AS (SELECT j, CAST(floor(d2 * 1000000.0) / 1000000.0 AS DECIMAL(16,6)) AS d2
           |      FROM rawenc)
           |SELECT CAST(j AS BIGINT) AS subspace, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           |       CAST(SUM(d2) AS DOUBLE) AS total_d2,
           |       CAST(SUM(d2) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_d2,
           |       CAST(MAX(d2) AS DOUBLE) AS max_d2
           |FROM g GROUP BY j ORDER BY subspace""".stripMargin)),

    // ---- trained-vs-raw PQ distortion (r14, VERDICT item 1's measure) ----
    // The number pq_train exists to move: per subspace, mean/max squared
    // reconstruction error of three encoders — `raw_pq` (first-16
    // codebooks over raw subvectors — pq_distortion's leg, shared
    // [[pqRawErrs]] builder), `residual_init` (the UNTRAINED init
    // codebooks over coarse residuals — the before-training point), and
    // `residual_pq` (the Lloyd-trained codebooks — the same assignment
    // ivf_pq_residual_topk encodes with). All three reconstruct v (the
    // residual decode adds the coarse centroid back, which is error-free)
    // so the d2 columns are directly comparable; residual_init →
    // residual_pq is the TRAINING win isolated (k-means is monotone on
    // its training data — measured −27% mean_d2 at sf0.01), while raw_pq
    // → residual_pq also carries the residual-space change. Float parity:
    // all legs are the proven grid6-decimal error surfaces; mean is one
    // division.
    //
    // Scale shape: raw leg = pq_distortion's map-side argmin; residual
    // legs = the trainer's passes + two more argmins over the ONE
    // truncated rsub frame — every shuffle carries one row per (vec,
    // subspace); final roll-up is 24 rows.
    "pq_train_distortion" -> Q(
      fn = (s, dir) => {
        val raw = pqRawErrs(s, dir)
          .select(lit("raw_pq").as("method"), col("j"), col("d2"))
        // r15 (guide §2.6): the three source frames — coarse residuals,
        // micro-gridded raws, rotated raws (the latter carrying the PCA
        // power-iteration chain) — are independent; their checkpoint jobs
        // now overlap instead of running as three serial action barriers
        val emb = Tables.load(s, dir, "embeddings")
        val Seq(rsub, plainSub, rotSub) = Q.truncatePar(Seq(
          pqResidualSub(s, dir),
          microSub(emb),
          opqRotSub(emb, opqHouseholderRow(s, dir))))
        // r15: map-only VectorArgmin against the 8-row per-subspace
        // collected codebook — the per-method encode no longer shuffles
        // the corpus (see AnnQueries.ivfListsN's optimization note)
        def resErrsOn(src: org.apache.spark.sql.DataFrame,
            cb: org.apache.spark.sql.DataFrame, method: String) =
          src.join(broadcast(AnnQueries.cbCands(cb)), Seq("j"))
            .select(lit(method).as("method"), col("j"),
              Q.grid6(graft.functions.VectorFunctions
                .argminL2(col("cands"), col("rsub")).getField("score"))
                .cast("decimal(16,6)").as("d2"))
        def resErrs(cb: org.apache.spark.sql.DataFrame, method: String) =
          resErrsOn(rsub, cb, method)
        val trained = resErrs(pqResidualTrainFrom(rsub)._1, "residual_pq")
        val init = resErrs(pqResidualInitCb(rsub), "residual_init")
        // r15 OPQ pair: trained PQ on the micro-gridded raw vectors vs the
        // SAME trainer on Householder-rotated vectors (see the OPQ block
        // above) — training, grid, and rounds held constant, so the
        // mean_d2 delta isolates what the rotation's variance
        // re-allocation buys (Ge et al. 2013)
        val plainTrained = resErrsOn(plainSub,
          pqResidualTrainFrom(plainSub)._1, "plain_trained")
        val opqTrained = resErrsOn(rotSub,
          pqResidualTrainFrom(rotSub)._1, "opq_trained")
        raw.unionAll(init).unionAll(trained)
          .unionAll(plainTrained).unionAll(opqTrained)
          .groupBy("method", "j")
          .agg(count(lit(1)).as("n_vecs"), sum(col("d2")).as("sum_d2"),
            max(col("d2")).as("max_d2"))
          .select(col("method"), col("j").cast("long").as("subspace"),
            col("n_vecs"),
            col("sum_d2").cast("double").as("total_d2"),
            (col("sum_d2").cast("double") / col("n_vecs").cast("double"))
              .as("mean_d2"),
            col("max_d2").cast("double").as("max_d2"))
          .orderBy("method", "subspace")
      },
      oracle = Some {
        // each trained method's encode, keeping the squared error
        def resEnc(src: String, cb: String) = nearestCodeSql(src, cb, "cid", "j", "d2")
        val u = Seq(
          "raw_pq" -> "SELECT cid, j, d2 FROM rawenc",
          "residual_init" -> resEnc("rsub", "cb0"),
          "residual_pq" -> resEnc("rsub", s"cb$PqTrainRounds"),
          "plain_trained" -> resEnc("prsub", s"pcb$PqTrainRounds"),
          "opq_trained" -> resEnc("orsub", s"ocb$PqTrainRounds")
        ).map { case (method, enc) =>
          s"""SELECT '$method' AS method, j,
             |       CAST(floor(d2 * 1000000.0) / 1000000.0 AS DECIMAL(16,6)) AS d2
             |FROM ($enc)""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH $pqResidualTrainSql,
           |$opqSqlCtes,
           |$pqRawEncodeSqlCtes,
           |u AS ($u)
           |SELECT method, CAST(j AS BIGINT) AS subspace,
           |       CAST(COUNT(*) AS BIGINT) AS n_vecs,
           |       CAST(SUM(d2) AS DOUBLE) AS total_d2,
           |       CAST(SUM(d2) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_d2,
           |       CAST(MAX(d2) AS DOUBLE) AS max_d2
           |FROM u GROUP BY method, j ORDER BY method, subspace""".stripMargin
      })
  )
}
