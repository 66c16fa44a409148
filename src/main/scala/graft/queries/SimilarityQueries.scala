package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions.cosineSimilarity

/** §2.4 similarity search over `embeddings.embedding` (64-d float vectors).
  *
  * Float parity: dot products and norms are computed as LEFT-FOLDS over
  * double-cast elements on BOTH engines (Spark `aggregate`, DuckDB
  * `list_reduce`) — identical operation order ⇒ bit-identical doubles. The
  * reported similarity is rounded to 6 dp as belt-and-braces; ranking uses
  * the raw value with vec_id tie-break.
  *
  * Scale path: brute force is O(Q·N); [[ivf_topk]] buckets candidates by
  * nearest coarse centroid (IVF) and probes the best 4 lists, cutting the
  * scanned candidates ~4× here and ~nlist/nprobe at 100 TB, where the
  * centroid assignment becomes a broadcast join + shuffle-free scan.
  * Near-dup PAIRS (dedup_embedding_cosine) use banded hyperplane LSH —
  * signature equi-join candidate generation, never a cartesian.
  */
object SimilarityQueries {

  /** DuckDB left-fold dot product (list_reduce folds left; the first element
    * seeds the accumulator, and 0.0 + v1 == v1 exactly, so the fold matches
    * Spark's zero-seeded aggregate bit-for-bit). */
  private[queries] def duckDot(a: String, b: String) =
    s"list_reduce(list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (acc, v) -> acc + v)"

  /** DuckDB left-fold squared-L2 over full-length vectors — the same
    * zero-seeded fold order as the codegen'd
    * [[graft.functions.VectorFunctions.floatL2Sq]] (first term seeds the
    * accumulator; 0.0 + v1 == v1 exactly). */
  private[queries] def duckL2Full(a: String, b: String) =
    s"list_reduce(list_transform(range(1, len($a) + 1), i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))), (acc, v) -> acc + v)"

  /** [[duckL2Full]] over already-double lists — the oracle spelling of the
    * codegen'd VectorL2Sq fold, shared by the residual-PQ slice encoders
    * and the k-means / trained-IVF assignments. */
  private[queries] def duckL2Double(a: String, b: String) =
    s"""list_reduce(list_transform(range(1, len($a) + 1),
       |  i -> ($a[i] - $b[i]) * ($a[i] - $b[i])),
       |  (acc, v) -> acc + v)""".stripMargin


  /** The bounded k-core peel (dup_graph_kcore's loop, factored r14):
    * repeatedly drop nodes with degree < k from the undirected pair
    * frame until stable or `maxRounds` (12 — spec-pinned ≡ the oracle's
    * fixed unroll; convergence within the bound is reported, never
    * assumed). Returns (final edges, final edge count, rounds peeled,
    * converged). r16 (verdict item 4's pattern): the per-round edge count
    * is OBSERVED on the checkpoint action itself (Dataset.observe — the
    * CC-loop mechanism, pinned by CheckpointStatsSpec) instead of
    * a second count() job re-scanning the fresh checkpoint, so each round
    * is ONE driver-blocking job, not two. Counts are identical: the
    * metric counts the same rows the checkpoint writes. */
  private[queries] def kcorePeel(
      edges0: org.apache.spark.sql.DataFrame, nEdges0: Long,
      k: Int = 3, maxRounds: Int = 12)
      : (org.apache.spark.sql.DataFrame, Long, Int, Boolean) = {
    var edges = edges0
    var prev = nEdges0
    var roundsPeeled = 0
    var converged = nEdges0 == 0L
    var r = 0
    while (r < maxRounds && !converged) {
      val sym = edges.select(col("a_id"), col("b_id"))
        .union(edges.select(col("b_id"), col("a_id")))
      val keep = sym.groupBy("a_id").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("a_id").as("id"))
      val obs = org.apache.spark.sql.Observation()
      edges = Q.truncate(edges
        .join(keep.select(col("id").as("a_id")), Seq("a_id"), "left_semi")
        .join(keep.select(col("id").as("b_id")), Seq("b_id"), "left_semi")
        .select(col("a_id"), col("b_id"))
        .observe(obs, count(lit(1)).as("n_edges")))
      val c = obs.get("n_edges").asInstanceOf[Long]
      if (c == prev) converged = true
      else { roundsPeeled += 1; prev = c }
      r += 1
    }
    (edges, prev, roundsPeeled, converged)
  }

  /** Deterministic "random" hyperplane j: component i is +1 iff the first
    * hex char of md5("j:i") >= '8' — Scala and DuckDB construct the
    * identical planes from the same digests. */
  private def planeLit(j: Int): Column = typedlit((0 until 64).map { i =>
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$j:$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
    if (hex.charAt(0) >= '8') 1.0f else -1.0f
  })

  /** Sign-bit string of the projections onto hyperplanes `js`. Each dot is
    * the codegen'd [[graft.functions.FloatVectorDot]] — bit-identical to the
    * `aggregate(zip_with(...))` fold (and the DuckDB `list_reduce` oracle),
    * but a tight loop instead of 64 interpreted lambda calls per plane;
    * the 36 projections of the near-dup signature were the dominant per-row
    * cost of dedup_embedding_cosine under the HOF form. */
  private[queries] def hyperplaneSig(embCol: Column, js: Seq[Int]): Column =
    concat(js.map { j =>
      when(graft.functions.VectorFunctions.floatDot(embCol, planeLit(j)) > 0, "1")
        .otherwise("0")
    }: _*)

  /** Same fold as [[graft.functions.VectorFunctions.cosineSimilarity]]'s
    * denominator input: ‖v‖² as a double left-fold. */
  private[queries] def norm2(embCol: Column): Column =
    graft.functions.VectorFunctions.floatDot(embCol, embCol)

  /** The 8-bit hyperplane signature as DuckDB SQL — the oracle-side twin of
    * [[hyperplaneSig]](_, 0 until 8), factored (r12) so lsh_topk and
    * lsh_multiprobe_topk provably hash into the same buckets. */
  private[queries] val hyperplaneSigSql8: String = (0 until 8).map { j =>
    s"""CASE WHEN list_reduce(list_transform(range(1, 65),
       |  i -> CAST(embedding[i] AS DOUBLE) *
       |       (CASE WHEN substring(md5('$j' || ':' || CAST(i - 1 AS VARCHAR)), 1, 1) >= '8'
       |             THEN 1.0 ELSE -1.0 END)),
       |  (acc, v) -> acc + v) > 0 THEN '1' ELSE '0' END""".stripMargin
  }.mkString(" || ")

  private val NumBands = 6
  private val BandBits = 6


  /** Symmetric int8 quantization columns: `maxabs`, `scale` (= 127/max|x|),
    * `qv` (int8 codes as ints) — shared by embedding_quantize and
    * quantized_topk so both queries provably quantize identically. */
  private[graft] def quantized(emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    emb
      .withColumn("maxabs",
        array_max(expr("transform(embedding, x -> abs(CAST(x AS DOUBLE)))")))
      .filter(col("maxabs") > 0)
      .withColumn("scale", lit(127.0) / col("maxabs"))
      .withColumn("qv",
        // floor(x + 0.5) instead of round(x): engine builds disagree on
        // round-of-double near .5 midpoints; one IEEE add + floor is a pure
        // function of the double's bits on any build (r8 doctrine)
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5d) AS INT))"))


  /** DuckDB CTEs `s` (scale) and `q` (int8 codes) — the oracle mirror of
    * [[quantized]], shared by the quantization queries. */
  private[queries] val duckQuantizedCtes: String =
    s"""e AS (
       |  SELECT vec_id, embedding,
       |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
       |  FROM embeddings),
       |s AS (SELECT vec_id, embedding, CAST(127 AS DOUBLE) / maxabs AS scale
       |      FROM e WHERE maxabs > 0),
       |q AS (SELECT vec_id, embedding, scale,
       |        list_transform(embedding,
       |          x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS INTEGER)) AS qv
       |      FROM s)""".stripMargin

  /** DuckDB CTEs `e` (norm-filtered), `bands`, `cand` — the oracle mirror of
    * [[lshNearDupPairs]]'s candidate generation, shared by the pair and
    * cluster queries. (The threshold only enters the final verify, so `cand`
    * is threshold-independent; the param is kept for self-documentation.) */
  /** [[lshPairsSqlCtes]] at the cluster-family 0.40 threshold, exposed for
    * cross-file oracles (GraphQueries.dup_graph_pagerank nests it). */
  private[queries] def lshPairsSqlCtes040: String = lshPairsSqlCtes(0.40)

  private def lshPairsSqlCtes(threshold: Double): String = {
    def sigSql(b: Int) = (b * BandBits until (b + 1) * BandBits).map { j =>
      s"""CASE WHEN list_reduce(list_transform(range(1, 65),
         |  i -> CAST(embedding[i] AS DOUBLE) *
         |       (CASE WHEN substring(md5('$j' || ':' || CAST(i - 1 AS VARCHAR)), 1, 1) >= '8'
         |             THEN 1.0 ELSE -1.0 END)),
         |  (acc, v) -> acc + v) > 0 THEN '1' ELSE '0' END""".stripMargin
    }.mkString(" || ")
    val bandSelects = (0 until NumBands)
      .map(b => s"SELECT vec_id, $b AS band, ${sigSql(b)} AS sig FROM e")
      .mkString("\n  UNION ALL\n  ")
    s"""e AS (SELECT vec_id, embedding FROM embeddings
       |      WHERE ${duckDot("embedding", "embedding")} > 0),
       |bands AS (
       |  $bandSelects
       |),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.vec_id < y.vec_id
       |)""".stripMargin
  }

  /** Banded-LSH near-duplicate pairs over a (vec_id, embedding) frame:
    * 6-band × 6-bit hyperplane signatures → per-band equi-join candidates →
    * exact-cosine verify at `threshold`. Public so specs can drive it with
    * planted near-dups; [[all]]'s dedup_embedding_cosine is this over the
    * embeddings table. The norm² > 0 pre-filter keeps zero-norm vectors out
    * on BOTH engines (Spark's cosine yields NULL on zero norm and drops the
    * pair; DuckDB's yields NaN which compares GREATER than any threshold —
    * without the filter the engines would diverge if a zero vector ever
    * entered the corpus).
    *
    * Cache lifecycle: the signature frame stays `.cache()`d after the call
    * (it backs the lazily-returned DataFrame, so this function cannot
    * unpersist it). Callers that own a session long-term should use
    * [[lshNearDupPairsWithHandle]] and unpersist the handle once done with
    * the result (as dedup_clusters does), or `spark.catalog.clearCache()`. */
  def lshNearDupPairs(emb0: org.apache.spark.sql.DataFrame, threshold: Double)
      : org.apache.spark.sql.DataFrame =
    lshNearDupPairsWithHandle(emb0, threshold)._1

  /** [[lshNearDupPairs]] plus the cached signature frame, so callers can
    * `_2.unpersist()` after their final action over `_1`. */
  def lshNearDupPairsWithHandle(emb0: org.apache.spark.sql.DataFrame, threshold: Double)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val (pairs, emb) = lshNearDupPairsUnsorted(emb0, threshold)
    (pairs.orderBy("a_id", "b_id"), emb)
  }

  /** Pair pipeline WITHOUT the final global sort — for consumers like
    * [[all]]'s dedup_clusters that feed the pairs into further processing
    * where a total order would be a wasted range-exchange + sort. */
  private def lshNearDupPairsUnsorted(emb0: org.apache.spark.sql.DataFrame, threshold: Double)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    // cached WITH the band signatures: the 36 hyperplane projections run
    // once per row at cache build instead of once per side of the band
    // self-join; both band branches and both verify sides then scan the
    // same in-memory relation
    val emb = emb0
      .filter(norm2(col("embedding")) > 0)
      .select(col("vec_id") +: col("embedding") +:
        (0 until NumBands).map { b =>
          hyperplaneSig(col("embedding"), b * BandBits until (b + 1) * BandBits)
            .as(s"sig$b")
        }: _*)
      .cache()
    val bands = emb.select(col("vec_id"),
        explode(array((0 until NumBands).map { b =>
          struct(lit(b).as("band"), col(s"sig$b").as("sig"))
        }: _*)).as("bs"))
      .select(col("vec_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val cand = bands.as("x").join(bands.as("y"), Seq("band", "sig"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
      .distinct()
    val pairs = cand
      .join(emb.select(col("vec_id").as("a_id"), col("embedding").as("av")), Seq("a_id"))
      .join(emb.select(col("vec_id").as("b_id"), col("embedding").as("bv")), Seq("b_id"))
      .withColumn("sim", cosineSimilarity(col("av"), col("bv")))
      .filter(col("sim") >= threshold)
      .select(col("a_id"), col("b_id"), Q.grid6(col("sim")).as("sim"))
    (pairs, emb)
  }

  /** [[lshNearDupPairsUnsorted]]'s 100 TB execution shape (r11) — band-LOCAL
    * verification with a (bands, bits) re-shard dial.
    *
    * Why it exists: the gate-scale path materializes DISTINCT candidate
    * pairs, then joins the embedding arrays back on to verify — so the
    * verify join's shuffle carries TWO 64-float arrays per CANDIDATE, and
    * the candidate count grows with per-bucket occupancy squared. At sf10
    * (200k vectors, fixed 6×6 signatures → ~49² pairs per bucket) that
    * shuffle exceeded the measurement box's 77 GB disk (BASELINE.md r10
    * decade table) — the one operator whose scale story was an argument,
    * not a number. Here each band row carries its OWN vector into the band
    * self-join, so the only array shuffle is `numBands` copies of the
    * corpus (strictly linear), and the cosine verify runs PIPELINED on the
    * join output before anything is materialized — only verified pairs
    * (tiny at any SF) reach the distinct. Result-identical to the
    * exact-candidate path at the same dial (spec-pinned):
    * verify-then-distinct ≡ distinct-then-verify for a deterministic
    * predicate. The cosine is recomputed for pairs colliding in several
    * bands — the price of never materializing candidates, cheap exactly
    * when it matters (the spill regime has ≫ numBands·n candidates).
    *
    * The re-shard dial (the ivf_balance sizing rule applied to LSH): hold
    * per-bucket occupancy n/2^bandBits roughly constant by raising
    * `bandBits` with log₂(n), and raise `numBands` with it to hold
    * near-dup recall — p(detect) = 1 − (1 − p^bits)^bands with
    * p = 1 − θ/π. (6, 6) at 2k vectors ⇒ (12, 24) at 200k keeps
    * p(detect | cos ≥ 0.9) ≈ 0.98 while cutting random-collision
    * candidates ~16× (0.5¹²·24 vs 0.5⁶·6). Like the IVF L dial, re-
    * sharding changes RECALL on far pairs (documented approximate-op
    * trade); the default dial is the gate contract.
    *
    * Cache lifecycle: the signature frame backs both join branches and
    * stays cached. Callers that materialize the pairs (truncate/CC loop)
    * should use [[lshNearDupPairsBandLocalWithSig]] and `unpersist()` the
    * returned signature frame — NOT `catalog.clearCache()`, which is a
    * session-global side effect that drops every cached Dataset the
    * caller owns (r11 ADVICE). */
  def lshNearDupPairsBandLocal(emb0: org.apache.spark.sql.DataFrame, threshold: Double,
      numBands: Int = NumBands, bandBits: Int = BandBits): org.apache.spark.sql.DataFrame =
    lshNearDupPairsBandLocalWithSig(emb0, threshold, numBands, bandBits)._1

  /** [[lshNearDupPairsBandLocal]] plus the cached signature frame, so the
    * caller can `unpersist()` exactly that frame once the pairs are
    * materialized (checkpointed) instead of clearing the whole catalog
    * cache. */
  def lshNearDupPairsBandLocalWithSig(emb0: org.apache.spark.sql.DataFrame, threshold: Double,
      numBands: Int = NumBands, bandBits: Int = BandBits)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val emb = emb0
      .filter(norm2(col("embedding")) > 0)
      .select(col("vec_id") +: col("embedding") +:
        (0 until numBands).map { b =>
          hyperplaneSig(col("embedding"), b * bandBits until (b + 1) * bandBits)
            .as(s"sig$b")
        }: _*)
      .cache()
    val bands = emb.select(col("vec_id"), col("embedding"),
        explode(array((0 until numBands).map { b =>
          struct(lit(b).as("band"), col(s"sig$b").as("sig"))
        }: _*)).as("bs"))
      .select(col("vec_id"), col("embedding"),
        col("bs.band").as("band"), col("bs.sig").as("sig"))
    val pairs = bands.as("x").join(bands.as("y"), Seq("band", "sig"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .withColumn("sim", cosineSimilarity(col("x.embedding"), col("y.embedding")))
      .filter(col("sim") >= threshold)
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"),
        Q.grid6(col("sim")).as("sim"))
      .distinct()
    (pairs, emb)
  }

  /** dedup_clusters' scale path: connected components over
    * [[lshNearDupPairsBandLocal]] pairs — the same [[Q.connectedComponents]]
    * loop as the registry query, fed by the spill-free pair generator, with
    * the (bands, bits) dial exposed for the measured re-shard decade
    * ([[graft.ReshardCheck]]). */
  def clustersBandLocal(emb: org.apache.spark.sql.DataFrame, threshold: Double,
      numBands: Int = NumBands, bandBits: Int = BandBits): org.apache.spark.sql.DataFrame = {
    val (pairsRaw, sig) =
      lshNearDupPairsBandLocalWithSig(emb, threshold, numBands, bandBits)
    val pairs = pairsRaw.select(col("a_id"), col("b_id"))
    val sym = pairs
      .union(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
    val labels = Q.connectedComponents(sym)
    // CC checkpoints eagerly, so labels no longer reference the signature
    // cache — drop exactly that frame (repeated legs were accumulating it)
    sig.unpersist()
    labels.select(col("id").as("vec_id"), col("label").as("cluster"))
  }

  /** Every retriever/dedup entry except the composed eval below. */
  private val base: Map[String, Q] = Map(

    // ---- embedding-table datacard / quality audit (added r7) -------------
    // The pre-flight audit every ANN/dedup consumer above assumes has
    // passed: per label — row count, dimension min/max (ragged arrays are
    // a pipeline bug), NaN-bearing vectors, exact-zero vectors (both break
    // cosine), and the L2-norm min/max/mean (norm collapse or blow-up is
    // the classic symptom of a bad encoder checkpoint or truncated float
    // ingest). ENGINE-VERSION-PROOF (r8): ‖v‖² is the SAME left-fold as
    // the codegen cosine denominator (bit-identical to DuckDB's
    // list_reduce); sqrt is IEEE-754-REQUIRED correctly rounded (unlike
    // libm ln), so its bits are identical on both engines, and the 6 dp
    // grid is `floor(x·10^6)` — floor of a bit-identical double is a pure
    // function of those bits on any build, unlike each build's decimal
    // `round`. Norms become exact int64 micro-units: min/max compare
    // exactly, the mean is Σint / (n·10^6) — one bare division. Scale
    // shape: one map-only pass, partial agg collapses to ≤ #labels rows
    // pre-shuffle — the cheapest possible full-table audit at 100 TB.
    // ---- greedy k-center coreset picks (added r10) -------------------------
    // Farthest-first traversal (Gonzalez 1985) — the classic 2-approx
    // k-center coreset: seed at vec_id 0, then twice pick the vector
    // maximizing its distance to the nearest already-picked center, and
    // report the final coverage radius (max over vectors of min distance
    // to the 3 picks). The diversity-maximizing counterpoint to semdedup's
    // redundancy removal: these are the exemplars a labeling budget goes
    // to first. Distances via the proven floatL2Sq ↔ duckL2Full fold pair;
    // every argmax is min(struct(−d2, vec_id)) — deterministic tie-break,
    // exact double bits cross-engine; reported d2 on the grid6.
    //
    // Scale shape: k−1 = 2 corpus passes, each a map-side distance
    // projection + a 1-row argmax agg broadcast back (the kmeans_train
    // unrolled-rounds discipline — no driver loop, no collect); the
    // radius pass is one more map + 1-row agg.
    "coreset_kcenter" -> Q(
      fn = (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        def l2(a: Column, b: Column): Column =
          graft.functions.VectorFunctions.floatL2Sq(a, b)
        val c1 = broadcast(emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("cv1")))
        val d1 = emb.crossJoin(c1)
          .select(col("vec_id"), col("embedding"),
            l2(col("embedding"), col("cv1")).as("d1"))
        val pick2 = broadcast(d1
          .agg(min(struct(negate(col("d1")).as("nd"), col("vec_id"))).as("m"))
          .select(col("m.vec_id").as("p2")))
        val c2 = broadcast(d1.crossJoin(pick2).filter(col("vec_id") === col("p2"))
          .select(col("embedding").as("cv2"), col("d1").as("p2_d2")))
        val d2 = d1.crossJoin(c2)
          .select(col("vec_id"), col("embedding"), col("p2_d2"),
            least(col("d1"), l2(col("embedding"), col("cv2"))).as("md"))
        val pick3 = broadcast(d2
          .agg(min(struct(negate(col("md")).as("nd"), col("vec_id"))).as("m"))
          .select(col("m.vec_id").as("p3")))
        val c3 = broadcast(d2.crossJoin(pick3).filter(col("vec_id") === col("p3"))
          .select(col("embedding").as("cv3"), col("md").as("p3_d2"), col("p3")))
        val radius = d2.crossJoin(c3)
          .select(col("p2_d2"), col("p3_d2"), col("p3"),
            least(col("md"), l2(col("embedding"), col("cv3"))).as("fd"))
          .crossJoin(pick2)
          .agg(max(col("fd")).as("radius_d2"),
            first(col("p2")).as("p2"), first(col("p3")).as("p3"),
            first(col("p2_d2")).as("p2_d2"), first(col("p3_d2")).as("p3_d2"))
        radius.select(
          expr("stack(3, 1L, 0L, cast(0.0 as double), 2L, p2, p2_d2, 3L, p3, p3_d2) as (round, picked_vec_id, pick_d2_raw)"),
          col("radius_d2"))
          .select(col("round"), col("picked_vec_id"),
            Q.grid6(col("pick_d2_raw")).as("pick_d2"),
            Q.grid6(col("radius_d2")).as("coverage_radius_d2"))
          .orderBy("round")
      },
      oracle = Some(
        s"""WITH c1 AS (SELECT embedding AS cv1 FROM embeddings WHERE vec_id = 0),
           |d1 AS (SELECT vec_id, embedding, ${duckL2Full("embedding", "cv1")} AS d1
           |       FROM embeddings, c1),
           |p2 AS (SELECT vec_id AS p2 FROM d1 ORDER BY d1 DESC, vec_id LIMIT 1),
           |c2 AS (SELECT embedding AS cv2, d1 AS p2_d2 FROM d1, p2 WHERE vec_id = p2),
           |d2 AS (SELECT vec_id, embedding, p2_d2,
           |              LEAST(d1, ${duckL2Full("embedding", "cv2")}) AS md
           |       FROM d1, c2),
           |p3 AS (SELECT vec_id AS p3 FROM d2 ORDER BY md DESC, vec_id LIMIT 1),
           |c3 AS (SELECT embedding AS cv3, md AS p3_d2, p2_d2 FROM d2, p3 WHERE vec_id = p3),
           |r AS (SELECT MAX(LEAST(md, ${duckL2Full("embedding", "cv3")})) AS radius_d2
           |      FROM d2, c3),
           |rows_out AS (
           |  SELECT 1 AS round, CAST(0 AS BIGINT) AS picked_vec_id, 0.0 AS pick_d2_raw FROM c1
           |  UNION ALL SELECT 2, p2, p2_d2 FROM p2, c2
           |  UNION ALL SELECT 3, p3, p3_d2 FROM p3, c3)
           |SELECT CAST(round AS BIGINT) AS round, picked_vec_id,
           |       floor(pick_d2_raw * 1000000.0) / 1000000.0 AS pick_d2,
           |       floor((SELECT radius_d2 FROM r) * 1000000.0) / 1000000.0
           |         AS coverage_radius_d2
           |FROM rows_out ORDER BY round""".stripMargin)),

    // ---- embedding isotropy ratio (added r8) -----------------------------
    // The anisotropic-cone pathology check (Ethayarajh 2019; Mu & Viswanath
    // 2018's all-but-the-top motivation): if embeddings huddle in a narrow
    // cone, the mean vector's norm approaches the average vector norm and
    // cosine similarities inflate corpus-wide. Score = ‖mean v‖²/mean‖v‖²
    // ∈ [0, 1]: ≈ 0 isotropic (directions cancel), → 1 a degenerate cone
    // (run the centering/top-PC removal before any cosine-based dedup).
    // Computed on the SHARED int8 quantization codes (the `quantized`
    // builder embedding_quantize/quantized_topk already trust) so every
    // sum is an exact integer: ratio = Σ_d S_d² / (n·Σᵢ‖qᵢ‖²) — ONE bare
    // division; the scale factors cancel in the ratio.
    //
    // Scale shape: one map-side quantize pass → per-dim sums via explode
    // into a 64-row agg + a 1-row norm agg; nothing corpus-sized past
    // the first aggs.
    "embedding_isotropy" -> Q(
      fn = (s, dir) => {
        val q = quantized(Tables.load(s, dir, "embeddings"))
          .select(col("vec_id"), col("qv"))
        val dims = q.select(posexplode(col("qv"))).toDF("d", "c")
          .groupBy("d").agg(sum(col("c")).as("sd"))
        val dimSq = dims.agg(
          sum(col("sd").cast("decimal(38,0)") * col("sd").cast("decimal(38,0)")).as("s2"),
          count(lit(1)).as("dim"))
        val norms = q.select(expr(
            "aggregate(qv, cast(0 as bigint), (acc, x) -> acc + cast(x as bigint) * x)")
            .as("n2"))
          .agg(sum(col("n2")).as("nn2"), count(lit(1)).as("n"))
        dimSq.crossJoin(broadcast(norms))
          .select(col("n"), col("dim"),
            when(col("nn2") === 0, lit(null).cast("double"))
              .otherwise(col("s2").cast("double")
                / (col("n").cast("decimal(38,0)")
                   * col("nn2").cast("decimal(38,0)")).cast("double"))
              .as("isotropy_ratio"))
      },
      oracle = Some(
        """WITH e AS (SELECT vec_id, embedding,
          |             list_max(list_transform(embedding,
          |                      x -> abs(CAST(x AS DOUBLE)))) AS maxabs
          |           FROM embeddings),
          |q AS (SELECT vec_id,
          |             list_transform(embedding,
          |               x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / maxabs) + 0.5)
          |                         AS BIGINT)) AS qv
          |      FROM e WHERE maxabs > 0),
          |dims AS (SELECT i AS d, CAST(SUM(qv[i]) AS BIGINT) AS sd
          |         FROM q, UNNEST(range(1, len(qv) + 1)) AS u(i)
          |         GROUP BY i),
          |ds AS (SELECT SUM(CAST(sd AS HUGEINT) * sd) AS s2,
          |              CAST(COUNT(*) AS BIGINT) AS dim FROM dims),
          |nr AS (SELECT CAST(SUM(list_reduce(list_transform(qv, x -> x * x),
          |                                   (a, b) -> a + b)) AS BIGINT) AS nn2,
          |              CAST(COUNT(*) AS BIGINT) AS n
          |       FROM q)
          |SELECT nr.n, ds.dim,
          |       CASE WHEN nr.nn2 = 0 THEN NULL
          |            ELSE CAST(ds.s2 AS DOUBLE)
          |                 / CAST(CAST(nr.n AS HUGEINT) * nr.nn2 AS DOUBLE) END
          |         AS isotropy_ratio
          |FROM ds, nr""".stripMargin)),

    "embedding_audit" -> Q(
      fn = (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val rows = emb.select(
          col("label"),
          size(col("embedding")).as("dims"),
          when(expr("exists(embedding, x -> isnan(x))"), 1L).otherwise(0L).as("has_nan"),
          norm2(col("embedding")).as("n2"))
          .withColumn("norm6i", floor(sqrt(col("n2")) * lit(1000000.0d)).cast("long"))
        rows.groupBy("label").agg(
            count(lit(1)).as("n_vecs"),
            min(col("dims")).as("dim_min"),
            max(col("dims")).as("dim_max"),
            sum(col("has_nan")).as("n_nan"),
            sum(when(col("n2") === 0d, 1L).otherwise(0L)).as("n_zero"),
            (min(col("norm6i")).cast("double") / lit(1000000.0d)).as("norm_min"),
            (max(col("norm6i")).cast("double") / lit(1000000.0d)).as("norm_max"),
            (sum(col("norm6i")).cast("double")
              / (count(lit(1)) * lit(1000000L)).cast("double")).as("norm_mean"))
          .orderBy("label")
      },
      oracle = Some(
        s"""WITH rows_ AS (
           |  SELECT label, len(embedding) AS dims,
           |         CASE WHEN len(list_filter(embedding, x -> isnan(x))) > 0
           |              THEN 1 ELSE 0 END AS has_nan,
           |         ${duckDot("embedding", "embedding")} AS n2
           |  FROM embeddings),
           |g AS (SELECT label, dims, has_nan, n2,
           |             CAST(floor(sqrt(n2) * 1000000.0) AS BIGINT) AS norm6i FROM rows_)
           |SELECT label, COUNT(*) AS n_vecs,
           |       CAST(MIN(dims) AS INTEGER) AS dim_min,
           |       CAST(MAX(dims) AS INTEGER) AS dim_max,
           |       CAST(SUM(has_nan) AS BIGINT) AS n_nan,
           |       CAST(SUM(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
           |       CAST(MIN(norm6i) AS DOUBLE) / 1000000.0 AS norm_min,
           |       CAST(MAX(norm6i) AS DOUBLE) / 1000000.0 AS norm_max,
           |       CAST(SUM(norm6i) AS DOUBLE)
           |         / CAST(COUNT(*) * 1000000 AS DOUBLE) AS norm_mean
           |FROM g GROUP BY label ORDER BY label""".stripMargin)),

    // ---- degree assortativity of the near-dup graph (added r11) ----------
    // Newman's degree assortativity over the LSH pair graph (threshold
    // 0.35, the shared pipeline): Pearson correlation of endpoint degrees
    // over the DIRECTED edge list (each undirected edge counted both ways,
    // so Σx = Σy and one moment set suffices) — r > 0 means near-dup-heavy
    // docs link to each other (a dense boilerplate core, dedup it as a
    // block), r < 0 means hub-and-spoke (one template with many leaves,
    // keep the hub). Complements dup_degree_profile (the marginal degree
    // view) with the JOINT structure. Exact ints in DECIMAL(38,0)/HUGEINT
    // (Σxy ≤ max_deg²·2m wraps int64 early); r is ONE fixed decimal→double
    // chain; degenerate regular graphs (zero variance) → NULL.
    //
    // Scale shape: the BAND-LOCAL pair generator (r12 re-cut: the exact-
    // candidate path at 0.35 was this query's sf1 wall — x14.3 at x10 data
    // (ScaleCheck), because fixed 6-bit buckets grow candidates with
    // occupancy SQUARED; band-local never materializes candidates and is
    // result-identical by the dedup_cosine_bandlocal spec pin — re-measured
    // x5.5 after the cut, 30.5 s -> 12.1 s at sf1) → the verified pairs
    // materialized once → one degree agg → two degree-attach joins keyed
    // on node id → 1-row moment roll-up. The signatures are unpersisted
    // as soon as the pairs are materialized; nothing downstream reads them.
    "dup_graph_assortativity" -> Q(
      fn = (s, dir) => {
        val big = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
        // r16: the pair frame feeds FOUR plan branches (sym ×2 via the
        // union, deg, and the two degree-attach joins re-derive deg) — the
        // unmaterialized form re-executed the band self-join + verify up to
        // 8× per run (ReuseCheck: 24 parquet scans, 0 reused exchanges).
        // Materialize the verified pairs ONCE (the dbscan/modularity/kcore
        // discipline), then drop the signature cache.
        val (pairsRaw, sig) =
          lshNearDupPairsBandLocalWithSig(Tables.load(s, dir, "embeddings"), 0.35)
        val pairs = Q.truncate(pairsRaw.select(col("a_id"), col("b_id")))
        sig.unpersist()
        val sym = pairs
          .union(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
        val deg = sym.groupBy(col("a_id").as("id")).agg(count(lit(1)).as("d"))
        sym
          .join(deg.select(col("id").as("a_id"), col("d").as("x")), Seq("a_id"))
          .join(deg.select(col("id").as("b_id"), col("d").as("y")), Seq("b_id"))
          .agg(count(lit(1)).as("n"), sum(big(col("x"))).as("sx"),
            sum(big(col("x")) * big(col("y"))).as("sxy"),
            sum(big(col("x")) * big(col("x"))).as("sxx"))
          .withColumn("num", big(col("n")) * col("sxy") - col("sx") * col("sx"))
          .withColumn("den", big(col("n")) * col("sxx") - col("sx") * col("sx"))
          .select((col("n") / 2).cast("long").as("n_edges"),
            when(col("den") === 0, lit(null).cast("double"))
              .otherwise(col("num").cast("double") / col("den").cast("double"))
              .as("assortativity"))
      },
      oracle = Some(
        s"""WITH ${lshPairsSqlCtes(0.35)},
           |p AS (SELECT a_id, b_id
           |      FROM cand JOIN e a ON a.vec_id = a_id JOIN e b ON b.vec_id = b_id
           |      WHERE ${duckDot("a.embedding", "b.embedding")}
           |             / (sqrt(${duckDot("a.embedding", "a.embedding")}) * sqrt(${duckDot("b.embedding", "b.embedding")})) >= 0.35),
           |sym AS (SELECT a_id AS s, b_id AS t FROM p
           |        UNION ALL SELECT b_id, a_id FROM p),
           |deg AS (SELECT s AS id, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY s),
           |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |             SUM(CAST(dx.d AS HUGEINT)) AS sx,
           |             SUM(CAST(dx.d AS HUGEINT) * dy.d) AS sxy,
           |             SUM(CAST(dx.d AS HUGEINT) * dx.d) AS sxx
           |      FROM sym JOIN deg dx ON sym.s = dx.id JOIN deg dy ON sym.t = dy.id),
           |c AS (SELECT n, CAST(n AS HUGEINT) * sxy - sx * sx AS num,
           |             CAST(n AS HUGEINT) * sxx - sx * sx AS den
           |      FROM m)
           |SELECT CAST(n / 2 AS BIGINT) AS n_edges,
           |       CASE WHEN den = 0 THEN NULL
           |            ELSE CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS assortativity
           |FROM c""".stripMargin)),

    // ---- modularity of the near-dup clustering (added r11) ---------------
    // Newman-Girvan modularity of dedup_clusters' OWN partition over its
    // OWN pair graph (threshold 0.40, the cluster query's spelling):
    // Q = Σ_c (m_c/m − (D_c/2m)²) — "how much denser are the clusters than
    // a degree-preserving random graph". For a connected-components
    // partition every edge is intra-cluster (m_c sums to m by
    // construction — the spec pins it), so Q here measures how much the
    // degree mass concentrates per component: the audit that says whether
    // the near-dup graph is a few dense blocks (high Q — safe to dedup
    // per cluster) or one sprawling percolated component (Q → 0 — the
    // threshold is too low and survivorship picks get arbitrary). Exact:
    // Q·4m² = Σ_c (4·m_c·m − D_c²) in DECIMAL/HUGEINT, ONE division.
    //
    // Scale shape: the shared pipeline + the SAME CC loop as
    // dedup_clusters → label-keyed edge/degree aggs (≤|clusters| rows) →
    // 1-row roll-up.
    "cluster_modularity" -> Q(
      fn = (s, dir) => {
        val big = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
        // band-local pair generation (spec-pinned ≡ the exact-candidate
        // set): skips the candidate distinct + verify join — measured
        // 4.98 → ~3 s at sf0.1, and it is the shape that survives sf10
        val (pairsRaw, sig) =
          lshNearDupPairsBandLocalWithSig(Tables.load(s, dir, "embeddings"), 0.40)
        val pairs = Q.truncate(pairsRaw.select(col("a_id"), col("b_id")))
        // truncate is an eager checkpoint — pairs no longer reference the
        // signature cache, so drop exactly that frame (NOT clearCache():
        // that's session-global and would nuke caller-owned caches)
        sig.unpersist()
        val sym = pairs
          .union(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
        val labels = Q.connectedComponents(sym)
        val edges = pairs
          .join(labels.select(col("id").as("a_id"), col("label").as("ca")), Seq("a_id"))
          .join(labels.select(col("id").as("b_id"), col("label").as("cb")), Seq("b_id"))
        val mTot = edges.agg(count(lit(1)).as("m"))
        val perC = edges
          .filter(col("ca") === col("cb"))
          .groupBy(col("ca").as("c")).agg(count(lit(1)).as("mc"))
        val degC = sym
          .join(labels.select(col("id").as("a_id"), col("label").as("c")), Seq("a_id"))
          .groupBy("c").agg(count(lit(1)).as("dc"))
        degC.join(perC, Seq("c"), "left")
          .crossJoin(broadcast(mTot))
          .withColumn("mc", coalesce(col("mc"), lit(0L)))
          .agg(count(lit(1)).as("n_clusters"), max(col("m")).as("n_edges"),
            sum(big(col("mc")) * big(col("m")) * 4
              - big(col("dc")) * big(col("dc"))).as("qnum"))
          .select(col("n_clusters"), col("n_edges"),
            when(col("n_edges") === 0, lit(null).cast("double"))
              .otherwise(col("qnum").cast("double")
                / (big(col("n_edges")) * big(col("n_edges")) * 4).cast("double"))
              .as("modularity"))
      },
      oracle = Some(
        s"""WITH RECURSIVE ${lshPairsSqlCtes(0.40)},
           |pairs AS (
           |  SELECT a_id, b_id FROM cand JOIN e a ON a.vec_id = a_id JOIN e b ON b.vec_id = b_id
           |  WHERE ${duckDot("a.embedding", "b.embedding")}
           |         / (sqrt(${duckDot("a.embedding", "a.embedding")}) * sqrt(${duckDot("b.embedding", "b.embedding")})) >= 0.40),
           |sym AS (SELECT a_id AS s, b_id AS d FROM pairs
           |        UNION ALL SELECT b_id, a_id FROM pairs),
           |reach(s, d) AS (
           |  SELECT s, d FROM sym
           |  UNION
           |  SELECT r.s, e2.d FROM reach r JOIN sym e2 ON r.d = e2.s WHERE r.s != e2.d
           |),
           |lab AS (SELECT s AS id, LEAST(s, MIN(d)) AS label
           |        FROM reach GROUP BY s),
           |edges AS (SELECT la.label AS ca, lb.label AS cb FROM pairs
           |          JOIN lab la ON la.id = a_id JOIN lab lb ON lb.id = b_id),
           |mt AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
           |pc AS (SELECT ca AS c, CAST(COUNT(*) AS BIGINT) AS mc
           |       FROM edges WHERE ca = cb GROUP BY ca),
           |dc AS (SELECT label AS c, CAST(COUNT(*) AS BIGINT) AS dcv
           |       FROM sym JOIN lab ON lab.id = sym.s GROUP BY label),
           |q AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters, MAX(m) AS n_edges,
           |             SUM(CAST(COALESCE(mc, 0) AS HUGEINT) * m * 4
           |                 - CAST(dcv AS HUGEINT) * dcv) AS qnum
           |      FROM dc LEFT JOIN pc USING (c) CROSS JOIN mt)
           |SELECT n_clusters, CAST(n_edges AS BIGINT) AS n_edges,
           |       CASE WHEN n_edges = 0 THEN NULL
           |            ELSE CAST(qnum AS DOUBLE)
           |                 / CAST(CAST(n_edges AS HUGEINT) * n_edges * 4 AS DOUBLE) END AS modularity
           |FROM q""".stripMargin)),

    // ---- k-core of the near-dup graph (added r13) --------------------------
    // The density companion of dbscan_clusters/cluster_modularity on the
    // SAME band-local pair graph (0.40, the cluster family): the 3-core —
    // iteratively peel nodes with degree < 3 until fixpoint — is the
    // boilerplate NUCLEUS a dedup pass should treat as one block (every
    // survivor has ≥3 near-dup partners among survivors; leaves and chains
    // peel away). Bounded-round semantics (the bpe_train doctrine): the
    // operator is DEFINED as ≤12 peel rounds with a converged flag —
    // peeling is monotone, so once a round removes nothing the remaining
    // rounds are no-ops and the Spark early-stop ≡ the oracle's fixed
    // 12-round unrolled CTE chain. All counts exact; share is ONE bare
    // division. Per-round edge counts are driver convergence probes (the
    // CC-loop precedent); state is Q.truncate'd per round.
    //
    // Scale shape: the shared spill-free pair generator → per round ONE
    // degree agg + two semi-joins over the (shrinking) edge frame — at
    // 100 TB each round is pair-frame-sized, never corpus², and the
    // round count is bounded by construction.
    "dup_graph_kcore" -> Q(
      // peel loop factored into [[kcorePeel]] (r14) so dedup_policy_compare's
      // kcore_member policy provably uses the audit query's own core set
      fn = (s, dir) => {
        val (pairsRaw, sig) = lshNearDupPairsBandLocalWithSig(
          Tables.load(s, dir, "embeddings"), 0.40)
        // r16: the initial edge count rides the truncate action (observe)
        // instead of a second count() job over the fresh checkpoint
        val obs0 = org.apache.spark.sql.Observation()
        val edges0 = Q.truncate(pairsRaw.select(col("a_id"), col("b_id"))
          .observe(obs0, count(lit(1)).as("n")))
        sig.unpersist()
        val nEdges0 = obs0.get("n").asInstanceOf[Long]
        val nNodes0 = edges0.select(col("a_id").as("id"))
          .union(edges0.select(col("b_id").as("id"))).distinct().count()
        val (edges, coreEdges, roundsPeeled, converged) = kcorePeel(edges0, nEdges0)
        val coreNodes =
          if (coreEdges == 0L) 0L
          else edges.select(col("a_id").as("id"))
            .union(edges.select(col("b_id").as("id"))).distinct().count()
        import scala.jdk.CollectionConverters._
        s.createDataFrame(
          Seq(org.apache.spark.sql.Row(nNodes0, nEdges0, coreNodes, coreEdges,
            roundsPeeled, converged,
            if (nEdges0 == 0L) null
            else java.lang.Double.valueOf(coreEdges.toDouble / nEdges0))).asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("n_nodes",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("n_edges",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("core_nodes",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("core_edges",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("rounds_peeled",
              org.apache.spark.sql.types.IntegerType, nullable = false),
            org.apache.spark.sql.types.StructField("converged",
              org.apache.spark.sql.types.BooleanType, nullable = false),
            org.apache.spark.sql.types.StructField("core_edge_share",
              org.apache.spark.sql.types.DoubleType, nullable = true))))
      },
      oracle = Some {
        val rounds = (1 to 12).map { k =>
          s"""d$k AS MATERIALIZED (SELECT id, COUNT(*) AS deg FROM (
             |          SELECT a_id AS id FROM e${k - 1}
             |          UNION ALL SELECT b_id FROM e${k - 1}) u GROUP BY id),
             |e$k AS MATERIALIZED (SELECT a_id, b_id FROM e${k - 1}
             |        WHERE a_id IN (SELECT id FROM d$k WHERE deg >= 3)
             |          AND b_id IN (SELECT id FROM d$k WHERE deg >= 3))""".stripMargin
        }.mkString(",\n")
        val cnts = (0 to 12)
          .map(k => s"(SELECT COUNT(*) FROM e$k) AS c$k").mkString(",\n       ")
        val peels = (1 to 12)
          .map(k => s"CASE WHEN c$k < c${k - 1} THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH ${lshPairsSqlCtes(0.40)},
           |e0 AS MATERIALIZED (
           |  SELECT a_id, b_id FROM cand
           |  JOIN e a ON a.vec_id = a_id JOIN e b ON b.vec_id = b_id
           |  WHERE ${duckDot("a.embedding", "b.embedding")}
           |         / (sqrt(${duckDot("a.embedding", "a.embedding")}) * sqrt(${duckDot("b.embedding", "b.embedding")})) >= 0.40),
           |$rounds,
           |c AS (SELECT $cnts)
           |SELECT
           |  (SELECT COUNT(DISTINCT id) FROM (
           |     SELECT a_id AS id FROM e0 UNION ALL SELECT b_id FROM e0) u) AS n_nodes,
           |  c0 AS n_edges,
           |  (SELECT COUNT(DISTINCT id) FROM (
           |     SELECT a_id AS id FROM e12 UNION ALL SELECT b_id FROM e12) u) AS core_nodes,
           |  c12 AS core_edges,
           |  CAST($peels AS INTEGER) AS rounds_peeled,
           |  c12 = c11 AS converged,
           |  CASE WHEN c0 = 0 THEN NULL
           |       ELSE CAST(c12 AS DOUBLE) / c0 END AS core_edge_share
           |FROM c""".stripMargin
      }),

    // ---- embedding-cosine near-duplicate pairs (banded hyperplane LSH) --
    // Candidate generation is a 6-band × 6-bit signature equi-join — the
    // bucketed shape that survives 100 TB (per-band shuffle on (band, sig),
    // no cartesian anywhere in the plan; candidates drop ~(2^bits)/bands vs
    // all-pairs, 10× on this corpus). Exact cosine verifies candidates, so
    // precision is 1 at every SF. Recall is OR-amplified and ANGLE-DEPENDENT
    // by design: p(pair at angle θ shares ≥1 band) = 1 − (1 − (1 − θ/π)^6)^6
    // ≈ 0.99 for true near-dups (cos ≥ 0.9, spec-verified on planted dups)
    // and ~1/3 on this corpus's sim 0.35-0.44 random-tail pairs — which only
    // exist because the threshold is artificially low: the synthetic
    // embeddings are near-orthogonal random vectors (max pairwise cos ≈
    // 0.44), so 0.35 keeps the output non-empty. Recall < 1 on far pairs is
    // the documented price of subquadratic candidate generation; the DuckDB
    // oracle runs the identical algorithm, so the gate compares exactly.
    "dedup_embedding_cosine" -> Q(
      fn = (s, dir) => lshNearDupPairs(Tables.load(s, dir, "embeddings"), 0.35),
      oracle = Some(
        s"""WITH ${lshPairsSqlCtes(0.35)}
           |SELECT a_id, b_id,
           |       floor(${duckDot("a.embedding", "b.embedding")}
           |         / (sqrt(${duckDot("a.embedding", "a.embedding")}) * sqrt(${duckDot("b.embedding", "b.embedding")}))
           |         * 1000000.0) / 1000000.0 AS sim
           |FROM cand JOIN e a ON a.vec_id = a_id JOIN e b ON b.vec_id = b_id
           |WHERE ${duckDot("a.embedding", "b.embedding")}
           |         / (sqrt(${duckDot("a.embedding", "a.embedding")}) * sqrt(${duckDot("b.embedding", "b.embedding")})) >= 0.35
           |ORDER BY a_id, b_id""".stripMargin)),

    // ---- band-local near-dup pairs: the spill-free scale shape (r11) -----
    // dedup_embedding_cosine's 100 TB execution shape, result-identical by
    // construction at the default dial (the decontaminate_bloom oracle
    // pattern: the oracle IS the exact-candidate plan's SQL, which is the
    // point — a DuckDB gate for "engine-side plan change that provably
    // doesn't change the answer"). See [[lshNearDupPairsBandLocal]] for
    // the sf10 spill this shape removes and the (bands, bits) re-shard
    // dial; [[graft.ReshardCheck]] measures both at the sf10 decade.
    "dedup_cosine_bandlocal" -> Q(
      fn = (s, dir) =>
        lshNearDupPairsBandLocal(Tables.load(s, dir, "embeddings"), 0.35)
          .orderBy("a_id", "b_id"),
      oracle = Some(
        s"""WITH ${lshPairsSqlCtes(0.35)}
           |SELECT a_id, b_id,
           |       floor(${duckDot("a.embedding", "b.embedding")}
           |         / (sqrt(${duckDot("a.embedding", "a.embedding")}) * sqrt(${duckDot("b.embedding", "b.embedding")}))
           |         * 1000000.0) / 1000000.0 AS sim
           |FROM cand JOIN e a ON a.vec_id = a_id JOIN e b ON b.vec_id = b_id
           |WHERE ${duckDot("a.embedding", "b.embedding")}
           |         / (sqrt(${duckDot("a.embedding", "a.embedding")}) * sqrt(${duckDot("b.embedding", "b.embedding")})) >= 0.35
           |ORDER BY a_id, b_id""".stripMargin)),

    // ---- near-dup CLUSTERS: connected components over the LSH pair graph -
    // The missing verb after pair-finding: group mutually-near documents so
    // one survivor per CLUSTER can be kept (A~B, B~C ⇒ {A,B,C} even when
    // A~C wasn't found). Spark side is iterative min-label propagation —
    // each round a join + min-agg, the textbook large-graph CC shape
    // (GraphX/GraphFrames do the same under the hood), converging in
    // O(component diameter) rounds; the driver loop only reads a scalar
    // convergence count per round. Oracle: DuckDB recursive CTE computing
    // the transitive closure — exponentially sized on big components, fine
    // at gate scale, which is exactly why the Spark side does NOT use it.
    // Threshold 0.40 (vs the pair query's 0.35): at 0.35 the random-tail
    // graph nearly percolates (an 807-node component at sf0.1) — a
    // data-realism artifact of the synthetic corpus, not a shape problem,
    // but it makes the closure-based oracle quadratic; 0.40 keeps clusters
    // near-dup-tight (max size 8 at sf0.1).
    "dedup_clusters" -> Q(
      fn = (s, dir) => {
        val (pairsDf, sigCache) =
          lshNearDupPairsUnsorted(Tables.load(s, dir, "embeddings"), 0.40)
        val pairs = pairsDf.select(col("a_id"), col("b_id"))
        // The symmetric edge list is checkpointed inside connectedComponents
        // (lineage truncation; reliable checkpoint on clusters — Q.truncate),
        // after which the LSH signature cache can drop. The min-label loop
        // itself (1 join + 1 agg per round, pointer jumping folded into the
        // same shuffle, join-free decimal-sum convergence, loud
        // non-convergence failure) lives in [[Q.connectedComponents]],
        // shared r6 with the text-side dedup_minhash_clusters.
        val sym = pairs
          .union(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
        val labels = Q.connectedComponents(sym)
        sigCache.unpersist() // pairs are materialized in the CC checkpoint
        labels.select(col("id").as("vec_id"), col("label").as("cluster"))
          .orderBy("vec_id")
      },
      oracle = Some(
        s"""WITH RECURSIVE ${lshPairsSqlCtes(0.40)},
           |pairs AS (
           |  SELECT a_id, b_id FROM cand JOIN e a ON a.vec_id = a_id JOIN e b ON b.vec_id = b_id
           |  WHERE ${duckDot("a.embedding", "b.embedding")}
           |         / (sqrt(${duckDot("a.embedding", "a.embedding")}) * sqrt(${duckDot("b.embedding", "b.embedding")})) >= 0.40),
           |sym AS (SELECT a_id AS s, b_id AS d FROM pairs
           |        UNION ALL SELECT b_id, a_id FROM pairs),
           |reach(s, d) AS (
           |  SELECT s, d FROM sym
           |  UNION
           |  SELECT r.s, e2.d FROM reach r JOIN sym e2 ON r.d = e2.s WHERE r.s != e2.d
           |)
           |SELECT s AS vec_id, LEAST(s, MIN(d)) AS cluster
           |FROM reach GROUP BY s ORDER BY vec_id""".stripMargin)),

    // ---- DBSCAN over the near-dup graph: density-based clustering (r12) --
    // The density-based clustering verb missing from the kmeans/CC family
    // (Ester et al. 1996, made deterministic): eps-neighborhood = cosine
    // ≥ 0.40 (dedup_clusters' closure-safe dial, band-local pair
    // generator), minPts = 3 → CORE iff degree ≥ 2; clusters = connected
    // components over CORE-CORE edges (+ self-loops so a core with only
    // border neighbors clusters as its own singleton); BORDER = non-core
    // with ≥1 core neighbor, attached to the MIN core-neighbor label (the
    // textbook algorithm is scan-order-dependent exactly here — the min
    // rule replaces that with a total order); everything else = NOISE.
    // vs dedup_clusters (CC over ALL edges): DBSCAN refuses to chain
    // through low-degree bridge vectors — the percolation-resistant
    // variant. Output is the full labeling, dedup_clusters' shape.
    //
    // Scale shape: band-local pair generation (never all-pairs) → degree
    // agg → equi-joins on id → the SAME bounded CC loop (core subgraph is
    // smaller than dedup_clusters' input) → two label-attach joins.
    "dbscan_clusters" -> Q(
      fn = (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val (pairsRaw, sig) = lshNearDupPairsBandLocalWithSig(emb, 0.40)
        val pairs = pairsRaw.select(col("a_id"), col("b_id"))
        // the symmetric edge frame feeds FOUR branches (degrees, core-core
        // edges ×2 sides, border attach) — materialize it ONCE (Q.truncate)
        // instead of re-running band-join + verify per branch (Prof warm:
        // 3.7 s unmaterialized → 2.9 s truncated; the remaining cost is the
        // CC loop itself, same as its dial siblings), then drop the
        // signature cache
        val sym = Q.truncate(pairs
          .union(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id"))))
        sig.unpersist()
        val deg = sym.groupBy(col("a_id").as("id")).agg(count(lit(1)).as("d"))
        val core = deg.filter(col("d") >= 2).select("id")
        val coreEdges = sym
          .join(core.select(col("id").as("a_id")), Seq("a_id"))
          .join(core.select(col("id").as("b_id")), Seq("b_id"))
          .select("a_id", "b_id")
          .union(core.select(col("id").as("a_id"), col("id").as("b_id")))
        val coreLab = Q.connectedComponents(coreEdges)
        val borderLab = sym
          .join(core.select(col("id").as("a_id")), Seq("a_id"), "left_anti")
          .join(coreLab.select(col("id").as("b_id"), col("label")), Seq("b_id"))
          .groupBy(col("a_id")).agg(min(col("label")).as("blabel"))
        emb.select(col("vec_id"))
          .join(coreLab.select(col("id").as("vec_id"), col("label").as("clab")),
            Seq("vec_id"), "left")
          .join(borderLab.select(col("a_id").as("vec_id"), col("blabel")),
            Seq("vec_id"), "left")
          .select(col("vec_id"),
            when(col("clab").isNotNull, "core")
              .when(col("blabel").isNotNull, "border")
              .otherwise("noise").as("role"),
            coalesce(col("clab"), col("blabel")).as("cluster"))
          .orderBy("vec_id")
      },
      oracle = Some(
        s"""WITH RECURSIVE ${lshPairsSqlCtes(0.40)},
           |p AS (SELECT a_id, b_id
           |      FROM cand JOIN e a ON a.vec_id = a_id JOIN e b ON b.vec_id = b_id
           |      WHERE ${duckDot("a.embedding", "b.embedding")}
           |             / (sqrt(${duckDot("a.embedding", "a.embedding")}) * sqrt(${duckDot("b.embedding", "b.embedding")})) >= 0.40),
           |sym AS (SELECT a_id AS s, b_id AS d FROM p
           |        UNION ALL SELECT b_id, a_id FROM p),
           |deg AS (SELECT s AS id, CAST(COUNT(*) AS BIGINT) AS dg FROM sym GROUP BY s),
           |core AS (SELECT id FROM deg WHERE dg >= 2),
           |ce AS (SELECT s, d FROM sym
           |       WHERE s IN (SELECT id FROM core) AND d IN (SELECT id FROM core)
           |       UNION ALL SELECT id, id FROM core),
           |reach(s, d) AS (
           |  SELECT s, d FROM ce
           |  UNION
           |  SELECT r.s, e2.d FROM reach r JOIN ce e2 ON r.d = e2.s WHERE r.s != e2.d
           |),
           |corelab AS (SELECT s AS id, LEAST(s, MIN(d)) AS label FROM reach GROUP BY s),
           |borderlab AS (
           |  SELECT sym.s AS id, MIN(cl.label) AS blabel
           |  FROM sym JOIN corelab cl ON sym.d = cl.id
           |  WHERE sym.s NOT IN (SELECT id FROM core) GROUP BY sym.s)
           |SELECT emb.vec_id,
           |       CASE WHEN c.label IS NOT NULL THEN 'core'
           |            WHEN b.blabel IS NOT NULL THEN 'border'
           |            ELSE 'noise' END AS role,
           |       COALESCE(c.label, b.blabel) AS cluster
           |FROM embeddings emb
           |LEFT JOIN corelab c ON c.id = emb.vec_id
           |LEFT JOIN borderlab b ON b.id = emb.vec_id
           |ORDER BY emb.vec_id""".stripMargin)),

    // ---- SemDeDup: cluster-then-prune semantic dedup (added r6) ----------
    // The published cluster-restricted semantic dedup (SemDeDup, Abbas et
    // al. 2023, arXiv:2303.09540): k-means-cluster the embeddings, then
    // search for near-duplicate pairs ONLY within a cluster — the pairwise
    // cost drops from O(n²) to O(Σ per-cluster size²), which is the whole
    // trick. Assignment here is one deterministic Lloyd assignment to the
    // 16 seed centroids (the ivf_topk/kmeans codebook convention; a real
    // run chains kmeans_train first and picks k ∝ corpus size so per-
    // cluster membership stays bounded — that k choice, not this query
    // shape, is what keeps the self-join subquadratic at 100 TB). A vector
    // is REMOVED when an earlier (lower vec_id) member of its cluster is
    // within cosine ≥ 0.35 — the keep-one-per-dup-set rule made
    // deterministic. Output: the removed vectors with their cluster, how
    // many earlier near-dups doomed them, and the strongest such tie.
    // Scale shape: assignment is a 16-row broadcast + map-side min(struct)
    // argmin; the self-join shuffles BOTH sides once on the cluster key
    // (co-partitioned equi-join, no cartesian); the argmin subtree feeds
    // both join sides via ReusedExchange (one corpus pass). Float parity:
    // fused codegen cosine = DuckDB's left-fold list_reduce bit-for-bit,
    // so the raw 0.35 comparison and max(sim) agree exactly.
    "semdedup" -> Q(
      fn = (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        // r15: map-only VectorArgmin against the one-row collected centroid
        // array (see AnnQueries.ivfListsN's optimization note) — the
        // assignment no longer shuffles the corpus; the cluster self-join
        // below still shares ONE corpus pass, now via ReusedExchange on the
        // join-side cluster exchanges (both sides are canonically equal).
        val cands = emb.filter(col("vec_id") < 16)
          .agg(sort_array(collect_list(struct(
            col("vec_id").cast("long").as("id"), col("embedding").as("centv")))).as("cands"))
        val assigned = emb.select(col("vec_id"), col("embedding"))
          .crossJoin(broadcast(cands))
          .select(col("vec_id"), col("embedding"),
            graft.functions.VectorFunctions.argminL2(col("cands"), col("embedding")).as("m"))
          .filter(col("m").isNotNull)
          .select(col("vec_id"), col("m.id").as("cluster"), col("embedding"))
        val a = assigned.select(col("cluster"), col("vec_id").as("a_id"),
          col("embedding").as("av"))
        val b = assigned.select(col("cluster"), col("vec_id").as("b_id"),
          col("embedding").as("bv"))
        a.join(b, Seq("cluster"))
          .filter(col("a_id") < col("b_id"))
          .withColumn("sim", cosineSimilarity(col("av"), col("bv")))
          .filter(col("sim") >= 0.35)
          .groupBy(col("cluster"), col("b_id").as("removed_id"))
          .agg(count(lit(1)).as("n_near"), Q.grid6(max(col("sim"))).as("max_sim"))
          .orderBy("cluster", "removed_id")
      },
      oracle = Some(
        s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS centv
           |               FROM embeddings WHERE vec_id < 16),
           |assigned AS (
           |  SELECT vec_id, embedding, cluster FROM (
           |    SELECT e.vec_id, e.embedding, c.cent_id AS cluster,
           |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |                              ORDER BY ${duckL2Full("e.embedding", "c.centv")}, c.cent_id) AS rk
           |    FROM embeddings e CROSS JOIN cents c) t
           |  WHERE rk = 1),
           |pairs AS (
           |  SELECT a.cluster, a.vec_id AS a_id, b.vec_id AS b_id,
           |         ${duckDot("a.embedding", "b.embedding")}
           |           / (sqrt(${duckDot("a.embedding", "a.embedding")})
           |            * sqrt(${duckDot("b.embedding", "b.embedding")})) AS sim
           |  FROM assigned a JOIN assigned b
           |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
           |SELECT cluster, b_id AS removed_id, COUNT(*) AS n_near,
           |       floor(MAX(sim) * 1000000.0) / 1000000.0 AS max_sim
           |FROM pairs WHERE sim >= 0.35
           |GROUP BY cluster, b_id ORDER BY cluster, removed_id""".stripMargin)),

    // ---- k-center coreset selection: greedy farthest-point (added r8) ----
    // The data-pruning / active-learning coreset primitive (Gonzalez 1985
    // 2-approximation; Sener & Savarese 2018 use exactly this greedy for
    // coreset selection): pick 8 maximally-spread representatives — seed =
    // lowest vec_id, then 7 rounds of "farthest point from everything
    // chosen so far". Each pick's `radius2` (its squared distance to the
    // chosen set at selection time) is the k-center coverage radius the
    // selection guarantees at that k — the curve a "how many exemplars do
    // I need" decision reads. Distances are the floatL2Sq ↔ duckL2Full
    // proven pair (identical left folds ⇒ bit-identical doubles); the
    // argmax tie-breaks on vec_id; radius2 emits through the grid6 floor.
    //
    // Scale shape: greedy FPS is inherently k passes — each round ONE
    // map-only distance update against a 1-row broadcast + a min(struct)
    // argmax agg, localCheckpointed like the dedup_clusters loop so round
    // k's plan does not re-execute rounds 1..k−1 (the chosen agg feeds
    // both the output row and the next update). k is a constant (8); the
    // passes are linear scans at any corpus size.
    "kcenter_select" -> Q(
      fn = (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        def l2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          graft.functions.VectorFunctions.floatL2Sq(a, b)
        val seed = emb.orderBy(col("vec_id")).limit(1)
        var state = emb
          .crossJoin(broadcast(seed.select(col("embedding").as("sel_emb"))))
          .select(col("vec_id"), col("embedding"),
            l2(col("embedding"), col("sel_emb")).as("mind"))
          .localCheckpoint()
        var out = seed.select(lit(1L).as("step"), col("vec_id"),
          lit(null).cast("double").as("radius2"))
        for (k <- 2 to 8) {
          val chosen = state
            .agg(min(struct(negate(col("mind")).as("nd"), col("vec_id"),
              col("embedding"))).as("m"))
            .select(col("m.vec_id").as("sel_id"), col("m.embedding").as("sel_emb"),
              negate(col("m.nd")).as("sel_d"))
            .filter(col("sel_id").isNotNull) // empty corpus: no pick, no row
          out = out.unionByName(chosen.select(lit(k.toLong).as("step"),
            col("sel_id").as("vec_id"), Q.grid6(col("sel_d")).as("radius2")))
          state = state.crossJoin(broadcast(chosen.select(col("sel_emb"))))
            .select(col("vec_id"), col("embedding"),
              least(col("mind"), l2(col("embedding"), col("sel_emb"))).as("mind"))
            .localCheckpoint()
        }
        out.orderBy("step")
      },
      oracle = Some {
        val rounds = (2 to 8).map { k =>
          s"""c$k AS (SELECT vec_id AS sel_id, embedding AS sel_emb, mind AS sel_d
             |        FROM st${k - 1} ORDER BY mind DESC, vec_id LIMIT 1),
             |st$k AS (SELECT t.vec_id, t.embedding,
             |               least(t.mind, ${duckL2Full("t.embedding", s"c$k.sel_emb")}) AS mind
             |         FROM st${k - 1} t CROSS JOIN c$k)""".stripMargin
        }.mkString(",\n")
        val picks = (2 to 8).map(k =>
          s"UNION ALL SELECT CAST($k AS BIGINT), sel_id, floor(sel_d * 1000000.0) / 1000000.0 FROM c$k")
          .mkString("\n")
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |s1 AS (SELECT vec_id AS sel_id, embedding AS sel_emb FROM e ORDER BY vec_id LIMIT 1),
           |st1 AS (SELECT e.vec_id, e.embedding,
           |               ${duckL2Full("e.embedding", "s1.sel_emb")} AS mind
           |        FROM e CROSS JOIN s1),
           |$rounds
           |SELECT CAST(1 AS BIGINT) AS step, sel_id AS vec_id, CAST(NULL AS DOUBLE) AS radius2 FROM s1
           |$picks
           |ORDER BY step""".stripMargin
      }),

    // ---- per-label embedding outliers (added r7) -------------------------
    // The pruning half of embedding-space curation (embedding_audit is the
    // datacard half): per label, the 3 vectors farthest (L2) from their
    // label's centroid — mislabeled points, encoder failures, and
    // out-of-distribution members surface here first.
    //
    // Float parity — exact until the last three scalar ops, the
    // source_centroid_sim discipline extended to DISTANCES: elements
    // quantize to exact micro-units; the centroid mean sv/n is never
    // materialized as a double — instead each squared deviation is scaled
    // by n² so (n·x − sv) is an exact BIGINT (|n·x| ≤ n·2²⁰, safe to
    // ~4e12 vectors/label) and d2n = Σ(n·x − sv)² is an exact
    // DECIMAL(38,0) (≤ 64·(2e15)² ≈ 2.6e32 at 1e9 vectors/label). RANKING
    // uses d2n itself — exact integer comparisons, zero float influence —
    // and the reported distance devolves to three correctly-rounded ops:
    // cast, sqrt, divide by the exact n·1e6.
    //
    // Scale shape: one 64× posexplode feeding a (label, pos) partial agg
    // (shuffle carries ≤ |labels|×64 rows after combine); the deviation
    // join is against that broadcast-tiny centroid table; per-vector d2n
    // is a map-side-combined agg on vec_id; the top-3 window partitions
    // by label — at extreme per-label cardinality swap in the typed TopK
    // aggregator, same contract.
    "embedding_outliers" -> Q(
      fn = (s, dir) => {
        val m = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding")).as(Seq("pos", "x")))
          .select(col("vec_id"), col("label"), col("pos"),
            floor(col("x").cast("double") * lit(1000000.0d)).cast("long").as("micro"))
        val cent = m.groupBy("label", "pos")
          .agg(sum(col("micro")).as("sv"), count(lit(1)).as("n"))
        val d2 = m.join(broadcast(cent), Seq("label", "pos"))
          .withColumn("diff", (col("n") * col("micro") - col("sv")).cast("decimal(19,0)"))
          .groupBy("vec_id", "label", "n")
          .agg(sum(col("diff") * col("diff")).as("d2n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("label")).orderBy(col("d2n").desc, col("vec_id"))
        d2.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("label"), col("rk").cast("int").as("rk"), col("vec_id"),
            (sqrt(col("d2n").cast("double"))
              / (col("n").cast("double") * lit(1000000.0d))).as("dist"))
          .orderBy("label", "rk")
      },
      oracle = Some(
        """WITH el AS (
          |  SELECT vec_id, label, UNNEST(range(1, 65)) AS pos, embedding
          |  FROM embeddings),
          |m AS (
          |  SELECT vec_id, label, pos,
          |         CAST(floor(CAST(embedding[pos] AS DOUBLE) * 1000000.0) AS BIGINT) AS micro
          |  FROM el),
          |cent AS (
          |  SELECT label, pos, CAST(SUM(micro) AS BIGINT) AS sv,
          |         CAST(COUNT(*) AS BIGINT) AS n
          |  FROM m GROUP BY label, pos),
          |d2 AS (
          |  SELECT m.vec_id, m.label, n,
          |         SUM(CAST(n * micro - sv AS DECIMAL(19,0))
          |             * CAST(n * micro - sv AS DECIMAL(19,0))) AS d2n
          |  FROM m JOIN cent ON m.label = cent.label AND m.pos = cent.pos
          |  GROUP BY m.vec_id, m.label, n),
          |rk AS (
          |  SELECT label, vec_id, n, d2n,
          |         ROW_NUMBER() OVER (PARTITION BY label ORDER BY d2n DESC, vec_id) AS rk
          |  FROM d2)
          |SELECT label, CAST(rk AS INTEGER) AS rk, vec_id,
          |       sqrt(CAST(d2n AS DOUBLE)) / (CAST(n AS DOUBLE) * 1000000.0) AS dist
          |FROM rk WHERE rk <= 3 ORDER BY label, rk""".stripMargin)),

    // ---- distributed PCA: dominant component by power iteration (r7) -----
    // The first principal DIRECTION of the embedding table — the spine of
    // embedding whitening, spectral outlier pruning, and the "is the
    // encoder collapsing to one axis" audit (a dominant loading ≈ 1 on one
    // dim plus embedding_audit's norm stats is the collapse signature).
    // Method: Gram matrix G = Σ v·vᵀ (the data-sized pass), then 5 power
    // iterations v ← Gv/‖Gv‖ on the 64×64 result — the large-scale recipe
    // (a cluster computes the Gram distributed and eigensolves the tiny
    // matrix; here even the iterations stay declarative so both engines
    // run the identical arithmetic).
    //
    // Float parity: elements micro-quantize to exact ints
    // (embedding_outliers' grid), so G is EXACT integer sums; G is then
    // normalized ONCE by max|G| (one correctly-rounded division per cell,
    // 6 dp grid) so every iteration runs in bounded-precision exact
    // decimals: w = A·v exact (DECIMAL(18,12) — |w| ≤ 64), Σw² exact, and
    // the normalize is the proven cast-divide-round-to-grid chain. No
    // accumulated float anywhere; both engines iterate bit-identically.
    //
    // Scale shape: the ONLY corpus-sized work is the Gram agg — a vec_id
    // co-partitioned self-join whose 64² map-side blowup collapses to
    // 4096 (i, j) keys via partial agg (the shuffle carries ≤ 4096 rows
    // per partition, like skipgram_pmi's window factor). The iterations
    // touch 64-row frames — constant cost at any corpus size.
    "embedding_pca_power" -> Q(
      fn = (s, dir) =>
        pcaVector(s, dir)
          .select(col("i").cast("int").as("dim"), col("vv").cast("double").as("loading"))
          .orderBy("dim"),
      oracle = Some(
        s"""WITH $pcaSqlCtes
           |SELECT CAST(i AS INTEGER) AS dim, CAST(vv AS DOUBLE) AS loading
           |FROM v5 ORDER BY dim""".stripMargin)),

    // ---- PCA projection scores per label (r7) ----------------------------
    // The USE of the dominant component: every vector's coordinate along it
    // (s = vᵀx), rolled up per label — a 1-d spectral summary that shows
    // which labels sit where along the corpus's main axis of variation and
    // how spread out each is (labels with near-zero spread are candidates
    // for collapse/near-constant clusters). Both legs REUSE the gated PCA:
    // the Spark side calls the same [[pcaVector]] builder, the oracle nests
    // [[pcaSqlCtes]] — the eval cannot drift from the component it
    // projects onto (the recall_at_k discipline).
    //
    // Float parity: the projection Σ qᵢ·vᵢ is EXACT (int micro-units ×
    // 6 dp grid decimals); per-label min/max/sum stay exact decimals, and
    // each reported double is a fixed cast-divide chain folding the 1e6
    // scale into the denominator.
    //
    // Scale shape: the 64-row component broadcasts; the projection is one
    // map-side join + per-vec_id agg (partial combine on vec_id); the
    // label roll-up carries ≤ |labels| rows.
    "pca_scores" -> Q(
      fn = (s, dir) => {
        val m = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding")).as(Seq("pos", "x")))
          .select(col("vec_id"), col("label"), col("pos"),
            floor(col("x").cast("double") * lit(1000000.0d)).cast("long").as("q"))
        val sc = m.join(broadcast(pcaVector(s, dir)), m("pos") === col("i"))
          .groupBy("vec_id", "label")
          .agg(sum(col("q") * col("vv")).as("sv"))
        sc.groupBy("label")
          .agg(count(lit(1)).as("n_vecs"),
            sum(col("sv")).as("ss"), min(col("sv")).as("mn"), max(col("sv")).as("mx"))
          .select(col("label"), col("n_vecs"),
            (col("ss").cast("double") / (col("n_vecs") * 1000000L).cast("double"))
              .as("mean_score"),
            (col("mn").cast("double") / lit(1000000.0d)).as("min_score"),
            (col("mx").cast("double") / lit(1000000.0d)).as("max_score"))
          .orderBy("label")
      },
      oracle = Some(
        s"""WITH $pcaSqlCtes,
           |lbl AS (SELECT vec_id, label FROM embeddings),
           |sc AS (SELECT mm.vec_id, lbl.label, SUM(mm.q * v5.vv) AS sv
           |       FROM m mm JOIN v5 ON mm.i = v5.i
           |            JOIN lbl ON lbl.vec_id = mm.vec_id
           |       GROUP BY mm.vec_id, lbl.label)
           |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           |       CAST(SUM(sv) AS DOUBLE) / CAST(COUNT(*) * 1000000 AS DOUBLE) AS mean_score,
           |       CAST(MIN(sv) AS DOUBLE) / 1000000.0 AS min_score,
           |       CAST(MAX(sv) AS DOUBLE) / 1000000.0 AS max_score
           |FROM sc GROUP BY label ORDER BY label""".stripMargin))
  )

  /** The Spark leg of the exact-decimal power iteration: micro-quantized
    * Gram (the only corpus-sized pass), max|G| normalization onto the 6 dp
    * grid, 5 iterations on 64-row frames. Returns the dominant component
    * as `(i, vv DECIMAL(12,6))` — shared by embedding_pca_power and
    * pca_scores so the projection provably uses the gated component. */
  private[queries] def pcaVector(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    // ONE corpus pass: the typed Gram aggregator folds each vector's outer
    // product into a per-task 64×64 long buffer (exact micro-unit ints,
    // upper triangle + mirror — see GramAgg), so the shuffle is one
    // 4096-long buffer per partition. The declarative equivalent (64×
    // posexplode + vec_id self-join + (i, j) agg) is plan-identical in
    // MEANING but pays a 64²× join blowup — measured 12 s vs sub-second
    // at sf0.1. Materialized once: gmax, the normalize, and all 5
    // iteration joins read the 4096-row result, not the corpus.
    val d = 64
    val gram = Q.truncate(
      Tables.load(s, dir, "embeddings")
        .agg(graft.functions.GramAgg.gramMicro(col("embedding")).as("gf"))
        .select(posexplode(col("gf")).as(Seq("idx", "gl")))
        .select(expr(s"int(idx div $d)").as("ri"), expr(s"int(idx % $d)").as("cj"),
          col("gl").cast("decimal(38,0)").as("g")))
    val gmax = gram.agg(max(abs(col("g"))).as("mx"))
    val aMat = gram.crossJoin(broadcast(gmax))
      .select(col("ri"), col("cj"),
        Q.grid6(col("g").cast("double") / col("mx").cast("double"))
          .cast("decimal(12,6)").as("av"))
    var v = gram.select(col("ri").as("i")).distinct()
      .select(col("i"), lit(0.125d).cast("decimal(12,6)").as("vv"))
    for (_ <- 1 to 5) {
      val w = aMat.join(v, aMat("cj") === v("i"))
        .groupBy("ri")
        .agg(sum(col("av") * col("vv")).cast("decimal(18,12)").as("w"))
      val nrm = w.agg(sqrt(sum(col("w") * col("w")).cast("double")).as("nrm"))
      v = Q.truncate(w.crossJoin(broadcast(nrm))
        .select(col("ri").as("i"),
          Q.grid6(col("w").cast("double") / col("nrm"))
            .cast("decimal(12,6)").as("vv")))
    }
    v
  }

  /** The embedding_pca_power CTE chain (micro-quantize → exact Gram →
    * normalize → 5 exact-decimal power iterations, final vector `v5 (i,
    * vv)`), factored so the projection query below NESTS the same SQL the
    * gate checks — the recall_at_k no-drift discipline applied to PCA. */
  private[queries] def pcaSqlCtes: String = {
    val iters = (1 to 5).map { t =>
      val prev = s"v${t - 1}"
      s"""w$t AS (SELECT ri AS i, CAST(SUM(av * vv) AS DECIMAL(18,12)) AS w
         |        FROM aa JOIN $prev ON aa.cj = $prev.i GROUP BY ri),
         |n$t AS (SELECT sqrt(CAST(SUM(w * w) AS DOUBLE)) AS nrm FROM w$t),
         |v$t AS (SELECT i, CAST(floor(CAST(w AS DOUBLE) / nrm * 1000000.0) / 1000000.0
         |                       AS DECIMAL(12,6)) AS vv
         |        FROM w$t, n$t)""".stripMargin
    }.mkString(",\n")
    s"""el AS (SELECT vec_id, UNNEST(range(1, 65)) AS pos, embedding FROM embeddings),
       |m AS (SELECT vec_id, pos - 1 AS i,
       |             CAST(floor(CAST(embedding[pos] AS DOUBLE) * 1000000.0) AS BIGINT) AS q
       |      FROM el),
       |gram AS (SELECT a.i AS ri, b.i AS cj, CAST(SUM(a.q * b.q) AS HUGEINT) AS g
       |         FROM m a JOIN m b ON a.vec_id = b.vec_id GROUP BY a.i, b.i),
       |gmax AS (SELECT MAX(abs(g)) AS mx FROM gram),
       |aa AS (SELECT ri, cj,
       |              CAST(floor(CAST(g AS DOUBLE) / CAST(mx AS DOUBLE) * 1000000.0) / 1000000.0
       |                   AS DECIMAL(12,6)) AS av
       |       FROM gram, gmax),
       |v0 AS (SELECT DISTINCT ri AS i, CAST(0.125 AS DECIMAL(12,6)) AS vv FROM gram),
       |$iters""".stripMargin
  }

  val all: Map[String, Q] = base ++ Map(
  // ---- dedup survivorship policy table (r14, VERDICT item 6) ------------
  // The graph deck measures hub-and-spoke structure (assortativity r < 0,
  // pagerank names the hubs, kcore names the nucleus) — this is the
  // DECISION TABLE a dedup review reads off those measurements: for each
  // survivorship policy, per near-dup cluster (the SAME gated CC labels
  // as dedup_clusters over the cosine-0.40 band-local graph), the
  // survivor it keeps and the reclaimable character mass:
  //   min_id       — dedup_clusters' canonical representative
  //   longest      — dedup_survivorship's keep-most-content rule
  //   pagerank_hub — keep the template hub (max pr, the SHARED
  //                  dupPagerankFrom loop — 5 damped exact-decimal
  //                  iterations, dup_graph_pagerank's ranking verbatim)
  //   kcore_member — keep a 3-core member (min id among core members;
  //                  clusters with no core member fall back to min id) —
  //                  the SHARED kcorePeel, dup_graph_kcore's core set
  // n_members/total_chars are per-cluster invariants (identical across
  // policies — mass conservation, spec-pinned); survivor + reclaimed ≡
  // total by construction. Char mass joins documents on doc_id = vec_id
  // (the corpus contract: every embedding row has its document row).
  //
  // Scale shape: ONE band-local pair generation feeds all four policies
  // (pairs truncated once); CC + pagerank + kcore all run on pair-graph-
  // sized frames; the policy aggregations are min(struct) map-side
  // argmins per cluster — no new corpus pass, no all-pairs anywhere.
  "dedup_policy_compare" -> Q(
    fn = (s, dir) => {
      val (pairsRaw, sig) = lshNearDupPairsBandLocalWithSig(
        Tables.load(s, dir, "embeddings"), 0.40)
      // r16: the kcore leg's initial edge count rides the shared truncate
      val obsPairs = org.apache.spark.sql.Observation()
      val pairs = Q.truncate(pairsRaw.select(col("a_id"), col("b_id"))
        .observe(obsPairs, count(lit(1)).as("n")))
      sig.unpersist()
      val sym = pairs.union(
        pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("id"), col("n_chars"))
      // r15 (guide §2.6): CC, pagerank, and the k-core peel are three
      // INDEPENDENT iterative loops over the same truncated pair frame —
      // each is a chain of small serial actions, so running them serially
      // left the box mostly idle; their loops now overlap in three driver
      // threads (results bit-identical, each loop's own plan unchanged)
      val Seq(members, pr, core) = Q.par[org.apache.spark.sql.DataFrame](
        () => Q.truncate(Q.connectedComponents(sym)
          .select(col("label").as("cluster"), col("id"))
          .join(docs, Seq("id"))),
        () => GraphQueries.dupPagerankFrom(pairs),
        () => {
          val (coreEdges, _, _, _) =
            kcorePeel(pairs, obsPairs.get("n").asInstanceOf[Long])
          coreEdges.select(col("a_id").as("id"))
            .union(coreEdges.select(col("b_id").as("id"))).distinct()
            .withColumn("is_core", lit(0L))
        })
      def policy(name: String, src: org.apache.spark.sql.DataFrame, pri: Column) =
        src.groupBy("cluster")
          .agg(count(lit(1)).as("n_members"),
            sum(col("n_chars")).as("total_chars"),
            min(struct(pri.as("p"), col("id"), col("n_chars").as("sc"))).as("m"))
          .select(lit(name).as("policy"), col("cluster"),
            col("m.id").as("survivor_id"), col("n_members"), col("total_chars"),
            col("m.sc").as("survivor_chars"),
            (col("total_chars") - col("m.sc")).as("reclaimed_chars"))
      val withPr = members.join(pr, Seq("id"))
      val withCore = members.join(core, Seq("id"), "left")
      policy("min_id", members, lit(0L))
        .unionAll(policy("longest", members, negate(col("n_chars"))))
        .unionAll(policy("pagerank_hub", withPr, negate(col("pr"))))
        .unionAll(policy("kcore_member", withCore,
          coalesce(col("is_core"), lit(1L))))
        .orderBy("policy", "cluster")
    },
    oracle = Some {
      val kcoreRounds = (1 to 12).map { k =>
        s"""kd$k AS MATERIALIZED (SELECT id, COUNT(*) AS deg FROM (
           |          SELECT a_id AS id FROM ke${k - 1}
           |          UNION ALL SELECT b_id FROM ke${k - 1}) u GROUP BY id),
           |ke$k AS MATERIALIZED (SELECT a_id, b_id FROM ke${k - 1}
           |        WHERE a_id IN (SELECT id FROM kd$k WHERE deg >= 3)
           |          AND b_id IN (SELECT id FROM kd$k WHERE deg >= 3))""".stripMargin
      }.mkString(",\n")
      s"""WITH RECURSIVE ${lshPairsSqlCtes(0.40)},
         |pairs AS MATERIALIZED (
         |  SELECT a_id, b_id FROM cand
         |  JOIN e a ON a.vec_id = a_id JOIN e b ON b.vec_id = b_id
         |  WHERE ${duckDot("a.embedding", "b.embedding")}
         |         / (sqrt(${duckDot("a.embedding", "a.embedding")}) * sqrt(${duckDot("b.embedding", "b.embedding")})) >= 0.40),
         |csym AS (SELECT a_id AS s2, b_id AS d2 FROM pairs
         |         UNION ALL SELECT b_id, a_id FROM pairs),
         |reach(s2, d2) AS (
         |  SELECT s2, d2 FROM csym
         |  UNION
         |  SELECT r.s2, e2.d2 FROM reach r JOIN csym e2 ON r.d2 = e2.s2 WHERE r.s2 != e2.d2
         |),
         |labels AS (SELECT s2 AS id, LEAST(s2, MIN(d2)) AS cluster
         |           FROM reach GROUP BY s2),
         |members AS MATERIALIZED (
         |  SELECT l.cluster, l.id, d.n_chars
         |  FROM labels l JOIN documents d ON d.doc_id = l.id),
         |${GraphQueries.dupPagerankSqlCtes},
         |ke0 AS MATERIALIZED (SELECT a_id, b_id FROM pairs),
         |$kcoreRounds,
         |core AS (SELECT DISTINCT id FROM (
         |  SELECT a_id AS id FROM ke12 UNION ALL SELECT b_id FROM ke12) u),
         |agg AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
         |               CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |        FROM members GROUP BY cluster),
         |pm AS (SELECT 'min_id' AS policy, cluster, id, n_chars,
         |              ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY id) AS rk
         |       FROM members),
         |pl AS (SELECT 'longest' AS policy, cluster, id, n_chars,
         |              ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY n_chars DESC, id) AS rk
         |       FROM members),
         |pp AS (SELECT 'pagerank_hub' AS policy, m.cluster, m.id, m.n_chars,
         |              ROW_NUMBER() OVER (PARTITION BY m.cluster ORDER BY p.pr DESC, m.id) AS rk
         |       FROM members m JOIN ${GraphQueries.dupPagerankFinalCte} p ON p.id = m.id),
         |pk AS (SELECT 'kcore_member' AS policy, m.cluster, m.id, m.n_chars,
         |              ROW_NUMBER() OVER (PARTITION BY m.cluster
         |                ORDER BY CASE WHEN c.id IS NULL THEN 1 ELSE 0 END, m.id) AS rk
         |       FROM members m LEFT JOIN core c ON c.id = m.id),
         |winners AS (
         |  SELECT * FROM pm WHERE rk = 1
         |  UNION ALL SELECT * FROM pl WHERE rk = 1
         |  UNION ALL SELECT * FROM pp WHERE rk = 1
         |  UNION ALL SELECT * FROM pk WHERE rk = 1)
         |SELECT w.policy, w.cluster, w.id AS survivor_id,
         |       a.n_members, a.total_chars,
         |       CAST(w.n_chars AS BIGINT) AS survivor_chars,
         |       CAST(a.total_chars - w.n_chars AS BIGINT) AS reclaimed_chars
         |FROM winners w JOIN agg a ON a.cluster = w.cluster
         |ORDER BY policy, w.cluster""".stripMargin
    }),

    // ---- per-dimension embedding statistics (added r9) --------------------
    // The dead-dimension audit completing the representation-health family:
    // embedding_isotropy summarizes the cone pathology in ONE number and
    // embedding_pca_power finds the dominant axis — this is the per-axis
    // profile (mean, variance, exact-zero share for each of the 64 dims)
    // that says WHICH dimensions carry no signal (var ≈ 0 = dead unit —
    // prune before ANN), which are biased (|mean| ≫ 0 = the common-
    // direction component centering removes), and whether zeros cluster
    // (ReLU-style sparsity vs encoder failure). Computed on the SHARED
    // int8 quantization codes ([[quantized]] — the embedding_isotropy
    // precedent), so every sum is exact integer.
    //
    // Float parity: mean and zero_share are ONE bare division each;
    // variance is one division of DECIMAL(38,0) cross-products.
    //
    // Scale shape: map-side quantize + posexplode → a 64-row (dim) hash
    // agg with map-side combine — the cheapest full-table per-dim audit.
    "embedding_dim_stats" -> Q(
      fn = (s, dir) => {
        val big = (c: Column) => c.cast("decimal(38,0)")
        val qd = quantized(Tables.load(s, dir, "embeddings"))
          .select(posexplode(col("qv")).as(Seq("pos", "q")))
          .select(col("pos").cast("long").as("pos"), col("q").cast("long").as("q"))
        qd.groupBy("pos")
          .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
            sum(big(col("q")) * big(col("q"))).as("sqq"),
            sum(when(col("q") === 0, 1L).otherwise(0L)).as("zn"))
          .select(col("pos"), col("n"), col("sq").as("sum_q"),
            (col("sq").cast("double") / col("n").cast("double")).as("mean_q"),
            when(col("n") < 2, lit(null).cast("double"))
              .otherwise((big(col("n")) * col("sqq") - big(col("sq")) * big(col("sq")))
                .cast("double")
                / (big(col("n")) * big(col("n") - 1)).cast("double"))
              .as("var_q"),
            (col("zn").cast("double") / col("n").cast("double")).as("zero_share"))
          .orderBy("pos")
      },
      oracle = Some(
        s"""WITH $duckQuantizedCtes,
           |el AS (SELECT vec_id, UNNEST(range(1, 65)) AS p, qv FROM q),
           |dq AS (SELECT CAST(p - 1 AS BIGINT) AS pos, CAST(qv[p] AS BIGINT) AS qx
           |       FROM el),
           |m AS (SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
           |             CAST(SUM(qx) AS BIGINT) AS sq,
           |             SUM(CAST(qx AS HUGEINT) * qx) AS sqq,
           |             CAST(SUM(CASE WHEN qx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zn
           |      FROM dq GROUP BY pos)
           |SELECT pos, n, sq AS sum_q,
           |       CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) AS mean_q,
           |       CASE WHEN n < 2 THEN NULL
           |            ELSE CAST(CAST(n AS HUGEINT) * sqq - CAST(sq AS HUGEINT) * sq AS DOUBLE)
           |                 / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) END AS var_q,
           |       CAST(zn AS DOUBLE) / CAST(n AS DOUBLE) AS zero_share
           |FROM m ORDER BY pos""".stripMargin))
  )
}
