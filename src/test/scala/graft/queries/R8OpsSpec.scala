package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Semantic contracts for the round-8 operators — the DuckDB oracle pins
  * exact values at the gate; these pin the invariants that survive any
  * corpus: conservation, bounds, monotonicity, and the exact algebraic
  * ties between composed operators.
  */
class R8OpsSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("pack_efficiency: token conservation, waste bounds, packs monotone in L") {
    val rows = graft.SparkEntry.queries("pack_efficiency")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(rows.nonEmpty)
    val perSource = graft.Tables.load(spark, dir, "documents")
      .groupBy("source").agg(sum(size(split(col("text"), " "))).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { case (src, l, nStreams, nTok, nPacks, nPad, util) =>
      // every L sees the same token mass — the corpus totals
      assert(nTok == perSource(src), s"$src/$l token mass")
      // waste identity and bounds: only the last pack of each stream pads
      assert(nPad == nPacks * l - nTok)
      assert(nPad >= 0 && nPad < l * nStreams, s"$src/$l padding $nPad")
      assert(util > 0.0 && util <= 1.0, s"$src/$l utilization $util")
    }
    // per source: total packs never increase as L grows (ceil monotone)
    rows.groupBy(_._1).foreach { case (src, rs) =>
      val byL = rs.sortBy(_._2).map(_._5)
      byL.sliding(2).foreach {
        case Array(p1, p2) => assert(p2 <= p1, s"$src packs not monotone in L")
        case _ =>
      }
    }
  }

  test("vocab_coverage: monotone in k, recomputed from the raw vocabulary") {
    val rows = graft.SparkEntry.queries("vocab_coverage")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(10L, 100L, 1000L))
    rows.sliding(2).foreach {
      case Array((_, c1, _, _, v1), (_, c2, _, _, v2)) =>
        assert(c2 >= c1 && v2 >= v1, "coverage must be monotone in k")
      case _ =>
    }
    // independent recomputation from the raw token counts
    val counts = graft.Tables.load(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val ranked = counts.sortBy { case (t, n) => (-n, t) }
    val total = counts.map(_._2).sum
    rows.foreach { case (k, covered, tot, nVocab, cov) =>
      assert(tot == total && nVocab == counts.length.toLong)
      val expect = ranked.take(k.toInt).map(_._2).sum
      assert(covered == expect, s"k=$k covered $covered != $expect")
      assert(cov == covered.toDouble / total)
    }
  }

  test("transition_entropy: bounds; count-weighted mean == −mean seq logprob EXACTLY") {
    val rows = graft.SparkEntry.queries("transition_entropy")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (cur, n, nNext, h) =>
      assert(nNext >= 1 && n >= nNext)
      // 0 ≤ H ≤ ln(n_next) + grid slack (each ln6 within 2.5e-6 of true)
      assert(h >= 0.0, s"$cur entropy $h negative")
      assert(h <= math.log(nNext.toDouble) + 1e-5, s"$cur entropy $h > ln($nNext)")
    }
    // LnGrid's exact antisymmetry ties the two operators bit-for-bit:
    // entropy uses ln6(tot, c) = −ln6(c, tot), the seq scorer's model term,
    // so Σ_states tot·H == −Σ_users n·logprob·1e6 as EXACT integers — the
    // doubles they emit divide the same ints by the same 1e6-scaled counts
    val seq = graft.SparkEntry.queries("event_seq_logprob")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    val wEntropy = rows.map { case (_, n, _, h) => n * h }.sum /
      rows.map(_._2).sum
    val wLogprob = seq.map { case (n, lp) => n * lp }.sum / seq.map(_._1).sum
    assert(math.abs(wEntropy + wLogprob) < 1e-12,
      s"weighted entropy $wEntropy != -weighted logprob ${-wLogprob}")
  }

  test("interp_bigram_ppl: val band identity; JM scores above add-1 on average") {
    val jm = graft.SparkEntry.queries("interp_bigram_ppl")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val add1 = graft.SparkEntry.queries("heldout_bigram_ppl")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(jm.nonEmpty)
    assert(jm.map(_._1).toSet == add1.map(_._1).toSet, "same val band")
    assert(jm.map(t => t._1 -> t._2).toMap == add1.map(t => t._1 -> t._2).toMap,
      "same per-doc bigram counts")
    jm.foreach { case (id, n, lp) =>
      assert(n >= 1 && lp <= 0.0, s"doc $id n=$n lp=$lp")
    }
    // Jelinek–Mercer backs off to the unigram instead of the uniform-V
    // floor, so it should not over-penalize seen-next-token transitions
    // the way add-1 does — the corpus-level mean reflects that
    val jmMean = jm.map(_._3).sum / jm.length
    val a1Mean = add1.map(_._3).sum / add1.length
    assert(jmMean > a1Mean,
      s"JM mean $jmMean should exceed add-1 mean $a1Mean on this corpus")
  }

  test("split_leakage: pair mass equals the gated near-dup pair count; leak flag consistent") {
    val rows = graft.SparkEntry.queries("split_leakage")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val totalPairs = graft.SparkEntry.queries("dedup_minhash_lsh")(spark, dir).count()
    assert(rows.map(_._3).sum == totalPairs,
      s"cell mass ${rows.map(_._3).sum} != $totalPairs verified pairs")
    rows.foreach { case (x, y, n, leak) =>
      assert(n > 0)
      assert(x <= y, "cells must be canonically ordered")
      assert(leak == (if (x != y) 1L else 0L), s"($x, $y) leak flag")
      assert(Set("train", "val", "test")(x) && Set("train", "val", "test")(y))
    }
    assert(rows.map(t => (t._1, t._2)).distinct.length == rows.length, "duplicate cells")
  }

  test("kn_bigram_ppl: val band identity with add-1; in-process KN grid replay") {
    val kn = graft.SparkEntry.queries("kn_bigram_ppl")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val add1 = graft.SparkEntry.queries("heldout_bigram_ppl")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(kn.nonEmpty)
    assert(kn.map(t => t._1 -> t._2).toMap == add1.map(t => t._1 -> t._2).toMap,
      "same val docs and per-doc bigram counts as the add-1 scorer")
    kn.foreach { case (id, n, lp) => assert(n >= 1 && lp <= 0.0, s"doc $id lp=$lp") }
    // full in-process replay of the integer KN grid + LnGrid chain
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def h2(id: Long): String =
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s"split:$id").substring(0, 2)
    def bigrams(t: String): Seq[(String, String)] = {
      val toks = t.split(" ", -1)
      if (toks.length < 2) Seq.empty else toks.toSeq.sliding(2).map(p => (p(0), p(1))).toSeq
    }
    val trainBg = docs.filter(d => h2(d._1) < "cc").flatMap(d => bigrams(d._2))
    val nb = trainBg.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val na = nb.toSeq.groupBy(_._1._1).map { case (a, vs) => a -> vs.map(_._2).sum }
    val n1f = nb.keys.toSeq.groupBy(_._1).map { case (a, vs) => a -> vs.size.toLong }
    val n1b = nb.keys.toSeq.groupBy(_._2).map { case (b, vs) => b -> vs.size.toLong }
    val nbt = nb.size.toLong
    val expected = docs
      .filter(d => { val h = h2(d._1); h >= "cc" && h < "e6" })
      .filter(d => bigrams(d._2).nonEmpty)
      .map { case (id, text) =>
        val sl = bigrams(text).map { case (a, b) =>
          val p6 =
            if (!na.contains(a) || nbt == 0)
              (n1b.getOrElse(b, 0L) * 1000000L) / math.max(nbt, 1L)
            else
              (math.max(4L * nb.getOrElse((a, b), 0L) - 3L, 0L) * nbt
                + 3L * n1f(a) * n1b.getOrElse(b, 0L)) * 1000000L / (4L * na(a) * nbt)
          LnGrid.ln6Ref(math.max(p6, 1L), 1000000L)
        }.sum
        val n = bigrams(text).size.toLong
        id -> (n, sl.toDouble / (n * 1000000L).toDouble)
      }.toMap
    assert(kn.map(_._1).toSet == expected.keySet)
    kn.foreach { case (id, n, lp) =>
      assert((n, lp) == expected(id), s"doc $id: ($n, $lp) != ${expected(id)}")
    }
  }

  test("attribution_markov: in-process absorbing-chain replay; effect bounds and shares") {
    val rows = graft.SparkEntry.queries("attribution_markov")(spark, dir)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4)))
    val channels = Seq("click", "error", "signup", "view")
    assert(rows.map(_._1).toSeq == channels, "one row per channel, ordered")
    rows.foreach { case (ch, base, rem, re, _) =>
      assert(base >= 0.0 && base <= 1.0 && rem >= 0.0 && rem <= base,
        s"$ch conv bounds base=$base rem=$rem")
      assert(math.abs(re - (base - rem)) < 1e-12, s"$ch effect identity")
    }
    val shares = rows.map(_._5).filterNot(_.isNaN)
    if (shares.nonEmpty) assert(math.abs(shares.sum - 1.0) < 1e-9, "shares sum to 1")
    // full replay: journeys -> integer p6 grid -> 12 iterations in Longs
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
        col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val edges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    ev.groupBy(_._1).foreach { case (_, es) =>
      val ordered = es.sortBy(e => (e._2, e._3)).map(_._4)
      var prev = "START"
      ordered.foreach { t =>
        if (t == "purchase") { edges += ((prev, "CONV")); prev = "START" }
        else { edges += ((prev, t)); prev = t }
      }
      if (prev != "START") edges += ((prev, "NULL")) // censored open journey
    }
    val ec = edges.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val tot = ec.toSeq.groupBy(_._1._1).map { case (f, vs) => f -> vs.map(_._2).sum }
    def p6(f: String, t: String): Long = ec.get((f, t)).map(_ * 1000000L / tot(f)).getOrElse(0L)
    val states = "START" +: channels
    def conv(removed: String): Long = {
      var v = states.map(_ => 0L)
      for (_ <- 1 to 12) {
        v = states.map { s =>
          val hop = channels.zipWithIndex.map { case (ch, j) =>
            (if (ch == removed) 0L else p6(s, ch)) * v(j + 1)
          }.sum
          (hop + p6(s, "CONV") * 1000000L) / 1000000L
        }
      }
      v.head
    }
    val base6 = conv("")
    rows.foreach { case (ch, base, rem, _, _) =>
      assert(base == base6.toDouble / 1e6, s"$ch base")
      assert(rem == conv(ch).toDouble / 1e6, s"$ch removed")
    }
  }

  test("vocab_richness: recomputed sufficient statistics; estimator well-definedness") {
    val rows = graft.SparkEntry.queries("vocab_richness")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), if (r.isNullAt(6)) None else Some(r.getDouble(6))))
    assert(rows.nonEmpty)
    val raw = graft.Tables.load(spark, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val bySource = raw.groupBy(_._1)
    rows.foreach { case (src, n, v, n1, n2, mass, chao1) =>
      val counts = bySource(src).groupBy(_._2).map(_._2.size.toLong).toSeq
      assert(n == counts.sum && v == counts.size.toLong, s"$src N/V")
      assert(n1 == counts.count(_ == 1).toLong && n2 == counts.count(_ == 2).toLong,
        s"$src hapax/dis")
      assert(mass == n1.toDouble / n.toDouble && mass >= 0.0 && mass <= 1.0)
      chao1 match {
        case Some(c) =>
          assert(n2 > 0 && c >= v.toDouble, s"$src chao1 $c below observed $v")
          assert(c == (2L * n2 * v + n1 * n1).toDouble / (2L * n2).toDouble)
        case None => assert(n2 == 0L, s"$src chao1 null with n_dis=$n2")
      }
    }
  }

  test("rbo_rankings: suffix-table integrity and in-process RBO replay") {
    // the 10-entry weight table re-derived from exact rationals
    val w = (1 to 10).map { d =>
      ((BigInt(9).pow(d - 1) * BigInt(10).pow(7)) / (BigInt(10).pow(d - 1) * BigInt(d))).toLong
    }
    val suffix = (1 to 10).map(m => w.drop(m - 1).sum)
    assert(suffix.head == 23541638L && suffix.last == 387420L)
    val rows = graft.SparkEntry.queries("rbo_rankings")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    val maxRbo = suffix.sum.toDouble / 1e8 // perfect agreement: one pair per depth
    rows.foreach { case (m, qid, rbo) =>
      assert(rbo >= 0.0 && rbo <= maxRbo + 1e-12, s"$m/$qid rbo $rbo out of range")
    }
    // replay the IVF leg from the gated rankings
    def ranks(name: String): Map[(Long, Long), Int] =
      graft.SparkEntry.queries(name)(spark, dir)
        .select(col("qid"), col("cid"), col("rk")).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val exact = ranks("similarity_topk")
    val ivf = ranks("ivf_topk")
    val expected = exact.keys.map(_._1).toSeq.distinct.map { q =>
      q -> ivf.collect { case ((qq, cid), rk) if qq == q && exact.contains((qq, cid)) =>
        suffix(math.max(rk, exact((qq, cid))) - 1)
      }.sum.toDouble / 1e8
    }.toMap
    rows.filter(_._1 == "ivf_topk").foreach { case (_, qid, rbo) =>
      assert(rbo == expected(qid), s"qid $qid: $rbo != ${expected(qid)}")
    }
  }

  test("split_ks: in-process exact KS replay over the split length ECDFs") {
    val rows = graft.SparkEntry.queries("split_ks")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).sorted.toSeq ==
      Seq("train_vs_test", "train_vs_val", "val_vs_test"))
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def split(id: Long): String = {
      val h = org.apache.commons.codec.digest.DigestUtils.md5Hex(s"split:$id").substring(0, 2)
      if (h < "cc") "train" else if (h < "e6") "val" else "test"
    }
    val byS = docs.groupBy(d => split(d._1)).view.mapValues(_.map(_._2)).toMap
    rows.foreach { case (pair, n1, n2, ks) =>
      val Array(a, _, b) = pair.split("_")
      val l1 = byS.getOrElse(a, Array.empty[Long])
      val l2 = byS.getOrElse(b, Array.empty[Long])
      assert(n1 == l1.length.toLong && n2 == l2.length.toLong, s"$pair sizes")
      val grid = (l1 ++ l2).distinct.sorted
      val dnum = grid.map { v =>
        math.abs(l1.count(_ <= v).toLong * n2 - l2.count(_ <= v).toLong * n1)
      }.max
      assert(ks == dnum.toDouble / (n1 * n2).toDouble, s"$pair ks $ks")
      assert(ks >= 0.0 && ks <= 1.0)
    }
  }

  test("ivf_balance: shares/load factors tie exactly to the gated list assignment") {
    val rows = graft.SparkEntry.queries("ivf_balance")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty && rows.map(_._1).distinct.length == rows.length)
    val total = rows.map(_._2).sum
    val nLists = rows.length.toLong
    val nVecs = graft.Tables.load(spark, dir, "embeddings").count()
    assert(total == nVecs, "every vector lands in exactly one list")
    rows.foreach { case (lid, n, share, lf) =>
      assert(n > 0 && lid >= 0 && lid < 16)
      assert(share == n.toDouble / total.toDouble)
      assert(lf == (n * nLists).toDouble / total.toDouble)
    }
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-9, "shares sum to 1")
  }

  test("kcenter_select: in-process farthest-point replay; radius curve non-increasing") {
    val rows = graft.SparkEntry.queries("kcenter_select")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(rows.map(_._1).toSeq == (1L to 8L) && rows.map(_._2).distinct.length == 8)
    val embs = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0 // the floatL2Sq zero-seeded left fold exactly
      while (i < a.length) {
        val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1
      }
      acc
    }
    def grid6(x: Double): Double = math.floor(x * 1000000.0) / 1000000.0
    val byId = embs.toMap
    var chosen = List(embs.map(_._1).min)
    var minD = embs.map { case (id, v) => id -> l2(v, byId(chosen.head)) }.toMap
    val expected = scala.collection.mutable.ArrayBuffer[(Long, Long, Option[Double])](
      (1L, chosen.head, None))
    for (k <- 2 to 8) {
      val (pid, pd) = minD.toSeq.map { case (id, d) => (-d, id) }.min match {
        case (nd, id) => (id, -nd)
      }
      expected += ((k.toLong, pid, Some(grid6(pd))))
      chosen ::= pid
      minD = minD.map { case (id, d) => id -> math.min(d, l2(byId(id), byId(pid))) }
    }
    assert(rows.toSeq == expected.toSeq, "greedy FPS replay diverged")
    val radii = rows.flatMap(_._3)
    radii.sliding(2).foreach {
      case Array(r1, r2) => assert(r2 <= r1, "coverage radius must be non-increasing")
      case _ =>
    }
  }

  test("mmr_rerank: in-process lambda=3/4 greedy replay; pick-1 = top relevance; scores non-increasing") {
    val rows = graft.SparkEntry.queries("mmr_rerank")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val cand = graft.SparkEntry.queries("similarity_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.floor(r.getDouble(2) * 1000000.0).toLong))
    val embs = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = { // CosineSimilarity's fold
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = cand.groupBy(_._1).toSeq.flatMap { case (qid, cs) =>
      val rel = cs.map(c => c._2 -> c._3).toMap
      var chosen = List.empty[Long]
      (1 to 5).map { r =>
        val scored = rel.filterNot { case (cid, _) => chosen.contains(cid) }
          .map { case (cid, rel6) =>
            val red6 = if (chosen.isEmpty) 0L
              else chosen.map(s =>
                math.floor(cos(embs(cid), embs(s)) * 1000000.0).toLong).max
            (cid, 3L * rel6 - red6)
          }
        val (pid, s6) = scored.toSeq.map { case (cid, s) => ((-s, cid), (cid, s)) }
          .minBy(_._1)._2
        chosen ::= pid
        (qid, r, pid, s6.toDouble / 4000000.0)
      }
    }.toSet
    assert(rows.toSet == expected, "MMR greedy replay diverged")
    // per qid: pick 1 maximizes pure relevance; scores non-increasing
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      val ordered = rs.sortBy(_._2).map(_._4)
      ordered.sliding(2).foreach {
        case Array(a, b) => assert(b <= a, s"qid $qid MMR scores increased")
        case _ =>
      }
    }
  }

  test("retention_halflife: in-process regression replay over the exact day grid") {
    val r = graft.SparkEntry.queries("retention_halflife")(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    val (nUsers, nDays) = (row.getLong(0), row.getLong(1))
    // replay: day grid from raw events in micros, LnGrid y, exact int LSQ
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us")).collect()
      .map(rr => (rr.getLong(0), rr.getLong(1)))
    val t0 = ev.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val ks = ev.map { case (u, us) => (u, (us - t0(u)) / 86400000000L) }
      .filter(k => k._2 >= 1 && k._2 <= 14).distinct
    val grid = ks.groupBy(_._2).view.mapValues(_.map(_._1).distinct.size.toLong).toMap
    assert(nUsers == t0.size.toLong)
    assert(nDays == grid.size.toLong)
    val y = grid.toSeq.map { case (k, nk) => (k, LnGrid.ln6Ref(nk, nUsers)) }
    val n = y.size.toLong
    val sx = y.map(_._1).sum; val sxx = y.map(t => t._1 * t._1).sum
    val sy = y.map(_._2).sum; val sxy = y.map(t => t._1 * t._2).sum
    val num = n * sxy - sx * sy
    val den = n * sxx - sx * sx
    if (n >= 2 && den > 0) {
      assert(row.getDouble(2) == num.toDouble / (den * 1000000L).toDouble, "slope")
      if (num < 0)
        assert(row.getDouble(3) == (693147L * den).toDouble / (-num).toDouble
          && row.getDouble(3) > 0, "half life")
      else assert(row.isNullAt(3))
    } else { assert(row.isNullAt(2) && row.isNullAt(3)) }
  }

  test("source_jsd_matrix cross-products hold the documented int64 headroom at the largest gate sf") {
    // r7 advice follow-through: the JSD mixture terms form x = c_a·n_b and
    // feed 2x and x+y into the wide ln chain — the comment documents the
    // bound c·n < 2^61. MEASURE it at the largest gated sf (the R2b
    // discipline) so corpus growth that would overflow — which ANSI Spark
    // and DuckDB both RAISE on, loudly — is caught here first.
    val st = graft.Tables.load(spark, "/root/testdata/sf0.1", "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val maxC = st.agg(max(col("c"))).head().getLong(0)
    val maxN = st.groupBy("source").agg(sum(col("c")).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    assert(BigInt(maxC) * BigInt(maxN) * 4 < (BigInt(1) << 62),
      s"JSD cross-product headroom breached: maxC=$maxC maxN=$maxN — widen to DECIMAL(38,0)")
  }

  test("gaps_islands: in-process island replay; streaks partition each user's active days") {
    val out = graft.SparkEntry.queries("gaps_islands")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate,
        r.getDate(2).toLocalDate, r.getLong(3)))
    assert(out.nonEmpty)
    // replay: collapse each user's sorted distinct active days into maximal
    // consecutive runs, entirely in-process
    val days = graft.Tables.load(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
      .groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).sortBy(_.toEpochDay) }
    val expect = days.flatMap { case (u, ds) =>
      val runs = ds.foldLeft(List.empty[List[java.time.LocalDate]]) {
        case (acc @ (run @ (last :: _)) :: rest, d) if d.toEpochDay == last.toEpochDay + 1 =>
          (d :: run) :: rest
        case (acc, d) => List(d) :: acc
      }
      runs.map(r => (u, r.last, r.head, r.size.toLong))
    }.toSet
    assert(out.toSet == expect, "islands differ from the in-process replay")
    // streaks partition the day set: lengths sum to the distinct-day count
    assert(out.map(_._4).sum == days.values.map(_.size.toLong).sum)
    // within a user, streaks are disjoint with a genuine gap between them
    out.groupBy(_._1).foreach { case (u, rs) =>
      rs.sortBy(_._2.toEpochDay).sliding(2).foreach {
        case Array(a, b) =>
          assert(b._2.toEpochDay > a._3.toEpochDay + 1, s"user $u streaks touch")
        case _ =>
      }
    }
  }

  test("changepoint_daily: exact BigInt argmax replay; scores tie to the SS-reduction formula") {
    val out = graft.SparkEntry.queries("changepoint_daily")(spark, dir)
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getInt(4)))
    assert(out.nonEmpty)
    val daily = graft.Tables.load(spark, dir, "events")
      .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
      .sortBy(_._1.toEpochDay)
    val n = daily.size.toLong
    val s = daily.map(_._2).sum
    // replay every candidate's exact numerator/denominator in BigInt
    val cand = daily.zipWithIndex.init.map { case ((d, c), i) =>
      val t = i + 1L
      val st = daily.take(i + 1).map(_._2).sum
      val a = BigInt(st) * BigInt(n) - BigInt(s) * BigInt(t)
      (d, c, t, a * a, BigInt(t) * BigInt(n - t) * BigInt(n))
    }
    assert(out.length == cand.length, "one row per interior split")
    val best = cand.maxBy { case (_, _, _, num, den) =>
      // exact rational compare via cross-multiplication
      (BigDecimal(num) / BigDecimal(den))
    }
    out.zip(cand).foreach { case ((d, c, t, score, isBest), (ed, ec, et, num, den)) =>
      assert(d == ed && c == ec && t == et)
      assert(score == num.toDouble / den.toDouble, s"$d score not the bare division")
      // the exact argmax must be unique-or-tied under cross-multiplication
      val expBest = cand.forall { case (_, _, _, onum, oden) => onum * den <= num * oden }
      assert((isBest == 1) == expBest, s"$d is_best mismatch")
    }
    assert(out.count(_._5 == 1) >= 1)
    assert(out.find(_._5 == 1).get._1 == best._1)
  }

  test("emd_source_lengths: in-process exact Wasserstein replay; EMD dominates nothing below 0") {
    val out = graft.SparkEntry.queries("emd_source_lengths")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty)
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val grid = docs.map(_._2).distinct.sorted
    val n = docs.length.toLong
    val corpCum = grid.map(v => v -> docs.count(_._2 <= v).toLong).toMap
    out.foreach { case (src, nDocs, emd) =>
      val mine = docs.filter(_._1 == src)
      assert(nDocs == mine.length.toLong)
      val na = mine.length.toLong
      var acc = BigInt(0)
      grid.zip(grid.tail).foreach { case (v, vn) =>
        val fa = mine.count(_._2 <= v).toLong
        acc += (BigInt(fa) * n - BigInt(corpCum(v)) * na).abs * (vn - v)
      }
      assert(emd == acc.toDouble / (BigInt(na) * BigInt(n)).toDouble, s"$src EMD")
      assert(emd >= 0.0)
    }
  }

  test("benford_first_digit: digit replay; shares sum to 1; dev6 is the exact excess") {
    val out = graft.SparkEntry.queries("benford_first_digit")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getDouble(4)))
    assert(out.map(_._1).toSeq == (1 to 9))
    // grid constants are the FLOORED micro-log10 values (engine-literal)
    val p6 = Map(1 -> 301029, 2 -> 176091, 3 -> 124938, 4 -> 96910, 5 -> 79181,
      6 -> 66946, 7 -> 57991, 8 -> 51152, 9 -> 45757)
    assert(out.forall { case (d, _, p, _, _) => p == p6(d) })
    val digits = graft.Tables.load(spark, dir, "events")
      .select(col("value")).collect().map(_.getDouble(0))
      .map(v => math.floor(v * 100).toLong).filter(_ >= 1)
      .map(_.toString.head.asDigit)
    val nTot = digits.length.toLong
    out.foreach { case (d, o, p, dev, share) =>
      assert(o == digits.count(_ == d).toLong, s"digit $d count")
      assert(dev == o * 1000000L - nTot * p)
      assert(share == o.toDouble / nTot.toDouble)
    }
    assert(out.map(_._2).sum == nTot)
  }

  test("rater_agreement: cells tie to the gopher/quality registry queries; kappa replays in BigInt") {
    val Array((n, n11, n10, n01, n00, po, kappa)) =
      graft.SparkEntry.queries("rater_agreement")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(n11 + n10 + n01 + n00 == n)
    // marginals tie EXACTLY to the two source raters' own registry queries
    val gopherPass = graft.SparkEntry.queries("gopher_rules")(spark, dir)
      .filter(col("pass")).count()
    assert(n11 + n10 == gopherPass, "rater A marginal != gopher_rules pass count")
    val qualityPass = graft.SparkEntry.queries("quality_score")(spark, dir)
      .filter(col("quality") >= 0.5).count()
    assert(n11 + n01 == qualityPass, "rater B marginal != quality_score >= 0.5 count")
    // kappa replay in exact integers
    val pe = BigInt(n11 + n10) * BigInt(n11 + n01) + BigInt(n01 + n00) * BigInt(n10 + n00)
    assert(po == (n11 + n00).toDouble / n.toDouble)
    val expK =
      if (BigInt(n) * BigInt(n) == pe) 0.0
      else (BigInt(n) * BigInt(n11 + n00) - pe).toDouble / (BigInt(n) * BigInt(n) - pe).toDouble
    assert(kappa == expK && kappa <= 1.0)
  }

  test("cms_estimate: never undercounts; exact counts tie to the raw vocabulary; top-20 deterministic") {
    val out = graft.SparkEntry.queries("cms_estimate")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 20)
    // CMS structural guarantee: the min-of-rows estimate never undercounts
    out.foreach { case (t, c, est, over) =>
      assert(est >= c, s"$t: CMS undercounted ($est < $c)")
      assert(over == est - c)
    }
    // exact counts and the top-20 selection tie to a raw recount
    val counts = graft.Tables.load(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val top = counts.sortBy { case (t, c) => (-c, t) }.take(20)
    assert(out.map(x => (x._1, x._2)).sortBy { case (t, c) => (-c, t) }.toSeq == top.toSeq)
  }

  test("greedy_source_cover: in-process greedy replay; marginal gains non-increasing") {
    val out = graft.SparkEntry.queries("greedy_source_cover")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L))
    // replay the greedy over the raw (source, bigram) incidence
    val rows = graft.Tables.load(spark, dir, "documents")
      .select(col("source"), split(col("text"), " ").as("toks")).collect()
      .map(r => (r.getString(0), r.getSeq[String](1)))
    val inc = rows.flatMap { case (src, ts) =>
      ts.zip(ts.tail).map { case (a, b) => (src, s"$a $b") }
    }
    val w = inc.groupBy(_._2).map { case (bg, xs) => bg -> xs.length.toLong }
    val bySource = inc.distinct.groupBy(_._1).map { case (s0, xs) => s0 -> xs.map(_._2).toSet }
    var covered = Set.empty[String]
    var remaining = bySource
    val picks = (1 to 3).map { _ =>
      val (src, gain) = remaining.toSeq
        .map { case (s0, bgs) => s0 -> (bgs -- covered).toSeq.map(w).sum }
        .minBy { case (s0, g) => (-g, s0) }
      covered ++= remaining(src)
      remaining -= src
      (src, gain)
    }
    out.zip(picks).foreach { case ((_, s0, g, _, _), (es, eg)) =>
      assert(s0 == es && g == eg, s"greedy pick diverged: ($s0,$g) vs ($es,$eg)")
    }
    // submodularity: marginal gains never increase; cum_share replays
    assert(out.map(_._3).sliding(2).forall { w => w.length < 2 || w(1) <= w(0) })
    val total = w.values.sum
    out.foreach { case (k, _, _, cum, share) =>
      assert(cum == out.filter(_._1 <= k).map(_._3).sum)
      assert(share == cum.toDouble / total.toDouble)
    }
  }

  test("boilerplate_prefixes: clusters tie to a raw prefix recount; all multi-doc") {
    val out = graft.SparkEntry.queries("boilerplate_prefixes")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2)))
      .filter(_._3.length >= 2)
      .map { case (id, src, ts) => (id, src, ts.take(2).mkString(" ")) }
    val byPrefix = docs.groupBy(_._3)
    out.foreach { case (pk, n, rep, nSrc) =>
      assert(n >= 2)
      // find the prefix whose md5 is pk by recomputing sizes — the spec
      // ties size/rep/sources for SOME raw prefix with this exact profile
      val matches = byPrefix.values.filter(g =>
        g.length.toLong == n && g.map(_._1).min == rep &&
          g.map(_._2).distinct.length.toLong == nSrc)
      assert(matches.nonEmpty, s"$pk: no raw prefix cluster matches ($n, $rep, $nSrc)")
    }
    // every ≥2-doc raw cluster inside the emitted size range is present
    val minEmitted = out.map(_._2).min
    val expectedAtLeast = byPrefix.values.count(_.length.toLong > minEmitted)
    assert(out.count(_._2 > minEmitted) == expectedAtLeast,
      "missing a raw cluster larger than the emitted minimum (top-50 cut only trims ties)")
  }

  test("rolling_median_volume: in-process exact rolling median replay") {
    val out = graft.SparkEntry.queries("rolling_median_volume")(spark, dir)
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2),
        r.getDouble(3)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2.toEpochDay)
      sorted.zipWithIndex.foreach { case ((_, _, _, med), i) =>
        val win = sorted.slice(math.max(0, i - 6), i + 1).map(_._3).sorted
        val m = win.length
        val exp = (win((m + 1) / 2 - 1) + win(m / 2)).toDouble / 2.0
        assert(med == exp, s"rolling median at index $i")
      }
    }
  }

  test("hill_tail_index: in-process Hill replay via ln6Ref; tie-robust at the cut") {
    val Array((k, xThr, sumLn6, alpha)) =
      graft.SparkEntry.queries("hill_tail_index")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    val xs = graft.Tables.load(spark, dir, "documents")
      .select(col("n_chars")).collect().map(_.getLong(0)).sorted(Ordering[Long].reverse)
    val top = xs.take(101)
    assert(k == top.length - 1 && xThr == top.min)
    val expSum = top.map(x => LnGrid.ln6Ref(x, xThr)).sum
    assert(sumLn6 == expSum, "ln6 sum diverged from the reference chain")
    // tie-robustness: the sum over all 101 equals the strict top-k sum
    assert(top.filter(_ == xThr).map(x => LnGrid.ln6Ref(x, xThr)).sum == 0)
    if (expSum == 0) assert(alpha.isEmpty)
    else assert(alpha.contains((k * 1000000L).toDouble / expSum.toDouble))
  }

  test("simpson_diversity: sufficient-statistic replay; 1/vocab <= D; eff_vocab <= vocab") {
    val out = graft.SparkEntry.queries("simpson_diversity")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    assert(out.nonEmpty)
    val counts = graft.Tables.load(spark, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .collect().map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (s0, xs) =>
        s0 -> xs.groupBy(_._2).map(_._2.length.toLong).toSeq
      }
    out.foreach { case (src, n, v, simpson, eff) =>
      val cs = counts(src)
      assert(n == cs.sum && v == cs.length.toLong)
      val s2 = cs.map(c => BigInt(c) * BigInt(c - 1)).sum
      val nn1 = BigInt(n) * BigInt(n - 1)
      assert(simpson.contains(s2.toDouble / nn1.toDouble))
      assert(eff.contains(nn1.toDouble / s2.toDouble))
      // bounds: the without-replacement index floors at the uniform
      // allocation D_min = (n/V − 1)/(n − 1) (Cauchy–Schwarz on Σc²),
      // NOT at 1/V like the with-replacement Σp² form
      val floorD = (n.toDouble / v - 1.0) / (n - 1).toDouble
      assert(simpson.get >= floorD - 1e-12, s"$src Simpson below the uniform floor")
    }
  }

  test("rolling_active_users: exact rolling-distinct replay; DAU <= WAU <= 7-day DAU sum") {
    val out = graft.SparkEntry.queries("rolling_active_users")(spark, dir)
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1.toEpochDay)
    assert(out.nonEmpty)
    val byDay = graft.Tables.load(spark, dir, "events")
      .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    val days = out.map(_._1)
    out.zipWithIndex.foreach { case ((d, dau, wau, st), i) =>
      assert(dau == byDay(d).size.toLong)
      val win = days.slice(math.max(0, i - 6), i + 1)
      val expWau = win.map(byDay).reduce(_ ++ _).size.toLong
      assert(wau == expWau, s"$d WAU")
      assert(dau <= wau && wau <= win.map(byDay(_).size.toLong).sum)
      assert(st == dau.toDouble / wau.toDouble)
    }
  }

  test("log_odds_keyness: in-process ln6 replay of the top rows; keyness positive for top picks") {
    val out = graft.SparkEntry.queries("log_odds_keyness")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(out.nonEmpty && out.length % 3 == 0)
    val inc = graft.Tables.load(spark, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val bySrcTok = inc.groupBy(x => (x._1, x._2)).map { case (k, xs) => k -> xs.length.toLong }
    val byTok = inc.groupBy(_._2).map { case (t, xs) => t -> xs.length.toLong }
    val bySrc = inc.groupBy(_._1).map { case (s0, xs) => s0 -> xs.length.toLong }
    val nt = inc.length.toLong
    out.foreach { case (src, tok, cs, cr, k6, k) =>
      assert(cs == bySrcTok((src, tok)) && cr == byTok(tok) - cs)
      val ns = bySrc(src); val nr = nt - ns
      val exp = LnGrid.ln6Ref(cs + 1, ns - cs + 1) - LnGrid.ln6Ref(cr + 1, nr - cr + 1)
      assert(k6 == exp, s"$src/$tok keyness6")
      assert(k == k6.toDouble / 1000000.0)
    }
    // each source's top-3 are its argmax rows: no remaining token beats the
    // emitted minimum (replayed exhaustively over the source's vocabulary)
    out.groupBy(_._1).foreach { case (src, rows) =>
      val emitted = rows.map(_._2).toSet
      val minEmitted = rows.map(_._5).min
      val ns = bySrc(src); val nr = nt - ns
      bySrcTok.keys.filter(_._1 == src).filterNot(k => emitted(k._2)).foreach { case (_, tok) =>
        val cs = bySrcTok((src, tok)); val cr = byTok(tok) - cs
        val k6 = LnGrid.ln6Ref(cs + 1, ns - cs + 1) - LnGrid.ln6Ref(cr + 1, nr - cr + 1)
        assert(k6 <= minEmitted, s"$src/$tok ($k6) beats an emitted top-3 row ($minEmitted)")
      }
    }
  }

  test("prop_ztest: exact BigInt replay; verdict matches the cross-multiplied alpha rule") {
    val Array((n1, x1, n2, x2, p1, p2, z2, sig)) =
      graft.SparkEntry.queries("prop_ztest")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5),
          if (r.isNullAt(6)) None else Some(r.getDouble(6)), r.getInt(7)))
    val users = graft.Tables.load(spark, dir, "events")
      .groupBy(col("user_id"), to_date(col("ts")))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c"))
      .collect().map(r => (r.getLong(0) % 2, r.getLong(2)))
    assert(n1 == users.count(_._1 == 0).toLong && n2 == users.count(_._1 == 1).toLong)
    assert(x1 == users.filter(_._1 == 0).map(_._2).sum)
    assert(x2 == users.filter(_._1 == 1).map(_._2).sum)
    assert(p1 == x1.toDouble / n1 && p2 == x2.toDouble / n2)
    val num = BigInt(x1) * n2 - BigInt(x2) * n1
    val den = BigInt(n1) * n2 * (x1 + x2) * (n1 + n2 - x1 - x2)
    val zNum = num * num * (n1 + n2)
    assert(z2.contains(zNum.toDouble / den.toDouble))
    assert((sig == 1) == (zNum * 10000 >= den * 38416))
  }

  test("cohort_ltv: revenue conservation; cum monotone; ARPU = cents over users") {
    val out = graft.SparkEntry.queries("cohort_ltv")(spark, dir)
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(out.nonEmpty)
    // total emitted revenue == exact decimal purchase total
    val totalRev = graft.Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double")).head().getDouble(0)
    assert(math.abs(out.map(_._4).sum - totalRev) < 1e-6, "revenue mass not conserved")
    // cohort sizes partition the user base
    val nUsers = graft.Tables.load(spark, dir, "events")
      .select(col("user_id")).distinct().count()
    assert(out.groupBy(_._1).map(_._2.head._3).sum == nUsers)
    out.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      // cumulative is the running sum of weekly revenue, ARPU its per-user split
      var cum = BigDecimal(0)
      sorted.foreach { case (_, _, n, rev, cumRev, arpu) =>
        cum += BigDecimal(rev)
        assert(math.abs(cumRev - cum.toDouble) < 1e-6)
        val cents = math.round(cumRev * 100)
        assert(arpu == cents.toDouble / (n * 100).toDouble, "ARPU not the bare cents division")
      }
    }
  }

  test("multimodal_shape_buckets: bucket geometry replay; items conserved; pad_ratio bounds") {
    val out = graft.SparkEntry.queries("multimodal_shape_buckets")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(out.nonEmpty)
    val geo = graft.Tables.load(spark, dir, "documents")
      .select(col("text")).collect()
      .map { r => val nb = r.getString(0).getBytes("UTF-8").length.toLong
        (nb % 640, nb % 480) }
    assert(out.map(_._3).sum == geo.length.toLong, "items not conserved")
    out.foreach { case (wb, hb, n, pw, ph, nb, pr) =>
      val mine = geo.filter { case (w, h) => w / 64 == wb && h / 48 == hb }
      assert(mine.length.toLong == n)
      assert(pw == mine.map(_._1).max && ph == mine.map(_._2).max)
      assert(nb == (n + 31) / 32)
      val px = mine.map { case (w, h) => w * h }.sum
      val exp = if (pw * ph == 0) 0.0
        else (pw * ph * n - px).toDouble / (pw * ph * n).toDouble
      assert(pr == exp && pr >= 0.0 && pr < 1.0)
    }
  }

  test("attribution_position: per-journey credits sum to exactly 12600; in-process replay") {
    val out = graft.SparkEntry.queries("attribution_position")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    val evs = graft.Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
    // replay: split each user's ordered events into journeys at purchases
    val credits = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var nTouches = Map.empty[String, Long].withDefaultValue(0L)
    evs.groupBy(_._1).foreach { case (_, es) =>
      val sorted = es.sortBy(e => (e._2.getTime, e._3))
      var journey = List.empty[String]
      sorted.foreach { e =>
        if (e._4 == "purchase") {
          val touches = journey.reverse.takeRight(12)
          val k = touches.length
          if (k > 0) {
            val cs = touches.zipWithIndex.map { case (t, i) =>
              val pos = i + 1
              val c = if (k == 1) 12600L else if (k == 2) 6300L
                else if (pos == 1 || pos == k) 5040L else 2520L / (k - 2)
              t -> c
            }
            assert(cs.map(_._2).sum == 12600L, s"journey credits != 12600 (k=$k)")
            cs.foreach { case (t, c) =>
              credits(t) += c
              nTouches += t -> (nTouches(t) + 1)
            }
          }
          journey = Nil
        } else journey ::= e._4
      }
    }
    val total = credits.values.sum
    assert(out.map(_._3).sum == total)
    out.foreach { case (t, nt, units, share) =>
      assert(units == credits(t), s"$t units")
      assert(nt == nTouches(t))
      assert(share == units.toDouble / total.toDouble)
    }
  }

  test("ols_length_quality: BigInt sufficient-statistic replay; R2 in [0,1]") {
    val Array((n, slope, icept, r2)) =
      graft.SparkEntry.queries("ols_length_quality")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val xy = graft.Tables.load(spark, dir, "documents")
      .select(col("n_chars"), col("text")).collect().map { r =>
        val text = r.getString(1)
        val toks = text.split(" ", -1)
        val nStop = toks.count(TextQueries.stopwords.contains)
        val q = 0.4 * math.min(1.0, toks.length.toDouble / 50.0) +
          0.3 * (1.0 - nStop.toDouble / toks.length) +
          0.3 * math.min(1.0, text.length.toDouble / 200.0)
        (r.getLong(0), math.floor(q * 1000000.0).toLong)
      }
    assert(n == xy.length.toLong)
    val sx = xy.map(x => BigInt(x._1)).sum; val sy = xy.map(x => BigInt(x._2)).sum
    val sxy = xy.map(x => BigInt(x._1) * x._2).sum
    val sxx = xy.map(x => BigInt(x._1) * x._1).sum
    val syy = xy.map(x => BigInt(x._2) * x._2).sum
    val vx = n * sxx - sx * sx; val vy = n * syy - sy * sy
    val cxy = n * sxy - sx * sy
    assert(slope == cxy.toDouble / vx.toDouble)
    assert(icept == (sy * sxx - sx * sxy).toDouble / vx.toDouble)
    assert(r2 == (cxy * cxy).toDouble / (vx * vy).toDouble)
    assert(r2 >= 0.0 && r2 <= 1.0)
  }

  test("fs_linkage_weights: cell replay over the blocked pairs; weights via ln6WideRef") {
    val out = graft.SparkEntry.queries("fs_linkage_weights")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getLong(5)),
        if (r.isNullAt(6)) None else Some(r.getLong(6))))
    assert(out.map(_._1).sorted.toSeq == Seq("lang", "len10", "source"))
    // replay pairs within cold blocks in-process
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    val byBlk = docs.groupBy(_._2.take(24)).filter(_._2.length <= 16)
    val pairs = byBlk.values.flatMap { g =>
      val sorted = g.sortBy(_._1)
      for (i <- sorted.indices; j <- (i + 1) until sorted.length) yield {
        val a = sorted(i); val b = sorted(j)
        val lev = {
          val (s1, s2) = (a._2.take(120), b._2.take(120))
          val d = Array.tabulate(s2.length + 1)(identity)
          s1.indices.foreach { ii =>
            var prev = d(0); d(0) = ii + 1
            s2.indices.foreach { jj =>
              val t = d(jj + 1)
              d(jj + 1) = math.min(math.min(d(jj + 1) + 1, d(jj) + 1),
                prev + (if (s1(ii) == s2(jj)) 0 else 1))
              prev = t
            }
          }
          d(s2.length)
        }
        (lev <= 24, a._3 == b._3, a._4 == b._4, math.abs(a._5 - b._5) <= 10)
      }
    }.toSeq
    val nm = pairs.count(_._1).toLong; val nu = pairs.size - nm
    val cells = Map(
      "lang" -> (pairs.count(p => p._1 && p._2).toLong, pairs.count(p => !p._1 && p._2).toLong),
      "source" -> (pairs.count(p => p._1 && p._3).toLong, pairs.count(p => !p._1 && p._3).toLong),
      "len10" -> (pairs.count(p => p._1 && p._4).toLong, pairs.count(p => !p._1 && p._4).toLong))
    out.foreach { case (f, onm, onu, am, au, wa, wd) =>
      assert(onm == nm && onu == nu)
      val (eam, eau) = cells(f)
      assert(am == eam && au == eau, s"$f agreement cells")
      def w(a: Long, b: Long): Option[Long] =
        if (a >= 1 && b >= 1) Some(LnGrid.ln6WideRef(a, b)) else None
      assert(wa == w(am * nu, au * nm), s"$f w_agree")
      assert(wd == w((nm - am) * nu, (nu - au) * nm), s"$f w_disagree")
    }
  }

  test("negsample_table: nested-isqrt replay; three-quarter power flattens the head") {
    val out = graft.SparkEntry.queries("negsample_table")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(out.length == 30)
    val counts = graft.Tables.load(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def isqrt(x: Long): Long = {
      val s0 = math.floor(math.sqrt(x.toDouble)).toLong
      if ((s0 + 1) * (s0 + 1) <= x) s0 + 1 else if (s0 * s0 > x) s0 - 1 else s0
    }
    val w = counts.map { case (t, c) => (t, c, isqrt(c * isqrt(c))) }
    val wsum = w.map(_._3).sum
    val top = w.sortBy { case (t, c, _) => (-c, t) }.take(30)
    out.zip(top).foreach { case ((t, c, w34, v, p), (et, ec, ew)) =>
      assert(t == et && c == ec && w34 == ew)
      assert(v == counts.length.toLong)
      assert(p == ew.toDouble / wsum.toDouble)
      // exactness of the nested floor: w34² ≤ c·isqrt(c) < (w34+1)²
      val x = c * isqrt(c)
      assert(w34 * w34 <= x && (w34 + 1) * (w34 + 1) > x)
    }
    // flattening: the rarest of the top-30 gets a strictly larger
    // sampling boost (p_neg/p_raw) than the most frequent — the point of
    // the ¾ power (strict per-step monotonicity is broken by ±1 floor
    // jitter between near-equal counts, so compare head vs tail)
    val tot = counts.map(_._2).sum
    val boost = (c: Long, p: Double) => p / (c.toDouble / tot)
    assert(boost(out.last._2, out.last._5) > boost(out.head._2, out.head._5),
      "negative-sampling boost should grow as counts shrink")
  }

  test("char_ngram_entropy: ln6Ref replay; 0 <= H <= ln(distinct)") {
    val out = graft.SparkEntry.queries("char_ngram_entropy")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    val bigrams = graft.Tables.load(spark, dir, "documents")
      .select(col("source"), col("text")).collect()
      .flatMap { r => val t = r.getString(1)
        (0 until t.length - 1).map(i => (r.getString(0), t.substring(i, i + 2))) }
      .groupBy(_._1).map { case (s0, xs) =>
        s0 -> xs.groupBy(_._2).map(_._2.length.toLong).toSeq }
    out.foreach { case (src, nb, nd, h) =>
      val cs = bigrams(src)
      assert(nb == cs.sum && nd == cs.length.toLong)
      val hsum = cs.map(c => c * LnGrid.ln6Ref(nb, c)).sum
      assert(h == hsum.toDouble / (nb * 1000000L).toDouble, s"$src entropy")
      assert(h >= 0.0 && h <= math.log(nd.toDouble) + 1e-5, s"$src entropy bounds")
    }
  }

  test("source_separability: in-process NB replay of the exact integer argmax") {
    val out = graft.SparkEntry.queries("source_separability")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.length == 20)
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2)))
    val st = docs.flatMap { case (_, s0, ts) => ts.map(s0 -> _) }
      .groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val ns = st.groupBy(_._1._1).map { case (s0, xs) => s0 -> xs.values.sum }
    val v = st.keys.map(_._2).toSet.size.toLong
    val docsPerSrc = docs.groupBy(_._2).map { case (s0, xs) => s0 -> xs.length.toLong }
    val n = docs.length.toLong
    val sources = ns.keys.toSeq.sorted
    val pred = docs.map { case (_, trueSrc, ts) =>
      val counts = ts.groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
      val best = sources.map { s0 =>
        val miss = LnGrid.ln6Ref(1, ns(s0) + v)
        val score = counts.map { case (t, c) =>
          st.get((s0, t)) match {
            case Some(cst) => c * LnGrid.ln6Ref(cst + 1, ns(s0) + v)
            case None => c * miss
          }
        }.sum + LnGrid.ln6Ref(docsPerSrc(s0), n)
        (s0, score)
      }.minBy { case (s0, sc) => (-sc, s0) }._1
      (trueSrc, best)
    }
    out.foreach { case (src, nd, nc, acc) =>
      assert(nd == docsPerSrc(src))
      val expCorrect = pred.count { case (t, p) => t == src && p == src }.toLong
      assert(nc == expCorrect, s"$src correct count")
      assert(acc == nc.toDouble / nd.toDouble)
    }
  }

  test("temporal_split_audit: in-process replay; user classes partition; leak covers spanning") {
    val Array((nu, tro, teo, sp, trE, teE, leak)) =
      graft.SparkEntry.queries("temporal_split_audit")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5),
          if (r.isNullAt(6)) None else Some(r.getDouble(6))))
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts"))).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val d0 = ev.map(_._2).minBy(_.toEpochDay); val d1 = ev.map(_._2).maxBy(_.toEpochDay)
    val cut = d0.plusDays((d1.toEpochDay - d0.toEpochDay) * 2 / 3)
    val perUser = ev.groupBy(_._1).map { case (u, xs) =>
      u -> (xs.count(!_._2.isAfter(cut)).toLong, xs.count(_._2.isAfter(cut)).toLong) }
    assert(nu == perUser.size.toLong && tro + teo + sp == nu)
    assert(tro == perUser.values.count { case (a, b) => a > 0 && b == 0 }.toLong)
    assert(teo == perUser.values.count { case (a, b) => a == 0 && b > 0 }.toLong)
    assert(sp == perUser.values.count { case (a, b) => a > 0 && b > 0 }.toLong)
    assert(trE == perUser.values.map(_._1).sum && teE == perUser.values.map(_._2).sum)
    val leaked = perUser.values.filter(_._1 > 0).map(_._2).sum
    assert(leak.contains(leaked.toDouble / teE.toDouble))
  }

  test("bigram_greedy_decode: in-process greedy walk replay") {
    val out = graft.SparkEntry.queries("bigram_greedy_decode")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(out.nonEmpty && out.head._1 == 0L)
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(split(col("text"), " ")).collect().map(_.getSeq[String](0))
    val uni = docs.flatten.groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    val bi = docs.filter(_.length >= 2)
      .flatMap(ts => ts.zip(ts.tail))
      .groupBy(identity).map { case (p, xs) => p -> xs.length.toLong }
    var cur = uni.toSeq.minBy { case (t, c) => (-c, t) }
    assert(out.head._2 == cur._1 && out.head._3 == cur._2)
    out.tail.foreach { case (step, tok, c) =>
      val nexts = bi.collect { case ((a, b), cc) if a == cur._1 => (b, cc) }
      assert(nexts.nonEmpty, s"walk ended before step $step")
      val pick = nexts.toSeq.minBy { case (b, cc) => (-cc, b) }
      assert(tok == pick._1 && c == pick._2, s"step $step pick")
      cur = pick
    }
  }

  test("knn_label_consistency: in-process 1-NN replay within the gated IVF lists") {
    val out = graft.SparkEntry.queries("knn_label_consistency")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val cents = emb.filter(_._1 < 16)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var s0 = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i); s0 += d * d; i += 1 }
      s0
    }
    val listed = emb.map { case (id, v, lab) =>
      val lid = cents.map { case (cid, cv, _) => (cid, cos(v, cv)) }
        .minBy { case (cid, sim) => (-sim, cid) }._1
      (id, v, lab, lid)
    }
    val agree = listed.groupBy(_._4).values.flatMap { g =>
      g.map { case (id, v, lab, _) =>
        val nn = g.filter(_._1 != id)
          .map { case (oid, ov, olab, _) => (l2(v, ov), oid, olab) }
          .minBy { case (d, oid, _) => (d, oid) }
        (lab, if (nn._3 == lab) 1L else 0L)
      }
    }.toSeq
    out.foreach { case (lab, n, na, cons) =>
      val mine = agree.filter(_._1 == lab)
      assert(n == mine.length.toLong, s"label $lab n")
      assert(na == mine.map(_._2).sum, s"label $lab agree")
      assert(cons == na.toDouble / n.toDouble)
    }
  }

  test("cluster_purity: totals tie to cluster_source_mix's assignment; majority replay") {
    val out = graft.SparkEntry.queries("cluster_purity")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getDouble(4)))
    assert(out.nonEmpty)
    // cluster sizes must equal the embeddings count partition-wise
    val nVecs = graft.Tables.load(spark, dir, "embeddings").count()
    assert(out.map(_._2).sum == nVecs, "cluster sizes don't partition the vectors")
    out.foreach { case (_, n, _, nTop, purity) =>
      assert(nTop >= 1 && nTop <= n)
      assert(purity == nTop.toDouble / n.toDouble)
      // majority is at least the uniform share over the 10 labels
      assert(purity * 10 >= 0.999999)
    }
  }

  test("map_eval: AP units replay from the gated retriever rankings; bounds") {
    val out = graft.SparkEntry.queries("map_eval")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    val exact = graft.SparkEntry.queries("similarity_topk")(spark, dir)
      .select(col("qid"), col("cid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, xs) => q -> xs.map(_._2).toSet }
    Seq("ivf_topk", "lsh_topk").foreach { m =>
      val ranked = graft.SparkEntry.queries(m)(spark, dir)
        .select(col("qid"), col("cid"), col("rk")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      out.filter(_._1 == m).foreach { case (_, q, units, ap) =>
        val rel = exact(q)
        val hits = ranked.filter(x => x._1 == q && rel(x._2)).map(_._3).sorted
        val expUnits = hits.zipWithIndex.map { case (k, i) => (i + 1).toLong * (2520L / k) }.sum
        assert(units == expUnits, s"$m/$q AP units")
        assert(ap == units.toDouble / 25200.0 && ap >= 0.0 && ap <= 1.0)
      }
    }
  }

  test("wilson_ci_daily: BigInt replay; bounds bracket p-hat and tighten with n") {
    val out = graft.SparkEntry.queries("wilson_ci_daily")(spark, dir)
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(out.nonEmpty)
    def isqrt(x: BigInt): BigInt = {
      var s0 = BigInt(math.floor(math.sqrt(x.toDouble)).toLong)
      if ((s0 + 1) * (s0 + 1) <= x) s0 += 1 else if (s0 * s0 > x) s0 -= 1
      s0
    }
    out.foreach { case (d, n, x, p, lo, hi) =>
      assert(p == x.toDouble / n.toDouble)
      val s = isqrt(BigInt(n) * (BigInt(2500) * x * (n - x) + BigInt(2401) * n))
      val den = BigInt(1250) * n * n + BigInt(4802) * n
      val core = BigInt(1250) * n * x + BigInt(2401) * n
      assert(lo == (core - BigInt(49) * s).toDouble / den.toDouble, s"$d lower")
      assert(hi == (core + BigInt(49) * s).toDouble / den.toDouble, s"$d upper")
      assert(lo <= p + 1e-12 && p <= hi + 1e-12 && lo >= 0.0 && hi <= 1.0 + 1e-12)
    }
  }

  test("user_ltv_quantiles: nearest-rank replay over exact cents; monotone") {
    val Array((n, p25, p50, p75, p90)) =
      graft.SparkEntry.queries("user_ltv_quantiles")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4)))
    val cents = graft.Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg((sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("c"))
      .collect().map(_.getLong(1)).sorted
    assert(n == cents.length.toLong)
    def q(p: Double) = cents(math.ceil(p * cents.length).toInt - 1).toDouble / 100.0
    assert(p25 == q(0.25) && p50 == q(0.5) && p75 == q(0.75) && p90 == q(0.9))
    assert(p25 <= p50 && p50 <= p75 && p75 <= p90)
  }

  test("token_entropy_rate: ln6Ref replay; rate <= unigram entropy (conditioning reduces)") {
    val out = graft.SparkEntry.queries("token_entropy_rate")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty)
    val bySource = graft.Tables.load(spark, dir, "documents")
      .select(col("source"), split(col("text"), " ").as("toks")).collect()
      .map(r => (r.getString(0), r.getSeq[String](1)))
      .groupBy(_._1).map { case (s0, xs) => s0 -> xs.map(_._2) }
    out.foreach { case (src, nb, h) =>
      val bigrams = bySource(src).filter(_.length >= 2).flatMap(ts => ts.zip(ts.tail))
      assert(nb == bigrams.length.toLong)
      val cab = bigrams.groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
      val ca = bigrams.groupBy(_._1).map { case (a, xs) => a -> xs.length.toLong }
      val hsum = cab.map { case ((a, _), c) => c * LnGrid.ln6Ref(ca(a), c) }.sum
      assert(h == hsum.toDouble / (nb * 1000000L).toDouble, s"$src rate")
      // conditioning can only reduce entropy: H(b|a) ≤ H(b) (both on the
      // same grid construction, so compare with a grid-scale tolerance)
      val cb = bigrams.groupBy(_._2).map { case (b, xs) => b -> xs.length.toLong }
      val hb = cb.values.map(c => c * LnGrid.ln6Ref(nb, c)).sum.toDouble / (nb * 1e6)
      assert(h <= hb + 1e-4, s"$src H(b|a)=$h > H(b)=$hb")
    }
  }

  test("gini_user_revenue: in-process sorted replay proves the stitched rank") {
    val Array((n, sx, gini)) =
      graft.SparkEntry.queries("gini_user_revenue")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val cents = graft.Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg((sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (u, c) => (c, u) }
    assert(n == cents.length.toLong && sx == cents.map(_._2).sum)
    val six = cents.zipWithIndex.map { case ((_, c), i) => BigInt(i + 1) * c }.sum
    val exp = (six * 2 - BigInt(n + 1) * sx).toDouble / (BigInt(n) * BigInt(sx)).toDouble
    assert(gini == exp && gini >= 0.0 && gini < 1.0)
  }

  test("interleave_schedule: WRR prefix-proportionality; per-source k consecutive") {
    val out = graft.SparkEntry.queries("interleave_schedule")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out.length == 100 && out.map(_._1).toSeq == (1 to 100))
    val w = graft.Tables.load(spark, dir, "documents")
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("nt"))
      .groupBy("source").agg(sum(col("nt")).as("w"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val tw = w.values.sum
    // per-source k counts up 1, 2, 3, … in step order (each source's
    // emissions are consumed in sequence)
    out.groupBy(_._2).foreach { case (s0, rows) =>
      assert(rows.sortBy(_._1).map(_._3).toSeq == (1 to rows.length),
        s"$s0 emission sequence broken")
    }
    // closed-form positions replay
    out.foreach { case (_, s0, k, p) =>
      val exp = ((2L * k - 1) * tw + 2 * w(s0) - 1) / (2 * w(s0))
      assert(p == exp, s"$s0/$k position")
    }
    // Bresenham property: at every prefix, each source's emission count is
    // within 1+ of its proportional share
    (1 to 100).foreach { n =>
      val pre = out.take(n).groupBy(_._2).map { case (s0, xs) => s0 -> xs.length }
      w.keys.foreach { s0 =>
        val got = pre.getOrElse(s0, 0).toDouble
        val want = n.toDouble * w(s0) / tw
        assert(math.abs(got - want) <= 1.0 + 1e-9,
          s"step $n: $s0 has $got emissions, proportional $want")
      }
    }
  }

  test("quality_rank_parity: rank-sum conservation N(N+1)/2; in-process rank replay") {
    val out = graft.SparkEntry.queries("quality_rank_parity")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    val n = out.map(_._2).sum
    assert(out.map(_._3).sum == n * (n + 1) / 2, "ranks don't partition 1..N")
    // replay: global sort by (q6, doc_id)
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map { r =>
        val text = r.getString(2)
        val toks = text.split(" ", -1)
        val nStop = toks.count(TextQueries.stopwords.contains)
        val q = 0.4 * math.min(1.0, toks.length.toDouble / 50.0) +
          0.3 * (1.0 - nStop.toDouble / toks.length) +
          0.3 * math.min(1.0, text.length.toDouble / 200.0)
        (r.getLong(0), r.getString(1), math.floor(q * 1000000.0).toLong)
      }
    val ranked = docs.sortBy { case (id, _, q6) => (q6, id) }.zipWithIndex
      .map { case ((_, src, _), i) => (src, i + 1L) }
    out.foreach { case (src, nd, sr, par) =>
      val mine = ranked.filter(_._1 == src)
      assert(nd == mine.length.toLong && sr == mine.map(_._2).sum, s"$src ranks")
      assert(par == sr.toDouble / (nd * n).toDouble)
    }
  }

  test("silhouette_positive_share: assignment ties to cluster_purity; verdict replay") {
    val out = graft.SparkEntry.queries("silhouette_positive_share")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    // cluster sizes must match cluster_purity's (same argmin assignment)
    val purity = graft.SparkEntry.queries("cluster_purity")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    out.foreach { case (c, n, nSep, share) =>
      assert(purity(c) == n, s"cluster $c size mismatch vs cluster_purity")
      assert(nSep >= 0 && nSep <= n)
      assert(share == nSep.toDouble / n.toDouble)
    }
    assert(out.map(_._2).sum == purity.values.sum)
  }

  test("anova_length_by_source: ordered-fold replay; F positive; SS decomposition") {
    val Array((k, n, ssb, ssw, f)) =
      graft.SparkEntry.queries("anova_length_by_source")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4)))
    val groups = graft.Tables.load(spark, dir, "documents")
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (s0, xs) => s0 -> xs.map(_._2) }
    assert(k == groups.size.toLong && n == groups.values.map(_.size.toLong).sum)
    // replay Q with the IDENTICAL sorted fold
    var q = 0.0
    groups.toSeq.sortBy(_._1).foreach { case (_, xs) =>
      val t = xs.sum.toDouble
      q += (t * t) / xs.size.toDouble
    }
    val t = groups.values.map(_.sum).sum
    val ss = groups.values.flatMap(_.map(x => BigInt(x) * x)).sum
    assert(ssb == q - t.toDouble * t.toDouble / n.toDouble)
    assert(ssw == ss.toDouble - q)
    assert(f == (ssb / (k - 1).toDouble) / (ssw / (n - k).toDouble))
    assert(f > 0.0 && ssb >= -1e-6 && ssw > 0.0)
  }

  test("kruskal_length_by_source: midrank-sum replay; rank mass conserved") {
    val Array((k, n, h)) =
      graft.SparkEntry.queries("kruskal_length_by_source")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(k == docs.map(_._1).distinct.length.toLong && n == docs.length.toLong)
    // midranks from the sorted value multiset
    val sorted = docs.map(_._2).sorted
    val mid2 = sorted.distinct.map { v =>
      val lo = sorted.indexWhere(_ == v) + 1
      val hi = sorted.lastIndexWhere(_ == v) + 1
      v -> (lo + hi).toLong // 2·midrank
    }.toMap
    val r2g = docs.groupBy(_._1).map { case (s0, xs) =>
      s0 -> xs.map(x => mid2(x._2)).sum // 2·R_g
    }
    // Σ 2R_g = 2·N(N+1)/2
    assert(r2g.values.sum == n * (n + 1), "midrank mass not conserved")
    var q = 0.0
    r2g.toSeq.sortBy(_._1).foreach { case (s0, r2) =>
      val ng = docs.count(_._1 == s0).toDouble
      q += (r2.toDouble * r2.toDouble) / ng
    }
    val expH = 3.0 * q / (n.toDouble * (n + 1).toDouble) - 3.0 * (n + 1).toDouble
    assert(h == expH && h >= 0.0)
  }

  test("spearman_length_quality: in-process midrank Pearson replay") {
    val Array((n, rho2)) =
      graft.SparkEntry.queries("spearman_length_quality")(spark, dir)
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("n_chars"), col("text")).collect().map { r =>
        val text = r.getString(1)
        val toks = text.split(" ", -1)
        val nStop = toks.count(TextQueries.stopwords.contains)
        val q = 0.4 * math.min(1.0, toks.length.toDouble / 50.0) +
          0.3 * (1.0 - nStop.toDouble / toks.length) +
          0.3 * math.min(1.0, text.length.toDouble / 200.0)
        (r.getLong(0), math.floor(q * 1000000.0).toLong)
      }
    assert(n == docs.length.toLong)
    def mid2(vals: Seq[Long]): Map[Long, Long] = {
      val sorted = vals.sorted
      sorted.distinct.map { v =>
        v -> (sorted.indexWhere(_ == v) + 1 + sorted.lastIndexWhere(_ == v) + 1).toLong
      }.toMap
    }
    val mx = mid2(docs.map(_._1).toIndexedSeq); val my = mid2(docs.map(_._2).toIndexedSeq)
    val xs = docs.map(d => BigInt(mx(d._1))); val ys = docs.map(d => BigInt(my(d._2)))
    val sx = xs.sum; val sy = ys.sum
    val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
    val sxx = xs.map(a => a * a).sum; val syy = ys.map(b => b * b).sum
    val c = n * sxy - sx * sy
    val vx = n * sxx - sx * sx; val vy = n * syy - sy * sy
    assert(rho2.contains((c * c.abs).toDouble / (vx * vy).toDouble))
    assert(rho2.get.abs <= 1.0 + 1e-12)
  }

  test("theil_decomposition: identity T_total ~= T_between + sum(share*T_within) on the grid") {
    val out = graft.SparkEntry.queries("theil_decomposition")(spark, dir)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val total = out.find(_._1 == "__total").get._2
    val between = out.find(_._1 == "__between").get._2
    val within = out.filterNot(x => x._1.startsWith("__"))
    assert(within.nonEmpty)
    val withinMix = within.map { case (_, t, share) => t * share }.sum
    // each ln6 carries ~2e-6 grid error; weighted sums keep it bounded
    assert(math.abs(total - (between + withinMix)) < 1e-4,
      s"Theil identity broken: $total vs ${between + withinMix}")
    assert(total >= -1e-9 && between >= -1e-9)
    assert(within.map(_._3).sum > 0.999999 && within.map(_._3).sum < 1.000001)
  }

  test("source_hhi: BigInt replay; 1/n <= HHI <= 1; eff_sources = 1/HHI") {
    val Array((k, st, hhi, eff)) =
      graft.SparkEntry.queries("source_hhi")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val ss = graft.Tables.load(spark, dir, "documents")
      .select(col("source"), split(col("text"), " ")).collect()
      .map(r => (r.getString(0), r.getSeq[String](1).length.toLong))
      .groupBy(_._1).map { case (_, xs) => xs.map(_._2).sum }
    assert(k == ss.size.toLong && st == ss.sum)
    val s2 = ss.map(x => BigInt(x) * x).sum
    assert(hhi == s2.toDouble / (BigInt(st) * st).toDouble)
    assert(eff == (BigInt(st) * st).toDouble / s2.toDouble)
    assert(hhi * k >= 0.999999 && hhi <= 1.0 && eff <= k.toDouble + 1e-9)
  }

  test("embedding_isotropy: BigInt replay over the shared quantization codes") {
    val Array((n, dim, iso)) =
      graft.SparkEntry.queries("embedding_isotropy")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val vecs = graft.Tables.load(spark, dir, "embeddings")
      .collect().map(_.getSeq[Float](1).toArray)
      .filter(v => v.map(math.abs(_)).max > 0)
      .map { v =>
        val maxabs = v.map(x => math.abs(x.toDouble)).max
        val scale = 127.0 / maxabs
        v.map(x => math.floor(x.toDouble * scale + 0.5).toLong)
      }
    assert(n == vecs.length.toLong && dim == vecs.head.length.toLong)
    val sd = Array.tabulate(vecs.head.length)(d => vecs.map(_(d)).sum)
    val s2 = sd.map(x => BigInt(x) * x).sum
    val nn2 = vecs.map(v => v.map(x => BigInt(x) * x).sum).sum
    assert(iso == s2.toDouble / (BigInt(n) * nn2).toDouble)
    assert(iso >= 0.0 && iso <= 1.0 + 1e-9)
  }

  test("psi_length_parity: ln6Ref replay; the A/A null test reads stable (< 0.1)") {
    val Array((nBins, psi)) =
      graft.SparkEntry.queries("psi_length_parity")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0) % 2, r.getLong(1) / 64))
    val bins = docs.map(_._2).distinct
    assert(nBins == bins.length.toLong)
    val h1 = bins.map(b => b -> (docs.count(d => d._1 == 0 && d._2 == b) + 1L)).toMap
    val h2 = bins.map(b => b -> (docs.count(d => d._1 == 1 && d._2 == b) + 1L)).toMap
    val n1 = h1.values.sum; val n2 = h2.values.sum
    val psum = bins.map { b =>
      val x = h1(b) * n2; val y = h2(b) * n1
      (x - y) * LnGrid.ln6Ref(x, y)
    }.sum
    assert(psi == psum.toDouble / (n1 * n2 * 1000000L).toDouble)
    // PSI ≥ 0 always ((p−q) and ln(p/q) share sign); A/A halves are stable
    assert(psi >= 0.0 && psi < 0.1, s"A/A PSI should read stable, got $psi")
  }

  test("holt_smooth: in-process recurrence replay, bit-for-bit; resid NULL only at t=1") {
    val out = graft.SparkEntry.queries("holt_smooth")(spark, dir)
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2),
        r.getDouble(3), r.getDouble(4), if (r.isNullAt(5)) None else Some(r.getDouble(5))))
    assert(out.nonEmpty)
    val daily = graft.Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))
      .groupBy(_._1).map { case (t, rs) => t -> rs.sortBy(_._2.toEpochDay) }
    out.groupBy(_._1).foreach { case (t, rows) =>
      val series = daily(t)
      val sorted = rows.sortBy(_._2.toEpochDay)
      var l = series.head._3.toDouble
      var b = 0.0
      sorted.zip(series).zipWithIndex.foreach { case (((_, d, c, lv, tr, re), (_, ed, ec)), i) =>
        assert(d == ed && c == ec)
        if (i == 0) {
          assert(lv == l && tr == b && re.isEmpty)
        } else {
          val cv = ec.toDouble
          val r = cv - (l + b)
          val l2 = ((cv + l) + b) / 2
          val b2 = (b + (l2 - l)) / 2
          l = l2; b = b2
          assert(lv == l && tr == b, s"$t $d holt state drift")
          assert(re.contains(r), s"$t $d resid")
        }
      }
    }
  }
}
