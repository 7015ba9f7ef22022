package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Plan + replay proofs for the r12 walk-corpus sink and its PMI
  * consumer (VERDICT r11 #1): the hash gate covers content; these
  * tests pin (1) the sink's read-back is bit-equal to the logical
  * walk table and lands exactly one file per bucket, (2) the
  * skip-gram window pass rides the written layout with NO shuffle
  * exchange between scan and lead() — the reason the sink exists,
  * (3) the PMI/SPPMI algebra replays driver-side from the pair
  * counts with exact marginal conservation and symmetry. */
class WalkCorpusSpec extends SparkSpec {

  test("sink_walk_corpus: read-back corpus is bit-equal to the logical walk table; one file per bucket") {
    val corpus = queries.GraphOps.walkCorpus(spark, sf)
      .select("start", "step", "node")
    val logical = engine.Registry.byName("graph_random_walks")
      .build(spark, sf).select("start", "step", "node")
    assert(corpus.exceptAll(logical).isEmpty &&
      logical.exceptAll(corpus).isEmpty,
      "materialized corpus diverges from the logical walk table")
    val out = engine.Registry.byName("sink_walk_corpus")
      .build(spark, sf).collect()
    assert(out.length == 5, "expected one row per step 0..4")
    assert(out.forall(_.getInt(4) == queries.GraphOps.walkCorpus.buckets),
      "part-file count != bucket count — a bucket split across task " +
        "files or went missing")
  }

  test("skip-gram window rides the sink bucketing: no exchange between scan and lead()") {
    val walks = queries.GraphOps.walkCorpus(spark, sf)
    val w = Window.partitionBy("start").orderBy("step")
    val fw = walks.withColumn("n1", lead(col("node"), 1).over(w))
    fw.collect()
    val ps = (fw.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).toString
    assert(!ps.contains("Exchange"),
      s"window over the bucketed corpus must not exchange:\n$ps")
    assert(ps.contains("Bucketed: true"),
      s"scan must be bucket-aware:\n$ps")
  }

  test("graph_walk_pmi: PMI/SPPMI replay from pair counts; marginals conserve and are symmetric") {
    val arr = engine.Registry.byName("graph_walk_pairs")
      .build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nc = arr.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nx = arr.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    // the pair table is symmetrized, so the two marginals are the
    // same function — and they conserve the pair total exactly
    assert(nc == nx, "center/context marginals diverge on a symmetric table")
    val t = arr.map(_._3).sum
    assert(nc.values.sum == t, "marginal mass != pair total")
    val pairSet = arr.map(p => (p._1, p._2) -> p._3).toMap
    val out = engine.Registry.byName("graph_walk_pmi")
      .build(spark, sf).collect()
    assert(out.length == arr.length, "PMI table must cover every pair")
    out.foreach { r =>
      val (c, x, np) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(np == pairSet((c, x)))
      assert(r.getLong(3) == nc(c) && r.getLong(4) == nc(x))
      // the engine's exact composition: BIGINT products, ONE double
      // division, ONE ln, floor to micro-nats
      val pmi = math.floor(math.log(
        (np * t).toDouble / (nc(c) * nc(x)).toDouble) * 1e6).toLong
      assert(r.getLong(5) == pmi, s"pmi($c,$x): got ${r.getLong(5)}, want $pmi")
      val sp = math.max(0L, math.floor(math.log(
        (np * t).toDouble / (nc(c) * nc(x) * 4L).toDouble) * 1e6).toLong)
      assert(r.getLong(6) == sp, s"sppmi($c,$x): got ${r.getLong(6)}, want $sp")
      // the k-shift only ever lowers PMI; SPPMI clamps at zero
      assert(r.getLong(6) <= math.max(0L, r.getLong(5)))
      // symmetry: the mirrored cell carries identical counts (so the
      // factorization target is a symmetric matrix, as SGNS expects)
      assert(pairSet((x, c)) == np)
    }
  }

  test("graph_walk_embed: four-iteration integer power replay over the SPPMI matrix") {
    val pm = engine.Registry.byName("graph_walk_pmi")
      .build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(6)))
    val m = pm.filter(_._3 > 0)
    assert(m.nonEmpty, "SPPMI matrix has no positive entries")
    val byCenter = m.groupBy(_._1)
    var x = byCenter.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 4) {
      val u = byCenter.view.mapValues(_.map { case (_, ctx, w) =>
        w * x.getOrElse(ctx, 0L) }.sum).toMap
      val d = math.max(u.values.map(math.abs).max / 1000000L, 1L)
      x = u.view.mapValues(_ / d).toMap
    }
    val got = engine.Registry.byName("graph_walk_embed")
      .build(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.length == x.size, s"${got.length} rows, want ${x.size}")
    got.foreach { case (tp, key, v, it) =>
      val node = if (tp == "customer") key * 2 else key * 2 + 1
      assert(v == x(node), s"emb($node): got $v, want ${x(node)}")
      assert(it == 4)
    }
    // a nonneg irreducible-ish matrix from a positive start: the
    // dominant component is positive and non-degenerate
    assert(got.forall(_._3 > 0), "embedding must stay positive")
    assert(got.map(_._3).distinct.length > 1, "embedding collapsed to a constant")
  }

  test("graph_walk_embed_k2: axis-1 is bit-equal to the rank-1 operator; downdate replays in BigInt") {
    val r1 = engine.Registry.byName("graph_walk_embed")
      .build(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val k2 = engine.Registry.byName("graph_walk_embed_k2")
      .build(spark, sf).collect()
    assert(k2.length == r1.size)
    k2.foreach { r =>
      val key = (r.getString(0), r.getLong(1))
      assert(r.getLong(2) == r1(key),
        s"emb1_q($key) diverges from graph_walk_embed")
      assert(r.getInt(7) == 8, "iters certificate")
    }
    // full BigInt driver replay of the downdate + second trajectory
    val pm = engine.Registry.byName("graph_walk_pmi")
      .build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(6)))
      .filter(_._3 > 0)
    def axis(cells: Seq[(Long, Long, Long)]): Map[Long, Long] = {
      val byC = cells.groupBy(_._1)
      var x = byC.keys.map(_ -> 1000000L).toMap
      for (_ <- 1 to 4) {
        val u = byC.view.mapValues(_.map { case (_, ctx, w) =>
          w * x.getOrElse(ctx, 0L) }.sum).toMap
        val d = math.max(u.values.map(math.abs).max / 1000000L, 1L)
        x = u.view.mapValues(_ / d).toMap
      }
      x
    }
    val v1 = axis(pm)
    val num = pm.map { case (c, x, w) =>
      BigInt(w) * v1(c) * v1(x) }.sum
    val den = BigInt(v1.values.map(v => v * v).sum)
    val t = v1.view.mapValues(v => (num * v) / den).toMap
    val cells2 = pm.map { case (c, x, w) =>
      (c, x, w - ((t(c) * v1(x)) / den).toLong) }
    val v2 = axis(cells2)
    k2.foreach { r =>
      val node = if (r.getString(0) == "customer") r.getLong(1) * 2
        else r.getLong(1) * 2 + 1
      assert(r.getLong(3) == v2(node),
        s"emb2_q($node): got ${r.getLong(3)}, want ${v2(node)}")
    }
    // Rayleigh/decay readout replays and stays finite
    val ray1 = num.toDouble / den.toDouble
    val num2 = cells2.map { case (c, x, w) =>
      BigInt(w) * v2(c) * v2(x) }.sum
    val den2 = BigInt(v2.values.map(v => v * v).sum)
    val ray2 = num2.toDouble / den2.toDouble
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val row = k2.head
    assert(row.getDouble(4) == r4(ray1))
    assert(row.getDouble(5) == r4(ray2))
    assert(row.getDouble(6) == r4(ray2 / ray1))
    // deflation removed the dominant component: the residual
    // Rayleigh cannot exceed the first
    assert(ray2 <= ray1, s"lambda2 $ray2 > lambda1 $ray1")
  }

  test("graph_walk_embed_k4: axes 1-2 are the k2 run's fixed prefix; the scree trace replays") {
    val k2 = engine.Registry.byName("graph_walk_embed_k2")
      .build(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6))).toMap
    val k4 = engine.Registry.byName("graph_walk_embed_k4")
      .build(spark, sf).collect()
    assert(k4.length == k2.size)
    k4.foreach { r =>
      val key = (r.getString(0), r.getLong(1))
      val (e1, e2, ray1, ray2, ratio) = k2(key)
      // deflation is strictly sequential: the deeper run cannot move
      // the shallow prefix (tokenizer_train_k's fixed-prefix law)
      assert(r.getAs[Long]("emb1_q") == e1, s"emb1_q($key)")
      assert(r.getAs[Long]("emb2_q") == e2, s"emb2_q($key)")
      assert(r.getAs[Double]("rayleigh1") == ray1)
      assert(r.getAs[Double]("rayleigh2") == ray2)
      assert(r.getAs[Double]("eig_ratio") == ratio)
      assert(r.getAs[Int]("iters") == 16, "iters certificate")
    }
    // the scree readout: every residual Rayleigh is bounded by the
    // dominant one (deflation removes the found component), and the
    // successive ratios are finite
    val h = k4.head
    val rays = (1 to 4).map(i => h.getAs[Double](s"rayleigh$i"))
    assert(rays.tail.forall(_ <= rays.head),
      s"residual Rayleigh exceeds lambda1: $rays")
    Seq("eig_ratio", "eig_ratio3", "eig_ratio4").foreach { c =>
      val v = h.getAs[Double](c)
      assert(!v.isNaN && !v.isInfinite, s"$c = $v")
    }
    // the 4 axes are genuinely distinct vectors (deflation worked)
    val cols = Seq("emb1_q", "emb2_q", "emb3_q", "emb4_q")
    val vecs = cols.map(c => k4.map(_.getAs[Long](c)).toSeq)
    for (i <- vecs.indices; j <- i + 1 until vecs.size)
      assert(vecs(i) != vecs(j), s"axes ${cols(i)} and ${cols(j)} identical")
  }

  test("graph_embed_link_auc: pairwise-definition AUC replay matches the rank-sum identity") {
    val out = engine.Registry.byName("graph_embed_link_auc")
      .build(spark, sf).collect()
    assert(out.length == 1)
    val row = out.head
    val (nPos, nNeg, units, auc) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getDouble(3))
    assert(nPos > 0 && nNeg > 0)
    assert(auc >= 0.0 && auc <= 1.0)
    // independent driver replay: rebuild samples + scores, then AUC
    // by the PAIRWISE definition (wins + half-ties), which the
    // operator's rank-sum identity must equal exactly
    val (v1Df, v2Df, _) = queries.GraphOps.walkEmbedAxes(spark, sf)
    val emb = v1Df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val emb2 = v2Df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ed = engine.Tables.lineitem(spark, sf)
      .join(engine.Tables.orders(spark, sf),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      .selectExpr("o_custkey*2 AS u", "l_suppkey*2+1 AS w")
      .distinct().collect()
      .map(r => (r.get(0).toString.toLong, r.get(1).toString.toLong))
    val edSet = ed.toSet
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(x: String) = md.digest(x.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val pos = ed.map { case (u, w) => (h(s"pos:$u:$w"), u, w) }
      .sorted.take(4096).map(t => (t._2, t._3))
    val cn = ed.map(_._1).distinct.sorted
    val sn = ed.map(_._2).distinct.sorted
    def h32(x: String) = java.lang.Long.parseLong(h(x).take(8), 16)
    val neg = (1 to 4096).map { k =>
      (cn((h32(s"negc:$k") % cn.length).toInt),
        sn((h32(s"negs:$k") % sn.length).toInt))
    }.distinct.filterNot(edSet)
    def score(p: (Long, Long)): Option[Long] =
      for (a1 <- emb.get(p._1); b1 <- emb.get(p._2))
        yield a1 * b1 + emb2(p._1) * emb2(p._2)
    val ps = pos.flatMap(score)
    val ns = neg.flatMap(score)
    assert(ps.length == nPos && ns.length == nNeg,
      s"sample sizes: got (${ps.length}, ${ns.length}), want ($nPos, $nNeg)")
    var wins2 = 0L // 2 per win, 1 per tie
    for (p <- ps; n <- ns)
      wins2 += (if (p > n) 2L else if (p == n) 1L else 0L)
    assert(wins2 == units,
      s"pairwise AUC units $wins2 != rank-sum identity $units")
    val want = BigDecimal(wins2.toDouble / (2.0 * nPos * nNeg))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(auc == want)
  }
}
