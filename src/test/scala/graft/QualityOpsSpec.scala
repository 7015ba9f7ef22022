package graft

import org.apache.spark.sql.functions._
import graft.engine.Registry

/** Invariants for the r9 quality/eval/fusion additions. */
class QualityOpsSpec extends SparkSpec {

  private def run(name: String) = Registry.byName(name).build(spark, sf)

  test("quality_gopher_rules: keep is the AND of its flags; rules split the corpus") {
    val rows = run("quality_gopher_rules").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (len, mwl, stop, rep, keep) = (r.getBoolean(5), r.getBoolean(6),
        r.getBoolean(7), r.getBoolean(8), r.getBoolean(9))
      assert(keep === (len && mwl && stop && rep), s"keep != AND at ${r.getLong(0)}")
      // mean-word-length band re-derived from the emitted counts
      val (n, chars) = (r.getLong(1), r.getLong(2))
      assert(mwl === (3 * n <= chars && chars <= 10 * n))
    }
    // the gate must actually gate: keep splits, and ≥ 2 individual
    // rules split (an all-true rule set would be a vacuous filter)
    def splits(i: Int) = rows.map(_.getBoolean(i)).distinct.length == 2
    assert(splits(9), "keep is constant — vacuous gate")
    assert(Seq(5, 6, 7, 8).count(splits) >= 2, "fewer than 2 rules split")
  }

  test("text_zipf_curve: OLS replay from driver-side token counts; slope negative, r2 in (0,1]") {
    val out = engine.Registry.byName("text_zipf_curve")
      .build(spark, sf).collect()(0)
    val toks = engine.Tables.documents(spark, sf)
      .select("text").collect().flatMap(_.getString(0).split(" ", -1))
    val pts = toks.groupBy(identity).map { case (w, a) => (w, a.length.toLong) }
      .toSeq.sortBy { case (w, c) => (-c, w) }.take(1000).zipWithIndex
      .map { case ((_, c), i) =>
        (math.floor(math.log((i + 1).toDouble) * 1000000).toLong,
          math.floor(math.log(c.toDouble) * 1000000).toLong) }
    val n = pts.length.toLong
    assert(out.getLong(0) == n)
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val syy = pts.map(p => p._2 * p._2).sum
    def r4(x: Double) = BigDecimal(x).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val covn = n.toDouble * sxy - sx.toDouble * sy.toDouble
    val varxn = n.toDouble * sxx - sx.toDouble * sx.toDouble
    val varyn = n.toDouble * syy - sy.toDouble * sy.toDouble
    assert(out.getDouble(1) == r4(covn / varxn), "slope replay")
    assert(out.getDouble(3) == r4(covn * covn / (varxn * varyn)), "r2 replay")
    // frequency decays with rank (slope < 0) — and the LOW R² is the
    // operator's point on THIS corpus: the synthetic text draws from
    // a ~40-token pool near-uniformly, i.e. it is exactly the
    // templated/degenerate corpus the Zipf gate exists to flag
    // (natural text fits the head with R² near 1; this fixture
    // measures ~0.06)
    assert(out.getDouble(1) < 0, s"Zipf slope must be negative: ${out.getDouble(1)}")
    assert(out.getDouble(3) >= 0.0 && out.getDouble(3) <= 1.0,
      s"r2 out of range: ${out.getDouble(3)}")
    assert(out.getDouble(3) < 0.5,
      "the templated synthetic corpus should FAIL the naturalness fit " +
        s"(r2=${out.getDouble(3)}) — if this starts passing, the fixture changed")
  }

  test("text_heaps_curve: cumulative counts are monotone and the vocab curve is sub-linear") {
    val rows = run("text_heaps_curve").collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to rows.length))
    val (docs, toks, vocab) = (rows.map(_.getLong(1)), rows.map(_.getLong(2)),
      rows.map(_.getLong(3)))
    Seq(docs, toks, vocab).foreach(c =>
      assert(c.zip(c.tail).forall { case (a, b) => a <= b }, "not monotone"))
    assert(vocab.last > vocab.head, "vocabulary never grows — degenerate unit")
    // Heaps: new-shingle yield per token decays — the last decile
    // discovers vocabulary at a lower rate than the first
    val firstRate = vocab.head.toDouble / toks.head
    val lastRate = (vocab.last - vocab(vocab.length - 2)).toDouble /
      (toks.last - toks(toks.length - 2))
    assert(lastRate < firstRate, s"no saturation: $lastRate >= $firstRate")
  }

  /** dedup_shingle_stats' raw (doc_id, sh) word-3-gram rows, before
    * the query hashes sh. */
  private def shingles(sfDir: String) = {
    val ws = split(col("text"), " ")
    engine.Tables.documents(spark, sfDir)
      .filter(size(ws) >= 3)
      .select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 2), " +
          "i -> concat_ws(' ', ws[i-1], ws[i], ws[i+1]))")).as("sh"))
  }

  test("dedup_shingle_stats: df mass equals the distinct (doc, shingle) count") {
    val hist = run("dedup_shingle_stats").collect()
    val mass = hist.map(r => r.getLong(0) * r.getLong(1)).sum
    val direct = shingles(sf).distinct().count()
    assert(mass === direct, s"histogram mass $mass != $direct pairs")
  }

  test("dedup_shingle_stats: xxhash64 of the shingle is collision-free at sf0.001 and sf0.01") {
    for (s <- Seq(sf, new java.io.File(sf).getParent + "/sf0.01")) {
      val c = shingles(s).withColumn("h", xxhash64(col("sh")))
        .agg(countDistinct(col("doc_id"), col("sh")), countDistinct(col("doc_id"), col("h")),
          countDistinct(col("sh")), countDistinct(col("h"))).head()
      assert(c.getLong(0) > 0L && c.getLong(0) === c.getLong(1) &&
        c.getLong(2) === c.getLong(3), s"hash collisions at $s: $c")
    }
  }

  test("corpus_curriculum: stages partition the corpus with disjoint, ordered score ranges") {
    val st = run("corpus_curriculum").collect()
    assert(st.map(_.getLong(1)).sum ===
      engine.Tables.documents(spark, sf).count())
    // value-grouped boundaries: stage score ranges never overlap and
    // ascend — equal scores can never straddle a stage
    st.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(4) < b.getLong(3),
          s"stage ${a.getLong(0)} max ${a.getLong(4)} >= stage ${b.getLong(0)} min ${b.getLong(3)}")
      case _ =>
    }
    assert(st.forall(r => r.getLong(3) <= r.getLong(4)))
    assert(st.forall(r => r.getLong(0) >= 1 && r.getLong(0) <= 10))
  }

  test("rank_fusion_rrf: scores recompose from ranks; both arms contribute") {
    val rows = run("rank_fusion_rrf").collect()
    assert(rows.length > 0 && rows.length <= 20)
    rows.foreach { r =>
      val lex = if (r.isNullAt(1)) None else Some(r.getInt(1))
      val sem = if (r.isNullAt(2)) None else Some(r.getInt(2))
      val expected = lex.map(k => 1000000000L / (60 + k)).getOrElse(0L) +
        sem.map(k => 1000000000L / (60 + k)).getOrElse(0L)
      assert(r.getLong(3) === expected, s"rrf mismatch at doc ${r.getLong(0)}")
      assert(lex.isDefined || sem.isDefined)
    }
    // fusion is real: the fused top-20 contains docs from both arms
    assert(rows.exists(r => !r.isNullAt(1)) && rows.exists(r => !r.isNullAt(2)))
    // descending by score with id tiebreak
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(3) > b.getLong(3) ||
        (a.getLong(3) == b.getLong(3) && a.getLong(0) < b.getLong(0)))
      case _ =>
    }
  }

  test("join_bloom_prefilter: candidates decompose; the no-false-negative contract holds") {
    val r = run("join_bloom_prefilter").collect()(0)
    val (nRows, nCand, nMember, nFp) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(r.getBoolean(4), "false negative — the prefilter dropped a member row")
    assert(nCand === nMember + nFp, "candidates != members + false positives")
    assert(nMember > 0 && nCand <= nRows)
  }

  test("ab_test_mannwhitney: U matches the brute-force pair count") {
    val vals = engine.Tables.loadEvents(spark, sf)
      .filter(col("event_type") === "purchase")
      .select((col("user_id") % 2).as("g"), floor(col("value")).cast("long").as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val g1 = vals.filter(_._1 == 0).map(_._2)
    val g2 = vals.filter(_._1 == 1).map(_._2)
    val brute = (for (a <- g1; b <- g2)
      yield if (a > b) 2L else if (a == b) 1L else 0L).sum
    val r = run("ab_test_mannwhitney").collect()(0)
    assert(r.getLong(0) === g1.length.toLong && r.getLong(1) === g2.length.toLong)
    assert(r.getLong(2) === brute, s"U1_x2 ${r.getLong(2)} != brute $brute")
  }

  test("graph_degree_dist: degree mass equals the directed edge count; node mass equals |V|") {
    val hist = run("graph_degree_dist").collect()
    val degMass = hist.map(r => r.getLong(1) * r.getLong(2)).sum
    val nodeMass = hist.map(_.getLong(2)).sum
    val pairs = engine.Tables.lineitem(spark, sf)
      .join(engine.Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct()
    assert(degMass === 2 * pairs.count(), "Σ deg·n != 2|E|")
    val nV = pairs.select(col("c")).distinct().count() +
      pairs.select(col("s")).distinct().count()
    assert(nodeMass === nV, "Σ n_nodes != |V|")
  }
}
