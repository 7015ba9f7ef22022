package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Plan + replay proofs for the r13 Brandes sink and its consumers
  * (VERDICT r12 #1): the hash gate covers content; these tests pin
  * (1) the sink's read-back is bit-equal to the in-memory
  * forward+backward accumulators and lands exactly one file per
  * bucket, (2) the consumer rollups ride the written bucketing with
  * NO shuffle exchange between scan and aggregate — the reason the
  * sink exists, (3) the degenerate rounds == 0 path returns an empty
  * edge accumulator instead of NPEing (r12 ADVICE #2), (4) the
  * Girvan–Newman splitter's partition/modularity accounting closes
  * exactly and only ever SPLITS the uncut components. */
class BrandesSinkSpec extends SparkSpec {

  test("sink_brandes_deps: read-back is bit-equal to the in-memory accumulators; one file per bucket") {
    val deps = queries.GraphOps.brandesDeps(spark, sf)
    val (e, lv0, rounds) = queries.GraphOps.brandesForward(spark, sf)
    val lv = lv0.localCheckpoint(false)
    val (_, eacc) = queries.GraphOps.brandesBackward(e, lv, rounds)
    val gotContrib = deps.filter(col("wnode").isNotNull)
      .select("s", "node", "wnode", "c", "h")
    assert(gotContrib.exceptAll(eacc).isEmpty &&
      eacc.exceptAll(gotContrib).isEmpty,
      "materialized contribution rows diverge from brandesBackward")
    val wantPres = lv.filter(col("h") >= 1L).select("s", "node", "h")
    val gotPres = deps.filter(col("wnode").isNull).select("s", "node", "h")
    assert(gotPres.exceptAll(wantPres).isEmpty &&
      wantPres.exceptAll(gotPres).isEmpty,
      "presence rows diverge from the level table (levels 1..rounds)")
    assert(deps.filter(col("wnode").isNull && col("c") =!= 0L).isEmpty,
      "presence rows must carry c = 0")
    assert(deps.select("rounds").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(rounds),
      "rounds column must be the constant forward-wave depth")
    val out = engine.Registry.byName("sink_brandes_deps")
      .build(spark, sf).collect()
    assert(out.forall(_.getInt(6) == queries.GraphOps.brandesDeps.buckets),
      "part-file count != bucket count — a bucket split across task " +
        "files or went missing")
  }

  test("sink_ebc: read-back is bit-equal to a direct rollup of the dep sink; one file per bucket") {
    val got = queries.GraphOps.ebcRollup(spark, sf)
    val want = queries.GraphOps.brandesDeps(spark, sf)
      .filter(col("wnode").isNotNull)
      .groupBy(col("node"), col("wnode"))
      .agg(sum(col("c")).as("ebc_micro"),
        count(lit(1)).as("n_seeds"),
        max(col("rounds")).as("rounds"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "materialized ebc rollup diverges from a direct dep-sink rollup")
    val gate = engine.Registry.byName("sink_ebc")
      .build(spark, sf).collect()
    assert(gate.length == 1)
    assert(gate(0).getAs[Int]("n_files") == queries.GraphOps.ebcRollup.buckets,
      "part-file count != bucket count")
    // seed-row conservation: Σ n_seeds = the dep sink's contribution
    // row total (a dropped seed or level fails here loudly)
    val contribRows = queries.GraphOps.brandesDeps(spark, sf)
      .filter(col("wnode").isNotNull).count()
    assert(gate(0).getAs[Long]("seed_rows") == contribRows)
  }

  test("betweenness rollups ride the sink bucketing: no exchange between scan and aggregate") {
    val deps = queries.GraphOps.brandesDeps(spark, sf)
    for (rollup <- Seq(
        deps.filter(col("h") >= 1L).groupBy("node")
          .agg(sum(col("c")).as("bc_micro")),
        deps.filter(col("wnode").isNotNull).groupBy("node", "wnode")
          .agg(sum(col("c")).as("ebc_micro")))) {
      rollup.collect()
      val ps = (rollup.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }).toString
      assert(!ps.contains("Exchange"),
        s"rollup over the bucketed deps table must not exchange:\n$ps")
      assert(ps.contains("Bucketed: true"),
        s"scan must be bucket-aware:\n$ps")
    }
  }

  test("brandesBackward: rounds == 0 (no seed has any neighbor) yields an empty typed edge accumulator") {
    import spark.implicits._
    val e = Seq.empty[(Long, Long)].toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val (lv, rounds) = queries.GraphOps.wave(e, seeds, col("node"), sigma = true)
    assert(rounds == 0)
    val (acc, eacc) = queries.GraphOps.brandesBackward(e, lv, rounds)
    assert(eacc.columns.toSeq == Seq("s", "node", "wnode", "c", "h"))
    assert(eacc.count() == 0, "degenerate graph must yield zero edge rows")
    // the edge operator's rollup shape over it stays well-formed
    assert(eacc.groupBy("node", "wnode")
      .agg(sum(col("c"))).count() == 0)
    assert(acc.count() == 1, "the seed's own level-0 delta row")
  }

  test("graph_girvan_split: accounting closes; the cut only ever splits the uncut components") {
    val got = engine.Registry.byName("graph_girvan_split")
      .build(spark, sf).collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getInt(5) == queries.GraphOps.GirvanCutK))
    // partition accounting: every node in exactly one community, the
    // directed degree mass is twice the (bounded) edge count, and
    // internal2 = 2·internal_edges composes each mod_term exactly
    val t = got.map(_.getLong(2)).sum
    assert(t % 2 == 0 && t > 0)
    val comps = engine.Registry.byName("graph_components")
      .build(spark, sf).collect()
    assert(got.map(_.getLong(1)).sum == comps.length,
      "Σ n_nodes must cover every node of the top-500 subgraph")
    got.foreach { r =>
      val (deg, internal) = (r.getLong(2), r.getLong(3))
      val want = BigDecimal(
          (2.0 * internal) / t - (deg.toDouble / t) * (deg.toDouble / t))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(4) == want,
        s"mod_term(${r.getLong(0)}): got ${r.getDouble(4)}, want $want")
    }
    // cutting edges can only split components (or leave them whole):
    // the split partition must REFINE graph_components' — every
    // split community sits inside one uncut component, so there are
    // at least as many communities as uncut components
    val uncut = comps.map { r =>
      val node = if (r.getString(0) == "customer") r.get(1).toString.toLong * 2
        else r.get(1).toString.toLong * 2 + 1
      node -> r.get(2).toString.toLong
    }.toMap
    val nUncut = uncut.values.toSet.size
    assert(got.length >= nUncut,
      s"split produced ${got.length} communities < $nUncut uncut components")
    // and the community label (min member) maps into its own uncut
    // component: min-label refinement means label's uncut component
    // exists and the label is a member of the subgraph
    got.foreach { r =>
      val comm = r.getLong(0)
      assert(uncut.contains(comm), s"community label $comm is not a subgraph node")
    }
  }
}
