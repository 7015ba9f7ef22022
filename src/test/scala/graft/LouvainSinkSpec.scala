package graft

import org.apache.spark.sql.functions._

/** Proofs for the r13 Louvain label sink (VERDICT r12 #5): the hash
  * gate covers content cross-engine; these pin (1) the read-back is
  * bit-equal to the raw 16-round loop and lands one file per bucket,
  * (2) the family consumers (sweep rollup, coarsener) see the exact
  * labels the loop produced — the sink is a pure accounting move. */
class LouvainSinkSpec extends SparkSpec {

  test("sink_louvain_labels: read-back is bit-equal to the 16-round loop; one file per bucket") {
    val lab = queries.GraphOps.louvainLabels(spark, sf)
    val raw = queries.GraphOps.louvainSweepLoop(spark, sf)
    assert(lab.exceptAll(raw).isEmpty && raw.exceptAll(lab).isEmpty,
      "materialized label table diverges from the sweep loop")
    val out = engine.Registry.byName("sink_louvain_labels")
      .build(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getInt(3) == queries.GraphOps.louvainLabels.buckets),
      "part-file count != bucket count")
    // membership accounting closes: Σ n_nodes = |V|
    val nV = lab.count()
    assert(out.map(_.getLong(1)).sum == nV)
  }

  test("sweep rollup off the sink matches a direct rollup of the loop labels") {
    val raw = queries.GraphOps.louvainSweepLoop(spark, sf)
    val sweep = engine.Registry.byName("graph_louvain_sweep")
      .build(spark, sf).collect()
      .map(r => r.get(0).toString.toLong -> r.getLong(1)).toMap
    val want = raw.groupBy("nc")
      .agg(countDistinct(col("node")).as("n"))
      .collect().map(r => r.get(0).toString.toLong -> r.getLong(1)).toMap
    assert(sweep == want,
      "per-community node counts diverge between sink-fed sweep and raw loop")
  }

  test("sink_louvain_l2: read-back is bit-equal to the raw level-2 loop; one file per bucket") {
    val labc = queries.GraphOps.louvainL2Labels(spark, sf)
    val raw = queries.GraphOps.louvainL2Loop(spark, sf)
    assert(labc.exceptAll(raw).isEmpty && raw.exceptAll(labc).isEmpty,
      "materialized composed label table diverges from the level-2 loop")
    val out = engine.Registry.byName("sink_louvain_l2")
      .build(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getInt(5) == queries.GraphOps.louvainL2Labels.buckets),
      "part-file count != bucket count")
    // membership accounting closes on BOTH levels: Σ n_nodes = |labc|
    // and Σ n_l1 = |distinct level-1 comms in the contracted graph|
    assert(out.map(_.getLong(1)).sum == labc.count())
    assert(out.map(_.getLong(3)).sum ==
      labc.select("nc").distinct().count())
  }

  test("coarsen rollup off the l2 sink matches a direct rollup of the loop labels") {
    val raw = queries.GraphOps.louvainL2Loop(spark, sf)
    val co = engine.Registry.byName("graph_louvain_coarsen")
      .build(spark, sf).collect()
      .map(r => r.get(0).toString.toLong ->
        (r.getLong(1), r.getLong(2))).toMap
    val want = raw.groupBy("nc2")
      .agg(countDistinct(col("node")).as("n"),
        countDistinct(col("nc")).as("n1"))
      .collect().map(r => r.get(0).toString.toLong ->
        (r.getLong(1), r.getLong(2))).toMap
    // coarsen's rollup only reports communities with edges — every
    // reported (n_nodes, n_comms1) must match the loop's own counts
    co.foreach { case (comm, v) =>
      assert(want.get(comm).contains(v),
        s"community $comm diverges between sink-fed coarsen and raw loop")
    }
  }
}
