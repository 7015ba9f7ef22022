package graft

import org.apache.spark.sql.functions._
import graft.engine.Tables

/** Proofs for the r16 full-edge-list sink (the sink pattern applied
  * to the graph family's shared input): the hash gate covers the
  * checksum row cross-engine; these pin (1) the read-back is
  * bit-equal to the raw distinct+symmetrize chain and lands one file
  * per bucket, (2) graph_hits' decoded even-src half equals the raw
  * distinct (c, s) pair set it previously built itself — the sink is
  * a pure accounting move (BackboneSinkSpec's pattern). */
class EdgesSinkSpec extends SparkSpec {

  private def rawEdges = {
    val pairs = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"),
        (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    pairs.select(col("c").as("src"), col("s").as("dst"))
      .unionAll(pairs.select(col("s").as("src"), col("c").as("dst")))
  }

  test("sink_edges: read-back is bit-equal to the raw symmetrized distinct pair chain; one file per bucket; symmetric") {
    val t = queries.GraphOps.edgesTable(spark, sf)
    val raw = rawEdges
    assert(t.exceptAll(raw).isEmpty && raw.exceptAll(t).isEmpty,
      "materialized edge list diverges from the raw build")
    val out = engine.Registry.byName("sink_edges").build(spark, sf).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Int]("n_files") == queries.GraphOps.edgesTable.buckets,
      "part-file count != bucket count")
    assert(r.getAs[Boolean]("symmetric"),
      "src/dst checksum symmetry violated — a direction was dropped")
    assert(r.getAs[Long]("n_edges_directed") % 2 == 0L)
  }

  test("graph_hits' decoded even-src half equals the raw distinct (c, s) pair set") {
    val decoded = queries.GraphOps.edgesTable(spark, sf)
      .filter(col("src") % 2 === 0)
      .select(expr("src div 2").as("c"), expr("dst div 2").as("s"))
    val raw = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct()
    assert(decoded.exceptAll(raw).isEmpty && raw.exceptAll(decoded).isEmpty,
      "decoded even-src half diverges from the raw (c, s) distinct pairs")
  }
}
