package graft

import org.apache.spark.sql.functions._
import graft.engine.Tables

/** Proofs for the r15 strongest-pair backbone sink (VERDICT r14 #3):
  * the hash gate covers content cross-engine; these pin (1) the
  * read-back is bit-equal to the raw co-purchase rollup + top-500
  * cut and lands one file per bucket, (2) the divisive consumers
  * see the exact edge set the rollup produced — the sink is a pure
  * accounting move (the LouvainSinkSpec pattern). */
class BackboneSinkSpec extends SparkSpec {

  private def rawBackbone = Tables.lineitem(spark, sf)
    .join(Tables.orders(spark, sf),
      col("l_orderkey") === col("o_orderkey"))
    .groupBy((col("o_custkey") * 2).as("c"),
      (col("l_suppkey") * 2 + 1).as("s"))
    .agg(count(lit(1)).as("m"))
    .orderBy(col("m").desc, col("c").asc, col("s").asc)
    .limit(500)

  test("sink_backbone: read-back is bit-equal to the raw top-500 rollup; one file per bucket") {
    val bb = queries.GraphOps.backboneTable(spark, sf)
    val raw = rawBackbone
    assert(bb.exceptAll(raw).isEmpty && raw.exceptAll(bb).isEmpty,
      "materialized backbone diverges from the raw rollup")
    val out = engine.Registry.byName("sink_backbone")
      .build(spark, sf).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Int]("n_files") == queries.GraphOps.backboneTable.buckets,
      "part-file count != bucket count")
    // the cut is exactly min(500, |pairs|) rows and every weight is
    // at least the max weight OUTSIDE the cut (the top-k property
    // under the (m desc, c, s) total order)
    val nPairs = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"),
        (col("l_suppkey") * 2 + 1).as("s"))
      .distinct().count()
    assert(r.getAs[Long]("n_edges") == math.min(500L, nPairs))
    assert(r.getAs[Long]("m_min") >= 1L &&
      r.getAs[Long]("m_max") >= r.getAs[Long]("m_min"))
  }

  test("sink_backbone is rebuilt, same rows and one file per bucket, after its directory is deleted mid-session") {
    val sink = queries.GraphOps.backboneTable
    def rows = sink(spark, sf).orderBy("c", "s").collect().toSeq
    val before = rows
    val dir = new org.apache.hadoop.fs.Path(sink.dir(spark, sf))
    assert(dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(dir, true), s"$dir was not there to delete")
    assert(sink.partFiles(spark, sf) == 0)
    assert(rows == before, "rebuilt sink rows differ")
    assert(sink.partFiles(spark, sf) == sink.buckets,
      "part-file count != bucket count after the rebuild")
  }

  test("graph_components off the sink matches a direct derivation from the raw rollup") {
    val viaSink = engine.Registry.byName("graph_components")
      .build(spark, sf)
    val direct = graft.queries.NearDup.resolveEdges(
        rawBackbone.select(col("c").as("u"), col("s").as("v")))
      .select(
        when(col("doc_id") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("node_type"),
        expr("doc_id div 2").as("key"),
        col("cluster_id"), col("is_canonical"))
    assert(viaSink.exceptAll(direct).isEmpty &&
      direct.exceptAll(viaSink).isEmpty,
      "components labels diverge between sink-fed and raw-rollup paths")
  }
}
