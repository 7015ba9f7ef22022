package graft

import org.apache.spark.sql.functions._
import graft.engine.Tables

/** Proofs for the three r16 pair-universe sinks (optimization round;
  * BackboneSinkSpec's pattern — the hash gates cover the checksum
  * rows cross-engine, these pin read-back bit-equality to the raw
  * chains so each sink is a pure accounting move). */
class PairUniverseSinkSpec extends SparkSpec {

  test("sink_shingle_pairs: read-back equals the raw df-capped xxhash64 pair chain; one file per bucket") {
    val t = queries.NearDup.shinglePairTable(spark, sf)
    val hs = queries.NearDup.shingleRows(Tables.documents(spark, sf))
      .distinct()
      .select(col("doc_id"), xxhash64(col("sh")).as("h"))
    val dfc = hs.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= queries.NearDup.ContainmentDfCap).select("h")
    val rare = hs.join(dfc, "h")
    val nr = rare.groupBy("doc_id").agg(count(lit(1)).as("n_rare"))
    val raw = rare.as("a")
      .join(rare.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("ni"))
      .join(nr.select(col("doc_id").as("id1"), col("n_rare").as("n1")), "id1")
      .join(nr.select(col("doc_id").as("id2"), col("n_rare").as("n2")), "id2")
      .select("id1", "id2", "ni", "n1", "n2")
    assert(t.exceptAll(raw).isEmpty && raw.exceptAll(t).isEmpty,
      "materialized shingle pair universe diverges from the raw chain")
    val out = engine.Registry.byName("sink_shingle_pairs")
      .build(spark, sf).collect()
    assert(out.length == 1 && out(0).getAs[Int]("n_files") ==
      queries.NearDup.shinglePairTable.buckets)
  }

  test("sink_portable_pairs: read-back equals the raw portable-basis truth chain") {
    val t = queries.NearDup.portablePairTable(spark, sf)
    val sh = queries.NearDup.portableShingles(Tables.documents(spark, sf))
    val okH = sh.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= queries.NearDup.MaxBucketDocs).select("h")
    val rare = sh.join(okH, "h")
    val cand = rare.as("a")
      .join(rare.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    val toks = sh.groupBy("doc_id")
      .agg(array_sort(collect_list(col("h"))).as("toks"))
    val raw = cand
      .join(toks.select(col("doc_id").as("id1"), col("toks").as("ta")), "id1")
      .join(toks.select(col("doc_id").as("id2"), col("toks").as("tb")), "id2")
      .select(col("id1"), col("id2"),
        graft.plans.SortedIntersectCount.count(col("ta"), col("tb")).as("ni"),
        size(col("ta")).cast("long").as("n1"),
        size(col("tb")).cast("long").as("n2"))
    assert(t.exceptAll(raw).isEmpty && raw.exceptAll(t).isEmpty,
      "materialized portable pair truth diverges from the raw chain")
  }

  test("sink_part_pairs: read-back equals the raw distinct within-order pair build; u < v everywhere") {
    val t = queries.GraphOps.partPairTable(spark, sf)
    val raw = Tables.lineitem(spark, sf).as("a")
      .join(Tables.lineitem(spark, sf).as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    assert(t.exceptAll(raw).isEmpty && raw.exceptAll(t).isEmpty,
      "materialized part pair list diverges from the raw self-join")
    assert(t.filter(col("u") >= col("v")).isEmpty,
      "u < v orientation invariant violated")
  }
}
