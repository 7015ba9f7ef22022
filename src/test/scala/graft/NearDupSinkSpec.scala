package graft

import org.apache.spark.sql.functions._

/** Proofs for the r16 near-dup pair-table sink (the session-sink
  * pattern's widest application — ten consumers): the hash gates
  * prove content cross-engine; these pin (1) the read-back is
  * bit-equal to the raw candidate chain and lands the pinned file
  * count, (2) the cluster resolvers see EXACTLY the pairs the chain
  * produced — the sink is a pure accounting move. */
class NearDupSinkSpec extends SparkSpec {

  test("sink_neardup_pairs: read-back is bit-equal to the raw chain; pinned file count") {
    val p = queries.NearDup.corpusPairs(spark, sf)
    val raw = queries.NearDup.nearDupPairs(
      engine.Tables.documents(spark, sf), 0.5)
    assert(p.exceptAll(raw).isEmpty && raw.exceptAll(p).isEmpty,
      "materialized pair table diverges from the candidate chain")
    val out = engine.Registry.byName("sink_neardup_pairs")
      .build(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getInt(4) == queries.NearDup.corpusPairs.buckets,
      "part-file count != bucket count")
    // pair mass closes: n_pairs equals the raw chain's count
    assert(r.getLong(0) == raw.count())
  }

  test("cluster resolution off the sink matches a from-scratch resolution") {
    val fromSink = queries.NearDup.corpusClusters(spark, sf)
    val scratch = queries.NearDup.clustersAuto(
      engine.Tables.documents(spark, sf), 0.5)
    assert(fromSink.exceptAll(scratch).isEmpty &&
      scratch.exceptAll(fromSink).isEmpty,
      "sink-fed components diverge from the from-scratch fixpoint")
    // and the propagation path agrees with the star path off the
    // same sinked pairs (the two resolvers' standing cross-proof,
    // now sharing one pair build)
    val prop = queries.NearDup.clustersFromPairs(
      queries.NearDup.corpusPairs(spark, sf))
    assert(prop.exceptAll(fromSink).isEmpty &&
      fromSink.exceptAll(prop).isEmpty,
      "propagation and star fixpoints diverge off the sinked pairs")
  }
}
