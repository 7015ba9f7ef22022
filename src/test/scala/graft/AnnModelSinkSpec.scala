package graft

import org.apache.spark.sql.functions._

/** Proofs for the r16 ANN build/serve split (VERDICT r15 #4): the
  * hash gates cover the verdict rows cross-engine; these pin (1) each
  * sink's read-back is bit-equal to its raw training build and lands
  * the pinned file count, (2) the serve paths see EXACTLY the model
  * the inline r15 chain would have trained — the sink is a pure
  * accounting move, not a semantic change. */
class AnnModelSinkSpec extends SparkSpec {

  test("sink_kmeans_model: read-back is bit-equal to the raw Lloyd history; pinned file count") {
    val m = queries.AnnKmeans.kmeansModel(spark, sf)
    val raw = queries.AnnKmeans.kmeansModelBuild(spark, sf)
    assert(m.exceptAll(raw).isEmpty && raw.exceptAll(m).isEmpty,
      "materialized k-means history diverges from the raw build")
    val out = engine.Registry.byName("sink_kmeans_model")
      .build(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4),
      s"gate booleans not all true: $r")
    assert(r.getInt(5) == queries.AnnKmeans.kmeansModel.buckets,
      "part-file count != bucket count")
  }

  test("ann_kmeans serve path: sinked final centroids equal a fresh train() run") {
    val m = queries.AnnKmeans.kmeansModel(spark, sf)
      .filter(col("iter") === 2)
      .select("cid", "cv", "cnorm2")
    val vecs = queries.AnnKmeans.quantized(spark, sf)
    val fresh = queries.AnnKmeans.train(vecs)
    assert(m.exceptAll(fresh).isEmpty && fresh.exceptAll(m).isEmpty,
      "stored final centroids diverge from an inline training run")
  }

  test("sink_pq_codebook: read-back is bit-equal to a fresh local train; pinned file count") {
    val b = queries.AnnPq.pqCodebook(spark, sf)
    val vecs = queries.AnnKmeans.quantized(spark, sf)
    val raw = queries.AnnPq.trainLocalBooks(spark, queries.AnnPq.subvecs(vecs))
    assert(b.exceptAll(raw).isEmpty && raw.exceptAll(b).isEmpty,
      "materialized PQ codebook diverges from the local trainer")
    val out = engine.Registry.byName("sink_pq_codebook")
      .build(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getBoolean(2) && r.getBoolean(3),
      s"gate booleans not all true: $r")
    assert(r.getInt(4) == queries.AnnPq.pqCodebook.buckets,
      "part-file count != bucket count")
  }

  test("ann_kmeans / ann_pq verdict rows stay all-true off the sinks") {
    val km = engine.Registry.byName("ann_kmeans").build(spark, sf).collect()
    assert(km.length == 1 && (1 to 4).forall(km.head.getBoolean),
      s"ann_kmeans verdict regressed: ${km.head}")
    val pq = engine.Registry.byName("ann_pq").build(spark, sf).collect()
    assert(pq.length == 1 && (1 to 3).forall(pq.head.getBoolean),
      s"ann_pq verdict regressed: ${pq.head}")
  }
}
