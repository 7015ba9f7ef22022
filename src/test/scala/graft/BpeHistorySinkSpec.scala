package graft

import org.apache.spark.sql.functions._
import graft.engine.Tables

/** Proofs for the r15 BPE training-history sink: the hash gate covers
  * content cross-engine; these pin (1) the read-back is bit-equal to
  * a fresh run of the training loop (round by round), (2) the
  * derived merge table — the per-round window argmax over the
  * history — equals the loop's own driver-collected merge sequence,
  * so moving the argmax off the read path changed nothing. */
class BpeHistorySinkSpec extends SparkSpec {

  test("sink_bpe_history: read-back is bit-equal to a fresh training loop; one file per bucket") {
    val h = queries.CorpusOps.bpeHistory(spark, sf)
    // fresh loop replay (the pre-sink build, inlined)
    val wf = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("f"))
    val expected = scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.DataFrame]()
    def snap(df: org.apache.spark.sql.DataFrame, r: Int) = df
      .select(lit(r).as("round"), col("word"), col("sym"), col("f"))
    val (merges, _) = queries.CorpusOps.bpeTrain(wf,
      queries.CorpusOps.BpeTrainK,
      (r, sym) => expected += snap(sym, r))
    // the hook's round 0 is the character baseline, rounds 1..K follow
    assert(expected.length == queries.CorpusOps.BpeTrainK + 1)
    val base = snap(wf.select(col("word"),
      trim(regexp_replace(col("word"), "(.)", "$1 ")).as("sym"),
      col("f")), 0)
    assert(base.exceptAll(expected.head).isEmpty && expected.head.exceptAll(base).isEmpty,
      "round 0 is not the character baseline")
    val want = expected.reduce(_.unionByName(_))
    assert(h.exceptAll(want).isEmpty && want.exceptAll(h).isEmpty,
      "materialized history diverges from a fresh training loop")
    val gate = engine.Registry.byName("sink_bpe_history")
      .build(spark, sf).collect()
    assert(gate.length == queries.CorpusOps.BpeTrainK + 1)
    assert(gate.forall(_.getAs[Int]("n_files") ==
      queries.CorpusOps.bpeHistory.buckets), "part-file count != buckets")
    // the derived merge table equals the loop's driver-collected one
    val derived = engine.Registry.byName("tokenizer_train_k")
      .build(spark, sf).orderBy("round").collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[String]("pair"),
        r.getAs[String]("merged"), r.getAs[Long]("cnt")))
    assert(derived.toSeq == merges,
      "window-argmax merge table diverges from the loop's collects")
  }
}
