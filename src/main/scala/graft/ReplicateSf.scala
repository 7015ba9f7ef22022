package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.LocalSession

/** Builds a K× replica of a driver scale factor for SCALING
  * measurements ONLY (correctness oracles always run on the driver's
  * own parquet — this data never feeds `Verify`).
  *
  * Replication rules keep each copy internally consistent and keep
  * workload SHAPE realistic:
  *  - every replicated key column is offset by copy·span where span is
  *    the PARENT key domain (customer's for o_custkey, orders' for
  *    l_orderkey, the shared doc/vec domain for doc_id/vec_id), so FK
  *    joins resolve within a copy at unchanged selectivity; FKs into
  *    non-replicated dims (l_partkey, l_suppkey) are left unshifted;
  *  - document text is deterministically re-ordered per (copy, doc):
  *    tokens sorted by xxhash64(token, copy, doc_id) — a PER-DOC
  *    permutation. The token multiset (length, vocabulary, quality
  *    stats) is preserved, but 3-gram shingle sets are randomized
  *    per doc. Per-copy-only ordering was measured and rejected: one
  *    shared sort key per copy puts every doc's shared vocabulary in
  *    the same relative order, making EVERYTHING a shingle-near-dup
  *    of everything (3.4M pairs at 10×) — the per-doc key keeps the
  *    near-dup density realistic. Without any reshuffle every doc
  *    would gain K−1 exact near-duplicates instead;
  *  - timestamps are kept, so the event timeline densifies (more
  *    events per hour) instead of stretching — the realistic direction
  *    for a busier network.
  */
object ReplicateSf {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = LocalSession()

    // every shifted column carries an EXPLICIT span, and an FK's span
    // comes from its PARENT's key domain — a per-table max would
    // misalign FKs across copies (o_custkey shifted by max(o_custkey)+1
    // only resolves against c_custkey shifted by max(c_custkey)+1 when
    // the two maxes coincide), silently diluting fact-dim join
    // selectivity ~1/K in the replica timings
    def replicate(df: DataFrame, shifts: Seq[(String, Long)],
        perturb: (DataFrame, org.apache.spark.sql.Column) => DataFrame =
          (d, _) => d): DataFrame = {
      val c = explode(array((0 until copies).map(lit): _*)).as("_copy")
      val wide = df.select(col("*"), c)
      val shifted = shifts.foldLeft(wide) { case (d, (k, span)) =>
        d.withColumn(k, col(k) + col("_copy") * span)
      }
      perturb(shifted, col("_copy")).drop("_copy")
    }
    def span(df: DataFrame, k: String): Long =
      df.agg(max(col(k))).collect()(0).getLong(0) + 1L

    // dims stay fixed (region/nation/supplier/part are genuinely
    // dimension-sized at any scale) — so l_partkey/l_suppkey stay
    // UNSHIFTED: shifting them would point copies >= 1 at nonexistent
    // dim keys; facts and corpus tables replicate
    val orders = spark.read.parquet(s"$src/orders.parquet")
    val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
    val customer = spark.read.parquet(s"$src/customer.parquet")
    val events = spark.read.parquet(s"$src/events.parquet")
    val documents = spark.read.parquet(s"$src/documents.parquet")
    val embeddings = spark.read.parquet(s"$src/embeddings.parquet")

    val custSpan = span(customer, "c_custkey")
    val orderSpan = span(orders, "o_orderkey")
    // doc_id and vec_id equi-join in multimodal_join: one shared span
    val docSpan = math.max(span(documents, "doc_id"),
      span(embeddings, "vec_id"))

    replicate(customer, Seq("c_custkey" -> custSpan))
      .write.mode("overwrite").parquet(s"$dst/customer.parquet")
    replicate(orders, Seq("o_orderkey" -> orderSpan,
        "o_custkey" -> custSpan))
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")
    replicate(lineitem, Seq("l_orderkey" -> orderSpan))
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    replicate(events, Seq("event_id" -> span(events, "event_id"),
        "user_id" -> span(events, "user_id")))
      .write.mode("overwrite").parquet(s"$dst/events.parquet")
    replicate(documents, Seq("doc_id" -> docSpan), (d, copy) =>
      d.withColumn("text", concat_ws(" ", array_sort(
        transform(split(col("text"), " "),
          t => struct(xxhash64(t, copy, col("doc_id")).as("h"), t.as("t"))))
        .getField("t"))))
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    // per-(copy, vec) dimension permutation: value multiset (norms,
    // quantization behavior) preserved, cross-copy cosine decorrelated
    // — without it every vector has K−1 exact clones and cosine-pair
    // outputs inflate quadratically in K
    replicate(embeddings, Seq("vec_id" -> docSpan), (d, _) =>
      d.withColumn("embedding", array_sort(
        transform(col("embedding"),
          (x, i) => struct(xxhash64(col("_copy"), col("vec_id"), i).as("h"),
            x.as("x"))))
        .getField("x")))
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    // small dims copied as-is
    for (t <- Seq("region", "nation", "supplier", "part"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    println(s"REPLICATED $copies x $src -> $dst")
    spark.stop()
  }
}
