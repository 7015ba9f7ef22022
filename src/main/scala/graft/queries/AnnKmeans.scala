package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{QueryDef, QueryGroup, Tables, Vec}
import graft.plans.LongArrayDot

/** IVF with LEARNED centroids — Lloyd's k-means over the quantized
  * embedding corpus, run entirely in EXACT integer arithmetic so that
  * every assignment, centroid, and WCSS value is a pure function of
  * the data (no float-summation order, no RNG):
  *
  *   - vectors are the shared 2^20 quantization ([[Vec.quantize]]);
  *   - distances compare as BIGINTs: ‖x−c‖² = ‖x‖² − 2⟨x,c⟩ + ‖c‖²
  *     with the dot product on the codegen'd [[LongArrayDot]];
  *   - centroid updates are integer division of exact per-component
  *     sums (`sum div count` — truncation toward zero) — associative
  *     partials, deterministic on any partition layout;
  *   - seeding is the first K vectors (vec_id 0..K−1), argmin ties
  *     break to the lowest centroid id.
  *
  * This complements [[AnnIvf]]'s derandomized SRP quantizer: SRP
  * buckets are data-independent (no training pass, stable under
  * corpus growth), k-means cells adapt to the data distribution
  * (tighter candidate lists for clustered corpora — the testdata
  * embeddings cluster by `label`). Both feed the same exact
  * quantized-cosine top-k; ann_topk stays the exact-recall baseline.
  *
  * Declared as the usual sketch-style verdict row (SURVEY §2.0): the
  * k-means internals are not DuckDB-expressible, so the query emits
  * the exact corpus count the oracle recomputes plus invariant
  * booleans — WCSS non-increasing over the Lloyd iterations,
  * assignment determinism (exact arithmetic makes a re-evaluation
  * bit-identical), every cluster non-empty, and multi-probe recall
  * vs the brute-force exact top-k above a floor — all TRUE for a
  * correct implementation on ANY partition layout.
  */
object AnnKmeans extends QueryGroup {

  val K = 8
  val Iters = 2
  val TopK = 3

  /** (vec_id, qv, norm2) for the whole corpus. */
  def quantized(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Vec.quantize(col("embedding")).as("qv"))
      .withColumn("norm2", Vec.norm2(col("qv")))

  /** Seed centroids: the first K vectors, ids 0..K−1. */
  def seed(vecs: DataFrame): DataFrame =
    vecs.filter(col("vec_id") < K)
      .select(col("vec_id").cast("int").as("cid"), col("qv").as("cv"),
        col("norm2").as("cnorm2"))

  /** Assign every vector to its nearest centroid (exact integer
    * distance, ties to the lowest cid). The centroid side is K rows —
    * a bounded broadcast nested loop BY DESIGN (like ann_topk's query
    * set), never a growing side. Emits (vec_id, cid, dist). */
  def assign(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .withColumn("dist",
        col("norm2") - lit(2L) * LongArrayDot.dot(col("qv"), col("cv")) +
          col("cnorm2"))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("cid"))).as("b"))
      .select(col("vec_id"), col("b.cid").as("cid"), col("b.dist").as("dist"))

  /** Lloyd update: per-(cluster, component) exact integer mean
    * (`sum div count`, truncating toward zero), rebuilt into centroid
    * arrays. The aggregate output is K×dims rows — constant-size
    * regardless of corpus. NOTE: integer-rounded centroids mean the
    * textbook Lloyd monotonicity is not a theorem here (the rounded
    * centroid can sit farther from the true mean than its
    * predecessor); the wcss_improved verdict and the spec's per-step
    * assertions are MEASURED properties of this corpus, with a wide
    * margin (seed WCSS is far from converged). */
  def update(vecs: DataFrame, asg: DataFrame): DataFrame =
    vecs.join(asg.select("vec_id", "cid"), "vec_id")
      .select(col("cid"), posexplode(col("qv")).as(Seq("i", "v")))
      .groupBy("cid", "i")
      .agg(expr("sum(v) div count(*)").as("cv_i"))
      .groupBy("cid")
      .agg(array_sort(collect_list(struct(col("i"), col("cv_i")))).as("l"))
      .select(col("cid"),
        transform(col("l"), x => x.getField("cv_i")).as("cv"))
      .withColumn("cnorm2", Vec.norm2(col("cv")))

  /** Run `iters` Lloyd rounds from the deterministic seed; returns the
    * final centroids. */
  def train(vecs: DataFrame, iters: Int = Iters): DataFrame =
    (1 to iters).foldLeft(seed(vecs)) { (cents, _) =>
      update(vecs, assign(vecs, cents))
    }

  /** The Lloyd TRAINING HISTORY (iter 0..Iters, cid, centroid array,
    * cnorm2, per-cell assignment count + WCSS) materialized ONCE per
    * (session, sf) — r16, VERDICT r15 "next" #4: ann_kmeans re-ran
    * the full training chain per invocation (3 assignment passes +
    * 2 posexplode centroid updates — ~12 sequential driver-scheduled
    * stages, 2.81 s in the r15 ledger) although the model is a pure
    * function of (session, corpus). The FAISS build-vs-serve shape:
    * the index BUILDS once (this sink), and the declared query is
    * the serve path — one assignment pass + the recall probes
    * against the stored centroids. iter 0 is the seed with its
    * assignment's stats; per-cell WCSS sums are exact BIGINTs, so
    * Σ wcss_c over an iter IS the iter's total WCSS bit-for-bit.
    * 3 iters × K rows in 1 bucket. */
  val kmeansModel = Sink("sink_kmeans_model", 1, "iter",
    Seq("iter", "cid"))(kmeansModelBuild)

  /** The raw training-history build (pre-sink) — the exact r15
    * ann_kmeans Lloyd chain, with each iter's centroids LEFT-joined
    * to that iter's per-cell assignment stats (an empty cell keeps
    * its centroid row with n_vec = 0). */
  private[graft] def kmeansModelBuild(spark: SparkSession,
      sf: String): DataFrame = {
    val vecs = quantized(spark, sf).localCheckpoint(false)
    val c0 = seed(vecs).localCheckpoint(false)
    val a0 = assign(vecs, c0).localCheckpoint(false)
    val c1 = update(vecs, a0).localCheckpoint(false)
    val a1 = assign(vecs, c1).localCheckpoint(false)
    val c2 = update(vecs, a1).localCheckpoint(false)
    val a2 = assign(vecs, c2).localCheckpoint(false)
    def stats(a: DataFrame) = a.groupBy("cid")
      .agg(count(lit(1)).as("n_vec"), sum(col("dist")).as("wcss_c"))
    def lvl(i: Int, c: DataFrame, a: DataFrame) =
      c.join(stats(a), Seq("cid"), "left")
        .select(lit(i).as("iter"), col("cid"), col("cv"), col("cnorm2"),
          coalesce(col("n_vec"), lit(0L)).as("n_vec"),
          coalesce(col("wcss_c"), lit(0L)).as("wcss_c"))
    lvl(0, c0, a0).unionByName(lvl(1, c1, a1)).unionByName(lvl(2, c2, a2))
  }

  /** Multi-probe IVF top-k: each query searches its `nprobe` nearest
    * cells (the standard IVF recall dial — probe-1 on a near-uniform
    * corpus loses neighbours across cell boundaries; probing the
    * next-nearest centroid recovers most of them for 2× candidate
    * work, still |corpus|·nprobe/K per query). */
  def topkInCell(vecs: DataFrame, cents: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int = 2, asgOpt: Option[DataFrame] = None): DataFrame = {
    val asg = asgOpt.getOrElse(assign(vecs, cents))
    val cand = vecs.join(asg.select("vec_id", "cid"), "vec_id")
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col("cid").asc)
    val q = queries
      .select(col("vec_id").as("query_id"), col("qv").as("qq"),
        col("norm2").as("qn"))
      .crossJoin(broadcast(cents))
      .withColumn("dist",
        col("qn") - lit(2L) * LongArrayDot.dot(col("qq"), col("cv")) +
          col("cnorm2"))
      .withColumn("prk", row_number().over(wProbe))
      .filter(col("prk") <= nprobe)
      .select(col("query_id"), col("qq"), col("qn"), col("cid").as("qcid"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    broadcast(q).join(cand, col("qcid") === col("cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos", Vec.cosine(LongArrayDot.dot(col("qq"), col("qv")),
        col("qn"), col("norm2")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "vec_id", "rk")
  }

  /** Brute-force exact top-k for the same fixed query set — the
    * recall ground truth (ann_topk's shape). */
  def topkExact(vecs: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("qv").as("qq"),
      col("norm2").as("qn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    broadcast(q).join(vecs, col("query_id") =!= col("vec_id"))
      .withColumn("cos", Vec.cosine(LongArrayDot.dot(col("qq"), col("qv")),
        col("qn"), col("norm2")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "vec_id")
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef(
      "ann_kmeans",
      // r16 PRE-ADJUDICATED INTENTIONAL PLAN CHANGE (VERDICT r15
      // "next" #4 — FAISS build-vs-serve): the Lloyd chain (3
      // assignment passes + 2 posexplode updates, ~12 sequential
      // stages and the whole 2.81 s r15 ledger entry) now builds
      // ONCE per session in the sink_kmeans_model sink; the declared
      // query is the SERVE path — read the stored model, run ONE
      // final-centroid assignment pass, and probe determinism +
      // recall against it. The output row is identical by
      // construction: the sinked per-cell WCSS sums are the same
      // exact BIGINTs the inline chain summed, and the hash gate
      // proves it every round.
      (spark, sf) => {
        val model = kmeansModel(spark, sf)
        val c2 = model.filter(col("iter") === 2)
          .select(col("cid"), col("cv"), col("cnorm2"))
        val vecs = quantized(spark, sf).localCheckpoint(false)
        val a2 = assign(vecs, c2).localCheckpoint(false)
        val wcss0 = model.filter(col("iter") === 0)
          .agg(sum(col("wcss_c")).as("w0"))
        val wcss2 = model.filter(col("iter") === 2)
          .agg(sum(col("wcss_c")).as("w2"))
        // determinism: a second evaluation of the same exact-integer
        // assignment must produce the identical set
        val a2b = assign(vecs, c2)
        val det = a2.select("vec_id", "cid")
          .exceptAll(a2b.select("vec_id", "cid"))
          .agg(count(lit(1)).as("n_diff")).select(col("n_diff"))
        val nonEmpty = a2.select("cid").distinct()
          .agg(count(lit(1)).as("n_cells")).select(col("n_cells"))
        // multi-probe (nprobe=3 of 8 cells) recall vs exact top-3
        // over the fixed 100-query set; measured 213/300 at sf0.001,
        // 192/300 at sf0.01 — the 150 floor has ~30% headroom.
        // nprobe=1 measures only ~110/300 on this near-uniform
        // corpus: do NOT lower the probe count without re-measuring
        val queries = vecs.filter(col("vec_id") < 100)
        val ivf = topkInCell(vecs, c2, queries, TopK, nprobe = 3,
          asgOpt = Some(a2))
        val exact = topkExact(vecs, queries, TopK)
        val recall = exact.join(ivf, Seq("query_id", "vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits")).select(col("hits"))
        val n = vecs.agg(count(lit(1)).as("n_vectors"))
        n.crossJoin(broadcast(wcss0)).crossJoin(broadcast(wcss2))
          .crossJoin(broadcast(det)).crossJoin(broadcast(nonEmpty))
          .crossJoin(broadcast(recall))
          .select(col("n_vectors"),
            (col("w2") <= col("w0")).as("wcss_improved"),
            (col("n_diff") === 0).as("assign_deterministic"),
            (col("n_cells") === K).as("all_cells_used"),
            // 100 queries × top-3 = 300 truth pairs; the nprobe=3
            // measurements above give the 150 floor ~30% headroom
            (col("hits") >= 150L).as("recall_ge_half"))
      },
      Some("SELECT count(*) AS n_vectors, TRUE AS wcss_improved, TRUE AS assign_deterministic, TRUE AS all_cells_used, TRUE AS recall_ge_half FROM embeddings"),
      scaleNote = "Training cost per Lloyd round is one broadcast-K nested loop over the corpus (K rows — bounded, like ann_topk's fixed query set) plus a K×dims-row aggregate: linear in vectors, constant-size model state, no iteration-to-iteration growth (each round's centroids are a fresh K-row broadcast) — and the whole chain is a pure function of (corpus version), so it builds ONCE per session in the sink_kmeans_model sink; the declared query prices only the serve path (one assignment pass + the probes). At 100 TB train on a uniform SAMPLE (the assignment plan is unchanged), then one final full-corpus assignment pass partitions the data BY cell — after which every query touches one cell (|corpus|/K candidates), and the probe dial is nearest-m-centroids instead of one. The exact-integer arithmetic means re-training on a re-partitioned corpus reproduces identical cells — a reproducibility property float k-means cannot offer. The brute-force recall baseline exists ONLY to oracle the verdict at test scale."),

    // The k-means MODEL SINK as a declared operator (r16, VERDICT
    // r15 "next" #4 — the session-sink gate pattern on the vector
    // family's first trainable artifact): one row per (iter, cid)
    // with the centroid array, its norm, and that iter's per-cell
    // assignment count + exact WCSS. k-means is not DuckDB-
    // expressible, so the gate follows the family's verdict-row
    // style: the corpus count anchors cross-engine, and the
    // layout-independent invariants (assignment mass conserved
    // across iters, WCSS non-increasing seed→final, all K cells
    // alive at the final iter, part-file count == the pinned bucket
    // literal) are booleans a correct build makes TRUE on any
    // partition layout.
    kmeansModel.query(
      // per-iter stats first, then the verdict over the iters
      _.groupBy("iter")
        .agg(sum(col("n_vec")).as("nv"), sum(col("wcss_c")).as("w"),
          sum(when(col("n_vec") > 0, 1).otherwise(0)).as("live"))
        .agg(max(when(col("iter") === 2, col("nv"))).as("nv2"),
          min(col("nv")).as("nvmin"), max(col("nv")).as("nvmax"),
          max(when(col("iter") === 0, col("w"))).as("w0"),
          max(when(col("iter") === 2, col("w"))).as("w2"),
          max(when(col("iter") === 2, col("live"))).as("live2"),
          count(lit(1)).as("n_iters"))
        .select(col("nv2").as("n_vectors"), col("n_iters"),
          (col("nvmin") === col("nvmax")).as("assigned_closed"),
          (col("w2") <= col("w0")).as("wcss_nonincreasing"),
          (col("live2") === K).as("cells_live")),
      "SELECT count(*) AS n_vectors, 3 AS n_iters, TRUE AS assigned_closed, TRUE AS wcss_nonincreasing, TRUE AS cells_live, " +
        s"${kmeansModel.nFiles} FROM embeddings",
      scaleNote = "The sink is the FAISS index-build artifact: the " +
        "Lloyd chain (per round one broadcast-K nested loop + one " +
        "K×dims aggregate — corpus-linear, constant model state) " +
        "runs once per corpus version, and every serve-path " +
        "invocation reads 3×K tiny rows instead of re-training. At " +
        "100 TB the build trains on a bounded uniform sample and " +
        "the stored model versions alongside the corpus manifest " +
        "(sink_versioned's shape) — re-assignment against a stored " +
        "model is reproducible bit-for-bit because every centroid " +
        "is an exact integer vector; the per-iter WCSS column makes " +
        "convergence auditable from the artifact alone, and the " +
        "mass-conservation + liveness booleans turn a partial or " +
        "collapsed training run into a loud gate failure."))
}
