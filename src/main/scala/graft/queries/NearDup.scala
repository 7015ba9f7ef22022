package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{QueryDef, QueryGroup, Tables}

/** Near-duplicate detection via banded MinHash-LSH — SURVEY.md §2.1
  * #58, the LLM-corpus dedup north star.
  *
  * Pipeline (all distributed, no all-pairs step):
  *   1. word 3-gram shingle set per doc (unigram sets degenerate on a
  *      small vocabulary — every doc covers most of it — while 3-gram
  *      shingles isolate true sequence-level near-duplicates);
  *   2. K=64 MinHash values per doc via a derandomized universal hash
  *      family h_i(t) = (a_i·x + b_i) mod P over x = xxhash64(t) mod P
  *      — shingle rows hashed once in codegen, then 64 map-side-combined
  *      min aggregates;
  *   3. banding: B=32 bands of R=2 rows; band key = hash(band index,
  *      minhash pair). P(candidate | jaccard s) = 1 − (1 − s²)³²:
  *      ≈ 0.9999 at s=0.5, ≈ 0.27 at s=0.1 — tuned for τ=0.5;
  *   4. equi-self-join on band key → candidate pairs (distinct);
  *   5. exact Jaccard verify within candidates, keep ≥ τ.
  *
  * Hash-oracled in DuckDB (new r4): the minhashes themselves are not
  * reproducible there (xxhash64), but the OUTPUT is — the oracle
  * computes the exact 3-gram-shingle Jaccard pair set with a sparse
  * shingle self-join (only pairs sharing a shingle are enumerated,
  * never all pairs), and on the planted corpus (every true pair has
  * jac ≥ 0.9, band-miss probability (1−s²)³² ≈ 1e-23) the LSH found
  * set equals the truth set exactly, so the hash compare is also a
  * recall/precision-1.0 assertion. NearDupSpec keeps the planted-pair
  * and recall invariants as targeted tests.
  */
object NearDup extends QueryGroup {

  val P: Long = 1000000007L
  val NumHashes = 64
  val Rows = 2 // minhashes per band
  val Bands: Int = NumHashes / Rows

  /** The VERIFIED τ=0.5 near-dup PAIR TABLE (id1 < id2, jac) over
    * the documents corpus, materialized ONCE per (session, sf) via
    * the session-sink path — r16, the sixth application of the
    * pattern and the widest: TEN declared keys re-derived this table
    * per invocation (dedup_near, both cluster resolvers + the five
    * policy/rollup consumers, the incremental delta, simhash_near's
    * truth side, and the two pipeline compositions), each paying the
    * full shingle-scan → 64-minhash → band-join → exact-verify
    * chain. The pair table is a pure function of (corpus version,
    * τ) — exactly the artifact a production dedup pipeline persists
    * between its candidate-generation and policy stages. Bucketed by
    * id1 so cluster resolvers and policy rollups read co-located
    * pairs. */
  val corpusPairs = Sink("sink_neardup_pairs", 4, "id1",
      Seq("id1", "id2")) { (spark, sf) =>
    nearDupPairs(Tables.documents(spark, sf), 0.5)
  }

  /** Size-adaptive cluster resolution over the sinked corpus pair
    * table — the (docs, τ=0.5) [[clustersAuto]] call every
    * corpus-level consumer previously made, now a bucketed read +
    * fixpoint with the candidate chain amortized across the
    * session. */
  def corpusClusters(spark: SparkSession, sf: String): DataFrame =
    resolveEdges(corpusPairs(spark, sf)
      .select(col("id1").as("u"), col("id2").as("v"))
      .localCheckpoint(false))

  /** Band-bucket membership cap. A band signature shared by MORE than
    * this many documents identifies a corpus-common pattern, not
    * similarity — and its within-bucket pair expansion is quadratic.
    * Dropping oversized buckets is the standard LSH densification
    * guard: a true near-dup pair (jaccard ≥ 0.5) collides in ~8 of 32
    * bands in expectation, so losing its hot bands leaves plenty of
    * discriminative ones (NearDupSpec's planted-pair recall tests
    * stay green). Measured on the 10× replica (SCALING.md): without
    * the cap 1 491 hot buckets (max 3 758 docs) generate 61.6M
    * candidate pairs and dedup_near takes 53 s; with it, candidates
    * stay near-linear. At sf0.01/sf0.1 NO bucket exceeds the cap
    * (max 5 / 15), so the declared oracle output is bit-identical
    * with or without it. */
  val MaxBucketDocs = 64

  /** Derandomized affine family: a_i odd, b_i pseudo-random, fixed. */
  def coefA(i: Int): Long = 2L * i + 1
  def coefB(i: Int): Long = (104729L * i + 12345L) % P

  /** Gate-portable hashed word-3-gram shingle SET (doc_id, h) — the
    * rolling token encode dedup_minhash_accuracy introduced (DuckDB
    * cannot evaluate xxhash64; estimator error is a property of the
    * derived family, not the base hash), factored so
    * dedup_simhash_accuracy measures ITS bit family over the same
    * shingles and candidate universe. */
  def portableShingles(docs: DataFrame): DataFrame = {
    def enc(c: org.apache.spark.sql.Column) =
      length(c).cast("long") * 65536L + ascii(c).cast("long") * 256L +
        ascii(substring(c, -1, 1)).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .withColumn("t1", lead(col("tok"), 1).over(w))
      .withColumn("t2", lead(col("tok"), 2).over(w))
      .filter(col("t2").isNotNull)
      .select(col("doc_id"),
        pmod((enc(col("tok")) * 31 + enc(col("t1"))) * 31 + enc(col("t2")),
          lit(P)).as("h"))
      .distinct()
  }

  /** The same portable shingle set as DuckDB CTEs ending in
    * `s (doc_id, h)`. */
  val PortableShingleSql: String = {
    val encSql = (t: String) =>
      s"(length($t)*65536 + ascii($t)*256 + ascii(right($t,1)))"
    "w0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
      "t AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1), i -> " +
      s"((${encSql("w[i]")}*31 + ${encSql("w[i+1]")})*31 + ${encSql("w[i+2]")}) % $P)) AS hs FROM w0), " +
      "s AS (SELECT doc_id, unnest(hs) AS h FROM t)"
  }

  /** Per-document MinHash signature via explode + codegen'd min aggs.
    *
    * Two array-HOF formulations were benchmarked first and rejected:
    * per-permutation `array_min(transform(base, ...))` (23.6 s at
    * sf0.1 — projection collapse re-inlines the base hash 64×) and a
    * single-pass zip_with fold (25.8 s — higher-order functions are
    * interpreted, 320M lambda calls each allocating arrays). Exploding
    * shingles to rows instead keeps everything in WholeStageCodegen:
    * one xxhash64 per shingle row, 64 fused affine-mod scalars, and a
    * 2-phase min aggregate whose map-side partials collapse each doc
    * to one 64-column row before the shuffle. Duplicate shingles need
    * no dedup — they cannot change a min.
    */
  def minhashSignature(shRows: DataFrame): DataFrame =
    shRows
      .withColumn("h", pmod(xxhash64(col("sh")), lit(P)))
      .groupBy("doc_id")
      .agg(
        min(pmod(lit(coefA(0)) * col("h") + lit(coefB(0)), lit(P))).as("m0"),
        (1 until NumHashes).map(i =>
          min(pmod(lit(coefA(i)) * col("h") + lit(coefB(i)), lit(P))).as(s"m$i")): _*)

  /** Word 3-gram shingles as ROWS (doc_id, sh).
    *
    * An array-HOF shingle builder (transform over sequence + element_at)
    * measured ~5-6 s per evaluation at sf0.1 — higher-order functions
    * are interpreted per element. posexplode + two lead() windows keep
    * shingle construction fully inside WholeStageCodegen after one
    * shuffle on doc_id; docs with <3 tokens yield no rows.
    */
  def shingleRows(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .withColumn("t1", lead(col("tok"), 1).over(w))
      .withColumn("t2", lead(col("tok"), 2).over(w))
      .filter(col("t2").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", col("tok"), col("t1"), col("t2")).as("sh"))
  }

  /** Candidate near-duplicate pairs with verified Jaccard ≥ tau.
    *
    * Candidate generation is a band-key SELF-JOIN here, while SimHash
    * uses bucket-collect + pair expansion — both were measured: the
    * self-join evaluates the upstream pipeline once per side but wins
    * when that pipeline is cheap and buckets are sparse singletons
    * (32 bands × minhash pairs rarely collide: 1.9 s vs 2.2 s at
    * sf0.1); collect+expand wins when the upstream aggregation
    * dominates (SimHash's 64-vote pass: 1.8 s vs 2.6 s). */
  def nearDupPairs(docs: DataFrame, tau: Double,
      shPre: Option[DataFrame] = None): DataFrame = {
    // a caller that already materialized the (doc_id, sh) table may
    // inject it (corpus_pipeline shares ONE checkpointed shingle scan
    // between the cluster pass and decontamination); minhash minima
    // and collect_set are set-semantics, so a DISTINCT table is
    // interchangeable with the raw one here
    val shRows = shPre.getOrElse(shingleRows(docs))
    // separate aggregations on purpose: fusing collect_set with the 64
    // mins forces the whole pass into ObjectHashAggregate (no codegen)
    // — measured 11.8 s vs 9.2 s split. Verify sets carry 8-byte
    // shingle hashes (raw xxhash64, collision odds ~2^-64), sorted once
    // so the verify join merge-counts instead of hashing per pair.
    val toks = shRows.groupBy("doc_id")
      .agg(array_sort(collect_set(xxhash64(col("sh")))).as("toks"))
    val sig = minhashSignature(shRows)
    // band keys: hash(band index, the R minhashes of the band)
    val banded0 = sig.select(
      col("doc_id"),
      explode(array((0 until Bands).map { j =>
        xxhash64(lit(j), col(s"m${j * Rows}"), col(s"m${j * Rows + 1}"))
      }: _*)).as("band_key"))
    // lazy checkpoint: the banded table now feeds THREE consumers
    // (bucket sizes + both self-join sides) — materialize the minhash
    // pipeline once instead of re-evaluating it per reference
    val banded = banded0.localCheckpoint(false)
    // densification guard: drop non-discriminative hot buckets
    // (> MaxBucketDocs members) BEFORE the quadratic pair expansion
    val okBuckets = banded.groupBy("band_key")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= MaxBucketDocs)
      .select("band_key")
    val pruned = banded.join(okBuckets, "band_key")
    val cand = pruned.as("x")
      .join(pruned.as("y"),
        col("x.band_key") === col("y.band_key")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
      .distinct()
    cand
      .join(toks.select(col("doc_id").as("id1"), col("toks").as("t1")), "id1")
      .join(toks.select(col("doc_id").as("id2"), col("toks").as("t2")), "id2")
      .withColumn("ni",
        graft.plans.SortedIntersectCount.count(col("t1"), col("t2")))
      // threshold on the unrounded ratio (matches the exact ground
      // truth); round only the emitted column
      .filter(col("ni").cast("double") /
        (size(col("t1")) + size(col("t2")) - col("ni")).cast("double") >= tau)
      .withColumn("jac", round(col("ni").cast("double") /
        (size(col("t1")) + size(col("t2")) - col("ni")).cast("double"), 4))
      .select("id1", "id2", "jac")
  }

  /** Shared DuckDB CTE chain computing the exact word-3-gram-shingle
    * pair table `p(id1, id2, n1, n2, ni)` via a SPARSE shingle
    * self-join: unnest the distinct shingle sets and equi-join on the
    * shingle, so only pairs sharing ≥1 shingle are touched (0.07 s at
    * sf0.01 vs ~60 s for the naive all-pairs list_intersect
    * formulation). This is THE exact ground truth — dedup_near,
    * dedup_clusters, and simhash_near all interpolate this one
    * definition, so the three oracles can never drift apart. */
  /** The per-document distinct-shingle table `s(doc_id, n, g)` alone —
    * the reusable prefix of [[TruthPairCtes]] for oracles that need
    * shingle sets but not the pair table (doc_novelty's frequency
    * rollup, contamination_check's eval-set containment join). */
  val ShingleCtes: String = "w0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), t AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM w0), s AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM t)"

  val TruthPairCtes: String = ShingleCtes + ", p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, a.n AS n1, b.n AS n2, count(*) AS ni FROM s a JOIN s b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1,2,3,4)"

  /** Exact connected-components fixpoint over the τ=0.5 truth pairs,
    * ending in `canon(doc_id, cluster_id, is_canonical)` — the
    * cluster-resolution truth shared by dedup_clusters and
    * corpus_pipeline (requires WITH RECURSIVE). */
  val ClusterCtes: String = TruthPairCtes + ", pr AS (SELECT id1, id2 FROM p WHERE CAST(ni AS DOUBLE)/(n1+n2-ni) >= 0.5), e AS (SELECT id1 AS src, id2 AS dst FROM pr UNION ALL SELECT id2, id1 FROM pr), vs AS (SELECT DISTINCT src AS v FROM e), reach(v, r) AS (SELECT v, v FROM vs UNION SELECT e.dst, reach.r FROM e JOIN reach ON e.src = reach.v), canon AS (SELECT v AS doc_id, min(r) AS cluster_id, (v = min(r)) AS is_canonical FROM reach GROUP BY v)"

  /** Near-dup cluster resolution: pairs → connected components →
    * canonical member (min doc_id). Iterative min-label propagation
    * over the pair graph; see dedup_clusters' QueryDef for the
    * checkpointing rationale. Returns (doc_id, cluster_id,
    * is_canonical) for every doc that HAS a near-dup partner. */
  def clusters(docs: DataFrame, tau: Double,
      shPre: Option[DataFrame] = None): DataFrame =
    clustersFromPairs(nearDupPairs(docs, tau, shPre))

  /** The min-label propagation fixpoint over an already-built pair
    * table — [[clusters]]' loop factored (r16) so the declared
    * corpus-level key can feed it the sinked pair table. */
  def clustersFromPairs(pairsDf: DataFrame): DataFrame = {
    // lazy checkpoints: identical lineage truncation, but building
    // the DataFrame (plan sweeps, schema checks) runs zero jobs —
    // materialization waits for the first real action
    val pairs = pairsDf
      .select(col("id1"), col("id2"))
      .localCheckpoint(false)
    val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .union(pairs.select(col("id2").as("src"), col("id1").as("dst")))
      .localCheckpoint(false)
    val lab0 = edges.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("lab"))
    // Convergence-checked propagation: min-label is MONOTONE (each
    // vertex's label can only decrease, because the old label stays in
    // the union), so the total label sum strictly decreases every
    // round until the true fixpoint — a stable sum IS convergence.
    // One tiny driver-side aggregate per round replaces the previous
    // fixed 6-round unroll, which silently assumed component diameter
    // ≤ 6 (a deeper dup-chain would have failed the recursive-CTE
    // oracle loudly, but failed nonetheless). DECIMAL(38,0) sum can't
    // overflow at any corpus size, and its fixed scale 0 makes
    // BigDecimal equality a numeric compare. The eager checkpoint each
    // round both flattens the doubling lineage and makes the
    // convergence probe read cached partitions instead of re-running
    // the round (lazy checkpoints measured unstable for per-round loop
    // state — see SCALING.md's iterative-loop recipe). The first
    // round compares with null: a null sum means the label table is
    // empty (no near-dup pairs at all — clean corpus / high tau / tiny
    // SF), which IS the fixpoint and must converge on round 1, not
    // spin to the cap; any real sum differs from null, so the initial
    // table pays no probe.
    val (lab, _) = Fixpoint(lab0, null: java.math.BigDecimal, 64,
        "dedup_clusters: label propagation")(
        _.agg(sum(col("lab").cast("decimal(38,0)"))).head.getDecimal(0)) { lab =>
      val prop = edges
        .join(lab.withColumnRenamed("v", "src"), "src")
        .select(col("dst").as("v"), col("lab"))
      lab.union(prop).groupBy("v").agg(min(col("lab")).as("lab"))
        .localCheckpoint(true)
    }
    lab.select(col("v").as("doc_id"), col("lab").as("cluster_id"),
      (col("v") === col("lab")).as("is_canonical"))
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR
    * (the MapReduce-CC construction with an O(log n) round bound,
    * skew-safe on high-degree hubs) — the 100 TB alternative
    * [[clusters]]' scaleNote names, implemented and oracled against
    * the SAME recursive-CTE fixpoint. Where min-label propagation
    * needs diameter+1 rounds (a 1M-long dup-chain = 1M rounds),
    * star contraction needs O(log n): each round rewires every node
    * toward its neighborhood minimum, halving component height.
    *
    *   large-star(u): m = min(N(u) ∪ u); emit {v, m} for v ∈ N(u), v > u
    *   small-star(u): m = min(N<(u) ∪ u); emit {v, m} ∪ {u, m}
    *
    * Both emit edges whose smaller endpoint is m, so pairs stay
    * normalized (u < v) by construction. Convergence = the edge SET
    * reaches its fixpoint (count + xor-of-hashes fingerprint on the
    * checkpointed set, one action per round); at the fixpoint the set
    * is exactly the star forest {(component-min, member)}. */
  def clustersStar(docs: DataFrame, tau: Double,
      shPre: Option[DataFrame] = None): DataFrame =
    starContract(nearDupPairs(docs, tau, shPre)
      .select(col("id1").as("u"), col("id2").as("v"))
      .localCheckpoint(false))

  /** The star-contraction fixpoint over an already-checkpointed
    * normalized (u < v) edge list — factored out so [[clustersAuto]]
    * can reuse it above its size threshold. */
  def starContract(e0: DataFrame): DataFrame = {
    // the first round compares with null, which no fingerprint equals:
    // one round always runs, and the input pays no probe
    val (e, _) = Fixpoint(e0, null: (Long, Long), 48,
        "dedup_clusters_star: star contraction")({ ss =>
      val f = ss.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).head()
      (f.getLong(0), f.getLong(1))
    }) { e =>
      val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mLarge = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      // no distinct on the large-star output: it feeds ONLY the
      // small-star groupBy-min (duplicates cannot change a min) and
      // the round's final edge set carries its own distinct — one
      // fewer exchange per round
      val ls = sym.join(mLarge, "u").filter(col("v") > col("u"))
        .select(col("m").as("u"), col("v"))
        .filter(col("u") =!= col("v"))
      val symS = ls.select(col("v").as("u"), col("u").as("v")) // v < u side
      val mSmall = symS.groupBy("u").agg(min(col("v")).as("m"))
      symS.join(mSmall, "u")
        .select(col("m").as("u"), col("v"))
        .unionAll(mSmall.select(col("m").as("u"), col("u").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(true)
    }
    val members = e.select(col("v").as("doc_id"), col("u").as("cluster_id"),
      lit(false).as("is_canonical"))
    val roots = e.select(col("u").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster_id"),
        lit(true).as("is_canonical"))
    members.unionByName(roots)
  }

  /** Edge-count threshold below which [[clustersAuto]] resolves
    * components with a driver union-find instead of the distributed
    * star fixpoint. 64Ki edges is ~1 MB through the driver — the
    * bounded-broadcast envelope Spark itself applies to join sides. */
  val LocalClusterEdgeLimit = 65536L

  /** Size-adaptive cluster resolution for composed pipelines
    * (corpus_pipeline): the pair list is checkpointed before the
    * fixpoint starts, so its count is a cheap cached-block job; at or
    * below [[LocalClusterEdgeLimit]] edges the components come from a
    * driver union-find re-emitted as a local relation — ZERO iterative
    * jobs, where the distributed loop's per-round orchestration (2+
    * shuffles and a convergence action per round) dominates wall time
    * on small graphs — and above it the O(log n) star contraction
    * runs unchanged. Both paths compute THE SAME min-label fixpoint:
    * dedup_clusters_star oracles the distributed path at every SF,
    * and the flagship's oracle hash-gates this adaptive form. */
  def clustersAuto(docs: DataFrame, tau: Double,
      shPre: Option[DataFrame] = None): DataFrame = {
    // checkpoint-then-collect, deliberately (r7 A/B): a persist +
    // direct limit-collect variant — one "wave" less on paper — ran
    // 2.2 s vs 1.4 s warm at sf0.1, because CollectLimit's incremental
    // partition batches re-enter the join reduce stage several times
    // and the InMemoryRelation's columnar batching taxes the wide pair
    // rows; the flat checkpoint is materialized in ONE job and the
    // limit+1 collect then reads cached blocks
    val e = nearDupPairs(docs, tau, shPre)
      .select(col("id1").as("u"), col("id2").as("v"))
      .localCheckpoint(false)
    resolveEdges(e)
  }

  /** The size-adaptive component resolution over an already-
    * checkpointed normalized (u < v) edge list — [[clustersAuto]]'s
    * switch, factored so [[clustersIncremental]] can apply it to a
    * composed (label-star ∪ delta-pair) edge set. */
  def resolveEdges(e: DataFrame): DataFrame = {
    // ONE action decides the path AND fetches the small case's data:
    // collecting limit+1 rows proves whether the edge set exceeds the
    // threshold without a separate count() job, and the checkpoint
    // means the star path (which re-reads e in full) pays nothing extra
    val head = e.limit(LocalClusterEdgeLimit.toInt + 1).collect()
    if (head.length > LocalClusterEdgeLimit) starContract(e)
    else localUnionFind(e.sparkSession, head)
  }

  /** Rolling dedup — the production shape: yesterday's corpus is
    * already resolved into cluster labels; today only the DELTA pairs
    * (those touching a newly arrived doc) plus yesterday's label
    * table enter the fixpoint. Yesterday's intra-component pair edges
    * are replaced by their star forest {(cluster_id, member)}, which
    * has the same components by construction — so the incremental
    * resolution equals the full recompute EXACTLY (same min-label
    * fixpoint; the recursive-CTE oracle and NearDupSpec both pin it).
    * The arrived-today split here is deterministic (doc_id ≡ 0 mod 8
    * ≈ 12.5% of the corpus) so the declared query is self-contained. */
  def clustersIncremental(docs: DataFrame, tau: Double,
      pairsPre: Option[DataFrame] = None): DataFrame = {
    val newPred = pmod(col("doc_id"), lit(8)) === 0
    // yesterday's resolution over the old 7/8 — in production this is
    // a TABLE READ, not a recompute; the declared key recomputes it
    // only to stay self-contained (the sub-corpus differs from the
    // full-corpus sink, so the sinked pair table cannot serve it)
    val oldLab = clustersAuto(docs.filter(!newPred), tau)
    val labelEdges = oldLab.filter(!col("is_canonical"))
      .select(col("cluster_id").as("u"), col("doc_id").as("v"))
    // today's delta: only pairs with a new doc on at least one side.
    // cluster_id = component min < member doc_id, and id1 < id2 from
    // the pair generator, so the composed edge list stays normalized.
    val deltaPairs = pairsPre.getOrElse(nearDupPairs(docs, tau))
      .filter(pmod(col("id1"), lit(8)) === 0 || pmod(col("id2"), lit(8)) === 0)
      .select(col("id1").as("u"), col("id2").as("v"))
    resolveEdges(labelEdges.unionAll(deltaPairs).localCheckpoint(false))
  }

  /** Driver union-find over a bounded collected edge list — the
    * ≤ [[LocalClusterEdgeLimit]] arm of [[clustersAuto]]. */
  private def localUnionFind(ss: SparkSession,
      head: Array[org.apache.spark.sql.Row]): DataFrame = {
    {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        // path compression: point every node on the walk at the root
        var c = x
        while (parent.getOrDefault(c, c) != r) {
          val nxt = parent.get(c); parent.put(c, r); c = nxt
        }
        r
      }
      head.foreach { row =>
        val (ru, rv) = (find(row.getLong(0)), find(row.getLong(1)))
        // union toward the smaller root: roots stay component minima,
        // so find() lands every vertex on its min label directly
        if (ru < rv) parent.put(rv, ru)
        else if (rv < ru) parent.put(ru, rv)
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Boolean)]()
      parent.keySet().forEach { v => out += ((v, find(v), false)) }
      out.map(_._2).distinct.foreach { r => out += ((r, r, true)) }
      import ss.implicits._
      out.toSeq.toDF("doc_id", "cluster_id", "is_canonical")
    }
  }

  /** Per-document nearest neighbor by PREFIX edit distance via the
    * Sorted Neighborhood Method: docs sorted within their
    * (lang, source) block by (length, doc_id), each doc compared to
    * its W following sort-neighbors (symmetrized → 2W candidates) —
    * the record-linkage classic that makes candidate count LINEAR in
    * the corpus (W·|docs| levenshtein calls) instead of
    * quadratic-per-block. Near-dups have near-equal lengths, so they
    * sit adjacent in the sort. Measured: the plain length-bucket
    * block took 130 s on the 10× replica (within-block density grows
    * with the corpus); SNM holds the same full coverage at ~3 s.
    *
    * Character-level edit distance covers what set-based measures
    * miss (a reordering keeps Jaccard high; a small in-place edit
    * keeps edit distance low). Prefix-64 bounds each DP at 64×64
    * regardless of document length. Docs alone in their block emit no
    * row. Factored out so AnalyticsSpec can feed planted fixtures.
    *
    * r7 drift adjudication (house rule: A/B before believing a ledger
    * move): the r6 ledger showed dedup_edit_nn 1.56 → 2.29 s with no
    * commit touching this path. Interleaved same-session BenchOne at
    * sf0.1 against the r5 tree (commit 8262a95 in a scratch worktree):
    * r5 warm 2.46 / 2.68 s, current warm 2.63 / 2.59 s — identical
    * within noise, on a box also running the UNCHANGED corpus_pipeline
    * ~20-50% above its r6-verdict reading. Verdict: box/ledger-position
    * drift, not a regression; no fix warranted. */
  def editNearestNeighbor(docs: DataFrame, prefixLen: Int,
      window: Int = 8, passes: Int = 2): DataFrame = {
    val d0 = docs.select(col("doc_id"), col("lang"), col("source"),
      length(col("text")).as("len"),
      substring(col("text"), 1, prefixLen).as("p"))
    // one SNM pass = one sort key: rank within block, then the offset
    // explosion turns the sliding window into a PURE equi join on
    // (block, rank) — W probe rows per doc, never a block² enumerate
    def passPairs(sortKey: Seq[Column]): DataFrame = {
      val rnW = org.apache.spark.sql.expressions.Window
        .partitionBy("lang", "source").orderBy(sortKey: _*)
      val d = d0.withColumn("rn", row_number().over(rnW)).drop("len")
      val probes = d.select(col("lang"), col("source"),
        col("doc_id").as("id1"), col("p").as("p1"), col("rn"),
        explode(sequence(lit(1), lit(window))).as("k"))
        .select(col("lang"), col("source"), col("id1"), col("p1"),
          (col("rn") + col("k")).as("rn2"))
      probes.join(
        d.select(col("lang"), col("source"), col("doc_id").as("id2"),
          col("p").as("p2"), col("rn").as("rn2")),
        Seq("lang", "source", "rn2"))
        .select(col("id1"), col("id2"),
          levenshtein(col("p1"), col("p2")).as("dist"))
    }
    // multi-pass SNM: a single sort key has a recall blind spot — two
    // same-length docs separated by > W same-length neighbors in
    // (len, doc_id) order never meet. The second pass sorts by the
    // REVERSED prefix, so docs sharing a long prefix-suffix (an edit
    // near the front) become sort-adjacent; candidates union before
    // the keep-1, and a pair found by both passes dedups in the rank
    // filter (identical rows, same keep decision).
    //
    // r17 NOTE (guide §1.1, the measured-then-reverted loop): a fused
    // single-join form (both ranks in one frame, one (block, pass,
    // rn) join, with and without a checkpoint on the rank frame) was
    // built and MEASURED SLOWER at sf0.1 — 4.6-4.7 s vs 3.3 s —
    // because the two per-pass window subtrees here run as parallel
    // stages on idle cores while the fused chain serializes
    // exchange → sort → window → sort → window in the critical path.
    // Kept: the parallel two-pass shape. Changed: symmetrization by
    // explode instead of union — the union form re-ran BOTH pass
    // subtrees once per direction (4 executions of the window+join
    // pipeline per invocation); the explode emits both directions
    // from one traversal (2 executions), same pair multiset.
    val p0 =
      if (passes <= 1) passPairs(Seq(col("len").asc, col("doc_id").asc))
      else passPairs(Seq(col("len").asc, col("doc_id").asc))
        .unionAll(passPairs(Seq(reverse(col("p")).asc, col("doc_id").asc)))
    val pairs = p0.select(col("dist"), explode(array(
        struct(col("id1"), col("id2")),
        struct(col("id2").as("id1"), col("id1").as("id2")))).as("e"))
      .select(col("e.id1").as("id1"), col("e.id2").as("id2"), col("dist"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id1").orderBy(col("dist").asc, col("id2").asc)
    pairs.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("id1").as("doc_id"), col("id2").as("nn_id"), col("dist"))
  }

  /** Shingle-df cap for [[containmentPairs]]: a shingle appearing in
    * more than this many documents is corpus boilerplate, not
    * identity — it is excluded from the containment universe (the
    * standard inverted-index pruning that also bounds the per-shingle
    * pair expansion at C(cap, 2)). */
  val ContainmentDfCap = 64

  /** One-sided near-duplicate detection: containment
    * C(A,B) = |A∩B| / min(|A|,|B|) over the df-pruned 3-gram shingle
    * universe. Catches the subset relation symmetric Jaccard
    * structurally misses — a short doc quoted whole inside a long one
    * has J ≈ |A|/|B| (small) but C ≈ 1. The candidate generator is an
    * inverted-index equi-join on rare shingles (df ≤
    * [[ContainmentDfCap]]), not LSH: MinHash bands are tuned to a
    * JACCARD threshold and systematically miss high-containment /
    * low-Jaccard pairs, which are this operator's entire point.
    * Denominators count each doc's rare shingles (df-1 shingles kept:
    * discriminative, merely unshareable), so C is measured over the
    * same universe the join can see. */
  /** The df-capped RARE-SHINGLE pair universe (id1, id2, ni, n1, n2)
    * on the xxhash64 basis, MATERIALIZED once per (session, sf) —
    * r16, guide §2.4: dedup_containment and dedup_lsh_scurve each
    * re-ran the identical shingle-scan → distinct → df-cap →
    * inverted-index self-join chain (~2.5 s at sf0.1 apiece) and
    * then diverged only in the last projection (containment ratio
    * vs S-curve sweep). ni = shared rare shingles, n1/n2 = each
    * side's rare-shingle count — every consumer statistic is a
    * projection of these three exact integers. */
  private[graft] val shinglePairTable = Sink("sink_shingle_pairs", 4,
      "id1", Seq("id1", "id2")) { (spark, sf) =>
      val hs = shingleRows(Tables.documents(spark, sf)).distinct()
        .select(col("doc_id"), xxhash64(col("sh")).as("h"))
        .localCheckpoint(false)
      val dfc = hs.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") <= ContainmentDfCap)
        .select("h")
      val rare = hs.join(dfc, "h").localCheckpoint(false)
      val nr = rare.groupBy("doc_id").agg(count(lit(1)).as("n_rare"))
      rare.as("a")
        .join(rare.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        .agg(count(lit(1)).as("ni"))
        .join(nr.select(col("doc_id").as("id1"), col("n_rare").as("n1")), "id1")
        .join(nr.select(col("doc_id").as("id2"), col("n_rare").as("n2")), "id2")
        .select(col("id1"), col("id2"), col("ni"), col("n1"), col("n2"))
    }

  /** The exact pair-truth table on the PORTABLE (affine rolling
    * encode) shingle basis, same shape — r16: dedup_minhash_accuracy
    * and dedup_simhash_accuracy shared the candidate build (df-cap →
    * self-join → distinct) AND the per-pair exact intersection
    * (sorted tok arrays + merge-walk count); both truths are
    * projections of (ni, n1, n2). The signature halves (min-wise vs
    * bit-majority) stay per-query — they are what each operator
    * measures. */
  private[graft] val portablePairTable = Sink("sink_portable_pairs", 4,
      "id1", Seq("id1", "id2")) { (spark, sf) =>
      val sh = portableShingles(Tables.documents(spark, sf))
        .localCheckpoint(false)
      val okH = sh.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") <= MaxBucketDocs).select("h")
      val rare = sh.join(okH, "h")
      val cand = rare.as("a")
        .join(rare.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        .distinct()
      val toks = sh.groupBy("doc_id")
        .agg(array_sort(collect_list(col("h"))).as("toks"))
      cand
        .join(toks.select(col("doc_id").as("id1"), col("toks").as("ta")), "id1")
        .join(toks.select(col("doc_id").as("id2"), col("toks").as("tb")), "id2")
        .select(col("id1"), col("id2"),
          graft.plans.SortedIntersectCount.count(col("ta"), col("tb"))
            .as("ni"),
          size(col("ta")).cast("long").as("n1"),
          size(col("tb")).cast("long").as("n2"))
    }

  def containmentPairs(docs: DataFrame, tau: Double = 0.8): DataFrame = {
    // 8-byte shingle hashes end-to-end (ngram_jaccard's basis:
    // collision odds ~2^-64 are the accepted cross-engine risk); the
    // hashed table feeds three consumers (df counts, join sides via
    // rare, per-doc denominators) — checkpoint once
    val hs = shingleRows(docs).distinct()
      .select(col("doc_id"), xxhash64(col("sh")).as("h"))
      .localCheckpoint(false)
    val dfc = hs.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= ContainmentDfCap)
      .select("h")
    // both sides of this join arrive partitioned on h from their
    // aggregations — co-partitioned, no extra exchange
    val rare = hs.join(dfc, "h").localCheckpoint(false)
    val nr = rare.groupBy("doc_id").agg(count(lit(1)).as("n_rare"))
    val pairs = rare.as("a")
      .join(rare.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("ni"))
    val c = col("ni").cast("double") /
      least(col("n1"), col("n2")).cast("double")
    pairs
      .join(nr.select(col("doc_id").as("id1"), col("n_rare").as("n1")), "id1")
      .join(nr.select(col("doc_id").as("id2"), col("n_rare").as("n2")), "id2")
      .filter(c >= tau)
      .select(col("id1"), col("id2"), round(c, 4).as("containment"))
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef(
      "dedup_edit_nn",
      (spark, sf) =>
        editNearestNeighbor(Tables.documents(spark, sf), 64).orderBy("doc_id"),
      Some("WITH d AS (SELECT doc_id, lang, source, substr(text,1,64) AS p, length(text) AS len FROM documents), d1 AS (SELECT *, row_number() OVER (PARTITION BY lang, source ORDER BY len, doc_id) AS rn FROM d), d2 AS (SELECT *, row_number() OVER (PARTITION BY lang, source ORDER BY reverse(p), doc_id) AS rn FROM d), ks AS (SELECT unnest(range(1,9)) AS k), pr1 AS (SELECT a.lang, a.source, a.doc_id AS id1, a.p AS p1, a.rn + ks.k AS rn2 FROM d1 a, ks), p01 AS (SELECT id1, b.doc_id AS id2, levenshtein(p1, b.p) AS dist FROM pr1 JOIN d1 b ON b.lang = pr1.lang AND b.source = pr1.source AND b.rn = pr1.rn2), pr2 AS (SELECT a.lang, a.source, a.doc_id AS id1, a.p AS p1, a.rn + ks.k AS rn2 FROM d2 a, ks), p02 AS (SELECT id1, b.doc_id AS id2, levenshtein(p1, b.p) AS dist FROM pr2 JOIN d2 b ON b.lang = pr2.lang AND b.source = pr2.source AND b.rn = pr2.rn2), p0 AS (SELECT * FROM p01 UNION ALL SELECT * FROM p02), pp AS (SELECT id1, id2, dist FROM p0 UNION ALL SELECT id2, id1, dist FROM p0) SELECT doc_id, nn_id, dist FROM (SELECT id1 AS doc_id, id2 AS nn_id, dist, row_number() OVER (PARTITION BY id1 ORDER BY dist, id2) AS rk FROM pp) WHERE rk = 1 ORDER BY doc_id"),
      scaleNote = "MULTI-PASS Sorted Neighborhood: pass 1 sorts each (lang, source) block by length, pass 2 by the REVERSED prefix — a single sort key has a structural blind spot (same-length docs > W sort-neighbors apart never meet; the reversed key makes front-edited pairs adjacent via their shared tail), and the union of both passes' candidates feeds one keep-1. Candidate count is 2W·|docs|, still LINEAR where per-block enumeration is quadratic (measured on the 10× replica: 130 s block-join → ~3 s single-pass SNM at identical coverage; the second pass re-sorts the same |docs|-row projection, +1 shuffle). The prefix cap makes per-pair cost O(64²); the NN keep-1 rides WindowGroupLimit. More recall dials: more passes (content-hash-rotated keys) or LSH-banded candidates (dedup_near) with edit distance as the verify stage. The reference's fuzzy train-number match (substring containment) is this same block-then-verify shape."),

    QueryDef(
      "dedup_near",
      (spark, sf) =>
        // r16 PRE-ADJUDICATED INTENTIONAL PLAN CHANGE (the session-
        // sink pattern's widest application): the declared query reads
        // the MATERIALIZED sink_neardup_pairs table instead of
        // re-running the shingle→minhash→band→verify chain per
        // invocation. Rows identical by construction (corpusPairs IS
        // nearDupPairs(docs, 0.5) written once and read back); the
        // unchanged truth-pair oracle + hash gate prove it every round.
        corpusPairs(spark, sf).orderBy("id1", "id2"),
      Some(s"WITH $TruthPairCtes SELECT id1, id2, round(CAST(ni AS DOUBLE)/(n1+n2-ni), 4) AS jac FROM p WHERE CAST(ni AS DOUBLE)/(n1+n2-ni) >= 0.5 ORDER BY id1, id2"),
      scaleNote = "Banded LSH replaces the O(n²) pair space with per-band equi-joins on computed keys — the only join is shuffle-on-band_key, and the quadratic blowup is confined to same-bucket collisions (expected ≈ s²·pairs per band). At 100 TB: raise R to sharpen the threshold, salt oversized buckets (cap bucket size, re-split), and run exact verify only on the surviving ~0.01% of pairs. Never dropDuplicates on raw text; never cross join. The verified pair table itself builds ONCE per corpus version in the sink_neardup_pairs sink — every cluster/policy/diagnostic consumer reads it."),

    // The corpus pair-table SINK as a declared operator (r16 — the
    // session-sink gate pattern on the dedup family's shared
    // artifact): rollups over the materialized τ=0.5 pair table —
    // pair count, exact Σid checksums on both sides, the Jaccard
    // mass in integer ten-thousandths (jac is rounded to 4 decimals
    // at the edge, so jac·10⁴ re-rounds losslessly — a single
    // drifted verify anywhere moves it), and the measured part-file
    // count vs the pinned bucket literal. The oracle replays the
    // exact sparse-shingle truth-pair chain, so a drifted band key,
    // hash family, or verify threshold fails here loudly.
    corpusPairs.query(
      _.agg(count(lit(1)).as("n_pairs"),
          sum(col("id1")).as("id1_checksum"),
          sum(col("id2")).as("id2_checksum"),
          sum(round(col("jac") * 10000, 0).cast("long"))
            .as("jac_bp_total")),
      s"WITH $TruthPairCtes, " +
        "pr AS (SELECT id1, id2, round(CAST(ni AS DOUBLE)/(n1+n2-ni), 4) AS jac " +
        "FROM p WHERE CAST(ni AS DOUBLE)/(n1+n2-ni) >= 0.5) " +
        "SELECT count(*) AS n_pairs, CAST(sum(id1) AS BIGINT) AS id1_checksum, " +
        "CAST(sum(id2) AS BIGINT) AS id2_checksum, " +
        "CAST(sum(CAST(round(jac * 10000, 0) AS BIGINT)) AS BIGINT) AS jac_bp_total, " +
        s"${corpusPairs.nFiles} FROM pr",
      scaleNote = "The sink moves the candidate chain (shingle scan " +
        "→ 64 minhash minima → banded self-join → exact verify) " +
        "from every-consumer to once-per-corpus-version: TEN " +
        "declared keys previously re-derived the identical pair " +
        "table per invocation — the widest rebuild class in the " +
        "suite. At 100 TB this is the artifact a production dedup " +
        "pipeline persists anyway (candidate generation and policy " +
        "application are separate jobs on separate cadences; the " +
        "pair table is their interface), bucketed by id1 so the " +
        "cluster fixpoints and per-source rollups read co-located " +
        "pairs. The checksum columns make a drifted band key, hash " +
        "family, or verify threshold an exact-integer alert, and " +
        "the gated file count proves the single-writer layout."),

    // The df-capped rare-shingle pair universe sink, GATED (r16 —
    // the sink_neardup_pairs pattern applied to the containment
    // family's shared chain): pair count, exact Σid checksums, the
    // three integer totals every consumer statistic projects from
    // (Σni, Σn1, Σn2), and the measured part-file count vs the
    // pinned bucket literal. The oracle replays the df/rare/pc/nr
    // chain both consumers' oracles already carry.
    shinglePairTable.query(
      _.agg(count(lit(1)).as("n_pairs"),
          sum(col("id1")).as("id1_checksum"),
          sum(col("id2")).as("id2_checksum"),
          sum(col("ni")).as("ni_total"),
          sum(col("n1")).as("n1_total"),
          sum(col("n2")).as("n2_total")),
      s"WITH $ShingleCtes, " +
        "df AS (SELECT g, count(*) AS df FROM s GROUP BY 1), " +
        s"rare AS (SELECT s.doc_id, s.g FROM s JOIN df USING (g) WHERE df.df <= $ContainmentDfCap), " +
        "nr AS (SELECT doc_id, count(*) AS n_rare FROM rare GROUP BY 1), " +
        "pc AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS ni FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1,2) " +
        "SELECT count(*) AS n_pairs, CAST(sum(id1) AS BIGINT) AS id1_checksum, " +
        "CAST(sum(id2) AS BIGINT) AS id2_checksum, CAST(sum(ni) AS BIGINT) AS ni_total, " +
        "CAST(sum(n1.n_rare) AS BIGINT) AS n1_total, CAST(sum(n2.n_rare) AS BIGINT) AS n2_total, " +
        s"${shinglePairTable.nFiles} " +
        "FROM pc JOIN nr n1 ON pc.id1 = n1.doc_id JOIN nr n2 ON pc.id2 = n2.doc_id",
      scaleNote = "sink_neardup_pairs' economics for the containment " +
        "family: the shingle scan → distinct → df-cap → inverted-" +
        "index self-join chain ran per consumer (dedup_containment " +
        "AND the S-curve tuner — ~2.5 s apiece at sf0.1) and is a " +
        "pure function of the corpus version; it now lands once, " +
        "bucketed by id1, and both consumers are projections of its " +
        "(ni, n1, n2) integers. Work in the build is Σ_g df(g)² over " +
        "rare shingles — near-linear at fixed cap, the posting-list " +
        "fence unchanged; at 100 TB this is the containment-candidate " +
        "table a quote-detection pipeline persists between its index " +
        "and policy stages."),

    // The portable-basis exact pair-truth sink, GATED (r16 — same
    // pattern, the accuracy family's shared truth side): both
    // estimator-accuracy operators (minhash + simhash) re-built the
    // identical df-capped candidate set AND the per-pair exact
    // intersections; the table (id1, id2, ni, n1, n2) is their
    // common truth, each keeps only its own signature half.
    portablePairTable.query(
      _.agg(count(lit(1)).as("n_pairs"),
          sum(col("id1")).as("id1_checksum"),
          sum(col("id2")).as("id2_checksum"),
          sum(col("ni")).as("ni_total"),
          sum(col("n1")).as("n1_total"),
          sum(col("n2")).as("n2_total")),
      s"WITH $PortableShingleSql, " +
        s"okh AS (SELECT h FROM (SELECT h, count(*) AS df FROM s GROUP BY 1) WHERE df <= $MaxBucketDocs), " +
        "rare AS (SELECT s.doc_id, s.h FROM s JOIN okh USING (h)), " +
        "pc AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id < b.doc_id), " +
        "nsz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY 1), " +
        "pi AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS ni FROM s a JOIN s b ON a.h = b.h AND a.doc_id < b.doc_id JOIN pc ON pc.id1 = a.doc_id AND pc.id2 = b.doc_id GROUP BY 1, 2) " +
        "SELECT count(*) AS n_pairs, CAST(sum(pi.id1) AS BIGINT) AS id1_checksum, " +
        "CAST(sum(pi.id2) AS BIGINT) AS id2_checksum, CAST(sum(pi.ni) AS BIGINT) AS ni_total, " +
        "CAST(sum(n1.n) AS BIGINT) AS n1_total, CAST(sum(n2.n) AS BIGINT) AS n2_total, " +
        s"${portablePairTable.nFiles} " +
        "FROM pi JOIN nsz n1 ON pi.id1 = n1.doc_id JOIN nsz n2 ON pi.id2 = n2.doc_id",
      scaleNote = "The truth side of estimator accuracy is itself an " +
        "exact-dedup workload (df-capped inverted index + sorted-" +
        "array merge-walk intersections) and a pure function of the " +
        "corpus — it now runs once per session where minhash- and " +
        "simhash-accuracy each re-ran it. The estimator halves stay " +
        "per-query (they ARE the measurement); at 100 TB the truth " +
        "table is the labeled-eval artifact an LSH deployment " +
        "refreshes per corpus version while re-pricing estimator " +
        "families against it on every tuning pass."),

    // One-sided containment dedup — the subset relation Jaccard
    // structurally misses (a tweet quoted whole inside an article:
    // J small, C ≈ 1). Candidates from a df-pruned inverted shingle
    // join, NOT LSH (MinHash bands are Jaccard-tuned and miss exactly
    // the high-C/low-J pairs this op exists to find). The oracle
    // recomputes the same rule on raw shingle strings from the ONE
    // shared shingle definition.
    QueryDef(
      "dedup_containment",
      (spark, sf) => {
        // r16: the containment ratio is a projection of the sinked
        // rare-shingle pair universe (same chain, built once per
        // session — see shinglePairTable); containmentPairs stays
        // factored for fixture-driven tests.
        val c = col("ni").cast("double") /
          least(col("n1"), col("n2")).cast("double")
        shinglePairTable(spark, sf)
          .filter(c >= 0.8)
          .select(col("id1"), col("id2"), round(c, 4).as("containment"))
          .orderBy("id1", "id2")
      },
      Some(s"WITH $ShingleCtes, " +
        s"df AS (SELECT g, count(*) AS df FROM s GROUP BY 1), " +
        s"rare AS (SELECT s.doc_id, s.g FROM s JOIN df USING (g) WHERE df.df <= $ContainmentDfCap), " +
        "nr AS (SELECT doc_id, count(*) AS n_rare FROM rare GROUP BY 1), " +
        "pc AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS ni FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1,2) " +
        "SELECT id1, id2, round(CAST(ni AS DOUBLE)/least(n1.n_rare, n2.n_rare), 4) AS containment " +
        "FROM pc JOIN nr n1 ON pc.id1 = n1.doc_id JOIN nr n2 ON pc.id2 = n2.doc_id " +
        "WHERE CAST(ni AS DOUBLE)/least(n1.n_rare, n2.n_rare) >= 0.8 " +
        "ORDER BY id1, id2"),
      scaleNote = "The inverted-index join is the scale mechanism: " +
        "the df cap bounds per-shingle pair expansion at C(64,2) and " +
        "excises exactly the hot keys that would make the self-join " +
        "quadratic (boilerplate shingles carry no identity signal — " +
        "the LSH bucket cap's argument, applied to the posting list). " +
        "Work is Σ_g df(g)² over RARE shingles only — near-linear in " +
        "the corpus at fixed cap. All joins are equi on the 8-byte " +
        "shingle hash; df counts, denominators and pair counts are " +
        "map-side-combined aggs on co-partitioned tables. At 100 TB " +
        "shard the posting space by hash range (text_posting_lists' " +
        "layout) and run per-shard; containment thresholds per use " +
        "case: 0.8 flags quote-level subsets, 0.95+ near-exact " +
        "embeddings of one doc in another."),

    // LSH banding S-CURVE TUNER (r13) — the measurement that SIZES
    // the (bands, rows) dial every MinHash deployment guesses at:
    // for a pair of Jaccard similarity s, banded LSH with r rows ×
    // b bands fires with P = 1 − (1 − s^r)^b. This operator
    // evaluates that curve AGAINST THE CORPUS'S OWN measured pair
    // distribution (the df-capped rare-shingle pair universe,
    // dedup_containment's generator, with exact integer Jaccard) for
    // four hash-budget-equal configs (r·b = 128): per config ×
    // similarity decile, the pair count and the expected caught
    // mass — read the table, pick the config whose recall
    // concentrates where YOUR near-dups live. Float fence: s enters
    // as an exact micro-unit integer, the ONE division is IEEE-
    // identical cross-engine, and both powers are computed by
    // REPEATED SQUARING (r, b are powers of two — s², s⁴, … and q²,
    // q⁴, … as explicit multiply chains, never pow(), whose libm
    // could diverge); per-pair P floor-quantizes to micro before the
    // exact BIGINT mass sum, so the whole table is hash-stable.
    QueryDef(
      "dedup_lsh_scurve",
      (spark, sf) => {
        val session = spark
        import session.implicits._
        // r16: the pair universe comes off the session sink (the
        // same df-capped chain, built once — see shinglePairTable);
        // the S-curve sweep is a projection of its (ni, n1, n2).
        val pj = shinglePairTable(spark, sf)
          .select(expr("(ni * 1000000) div (n1 + n2 - ni)").as("s_micro"))
        val cfgs = Seq((2, 64), (4, 32), (8, 16), (16, 8)).toDF("r", "b")
        pj.crossJoin(broadcast(cfgs))
          .withColumn("sv", col("s_micro").cast("double") / lit(1000000.0))
          .withColumn("s2", col("sv") * col("sv"))
          .withColumn("s4", col("s2") * col("s2"))
          .withColumn("s8", col("s4") * col("s4"))
          .withColumn("s16", col("s8") * col("s8"))
          .withColumn("q", lit(1.0) -
            when(col("r") === 2, col("s2"))
              .when(col("r") === 4, col("s4"))
              .when(col("r") === 8, col("s8"))
              .otherwise(col("s16")))
          .withColumn("q2", col("q") * col("q"))
          .withColumn("q4", col("q2") * col("q2"))
          .withColumn("q8", col("q4") * col("q4"))
          .withColumn("q16", col("q8") * col("q8"))
          .withColumn("q32", col("q16") * col("q16"))
          .withColumn("q64", col("q32") * col("q32"))
          .withColumn("pb",
            when(col("b") === 8, col("q8"))
              .when(col("b") === 16, col("q16"))
              .when(col("b") === 32, col("q32"))
              .otherwise(col("q64")))
          .withColumn("p_micro",
            floor((lit(1.0) - col("pb")) * lit(1000000.0)).cast("long"))
          .groupBy(col("b"), col("r"), expr("s_micro div 100000").as("dec"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("p_micro")).as("catch_mass_micro"))
          .withColumn("exp_recall",
            round(col("catch_mass_micro").cast("double") /
              (col("n_pairs").cast("double") * lit(1000000.0)), 4))
          .orderBy("r", "dec")
      },
      Some {
        val layers = Seq(
          "l0 AS (SELECT s_micro, r, b, CAST(s_micro AS DOUBLE)/1000000.0 AS sv FROM pj CROSS JOIN cfg)",
          "l1 AS (SELECT *, sv*sv AS s2 FROM l0)",
          "l2 AS (SELECT *, s2*s2 AS s4 FROM l1)",
          "l3 AS (SELECT *, s4*s4 AS s8 FROM l2)",
          "l4 AS (SELECT *, s8*s8 AS s16 FROM l3)",
          "l5 AS (SELECT *, 1.0 - (CASE r WHEN 2 THEN s2 WHEN 4 THEN s4 WHEN 8 THEN s8 ELSE s16 END) AS q FROM l4)",
          "l6 AS (SELECT *, q*q AS q2 FROM l5)",
          "l7 AS (SELECT *, q2*q2 AS q4 FROM l6)",
          "l8 AS (SELECT *, q4*q4 AS q8 FROM l7)",
          "l9 AS (SELECT *, q8*q8 AS q16 FROM l8)",
          "l10 AS (SELECT *, q16*q16 AS q32 FROM l9)",
          "l11 AS (SELECT *, q32*q32 AS q64 FROM l10)",
          "l12 AS (SELECT *, CASE b WHEN 8 THEN q8 WHEN 16 THEN q16 WHEN 32 THEN q32 ELSE q64 END AS pb FROM l11)",
          "l13 AS (SELECT s_micro, r, b, CAST(floor((1.0 - pb)*1000000.0) AS BIGINT) AS p_micro FROM l12)"
        ).mkString(", ")
        s"WITH $ShingleCtes, " +
          "df AS (SELECT g, count(*) AS df FROM s GROUP BY 1), " +
          s"rare AS (SELECT s.doc_id, s.g FROM s JOIN df USING (g) WHERE df.df <= $ContainmentDfCap), " +
          "nr AS (SELECT doc_id, count(*) AS n_rare FROM rare GROUP BY 1), " +
          "pc AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS ni FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1,2), " +
          "pj AS (SELECT (ni * 1000000) // (n1.n_rare + n2.n_rare - ni) AS s_micro " +
          "FROM pc JOIN nr n1 ON pc.id1 = n1.doc_id JOIN nr n2 ON pc.id2 = n2.doc_id), " +
          "cfg AS (SELECT * FROM (VALUES (2, 64), (4, 32), (8, 16), (16, 8)) AS t(r, b)), " +
          s"$layers " +
          "SELECT b, r, s_micro // 100000 AS dec, count(*) AS n_pairs, " +
          "CAST(sum(p_micro) AS BIGINT) AS catch_mass_micro, " +
          "round(CAST(sum(p_micro) AS DOUBLE)/(count(*)*1000000.0), 4) AS exp_recall " +
          "FROM l13 GROUP BY 1, 2, 3 ORDER BY r, dec"
      },
      scaleNote = "The pair universe is dedup_containment's df-capped " +
        "inverted-index join — Σ_g df(g)² over rare shingles, near-" +
        "linear at fixed cap, never all-pairs — and everything after " +
        "it is a 4-row config broadcast (the structural sweep's " +
        "bounded-literal class) plus per-pair scalar arithmetic that " +
        "collapses map-side to |configs|·|deciles| rows on the wire. " +
        "This is the measurement that should precede every " +
        "dedup_near deployment: the S-curve against the CORPUS'S " +
        "pair distribution, not the textbook grid — a corpus whose " +
        "near-dup mass sits at s ≈ 0.6 wants (8,16)'s sharper knee, " +
        "one with a long 0.3-mass tail wants (4,32)'s softer one; " +
        "the hash budget (r·b = 128) is held constant so the table " +
        "compares policy, not spend. The repeated-squaring fence " +
        "matters at ANY scale: pow() routes through libm and may " +
        "differ per platform — explicit multiply chains are IEEE-" +
        "pinned everywhere, so the tuning table is bit-identical on " +
        "any cluster."),

    // Cluster resolution: near-dup PAIRS → connected components →
    // canonical doc per component (min doc_id). Production dedup ends
    // here, not at pairs — this is the keep/drop decision. Iterative
    // min-label propagation over the pair graph (the GraphX-CC /
    // Hash-to-Min recipe expressed as DataFrame joins); the pair set
    // is localCheckpoint'ed once, and each round checkpoints to keep
    // the lineage flat instead of doubling per iteration.
    QueryDef(
      "dedup_clusters",
      (spark, sf) =>
        // r16: propagation now runs over the sinked pair table (the
        // loop itself is unchanged — clustersFromPairs is the exact
        // former body; the candidate chain builds once per session)
        clustersFromPairs(corpusPairs(spark, sf)).orderBy("doc_id"),
      Some(s"WITH RECURSIVE $ClusterCtes SELECT doc_id, cluster_id, is_canonical FROM canon ORDER BY doc_id"),
      scaleNote = "Convergence-checked: rounds run until the label sum goes stable (monotone min-label ⇒ stable sum = true fixpoint), so iterations = component diameter + 1 with NO assumed diameter bound; the convergence probe is one DECIMAL(38,0) sum over the checkpointed label table per round. Each round is equi-join + min-agg on the PAIR graph (≪ corpus: only docs with a near-dup partner appear). At 100 TB switch to dedup_clusters_star — the alternating small-star/large-star contraction (O(log n) rounds, skew-safe on high-degree hubs), implemented and oracled against the same fixpoint. The canonical-min rule is deterministic, so re-runs pick identical survivors."),

    // The O(log n) cluster resolution: same output contract as
    // dedup_clusters, same recursive-CTE oracle, different round
    // complexity class — propagation rounds scale with component
    // DIAMETER, star contraction with log |component|. Declared
    // side-by-side so the driver hash proves both resolve the same
    // clusters at every scale factor.
    //
    // r10→r11 LEDGER DRIFT ADJUDICATED (the 1.64 → 2.26 s, 1.38×
    // move in BENCH_r09→r10 was the one carried key outside the box
    // band): interleaved BenchOne A/B against the r9 tree (3c61e4f)
    // in a scratch worktree, 6 rounds each at sf0.1 — r9 warm
    // 2.42–3.32 s (median 2.81), r11 warm 2.54–3.76 s (median 3.12),
    // ranges overlapping with inversions (one r11 run beat five of
    // six r9 runs). The 11% median delta sits well inside the
    // within-tree spread (±37–48%) and the documented 15–25% box
    // drift; the operator's code was untouched in r10 (git log:
    // additions only). VERDICT: box noise, not a regression — the
    // 014b6a3 precedent's outcome, recorded here per its procedure.
    // r11→r12 drift (1.41×, untouched code) re-adjudicated r13 the
    // same way: A/B medians 3.72 vs 3.48 s (1.07×, inside sibling
    // noise) — box drift again; figures at graph_hits's block.
    //
    // r14→r15 LEDGER DRIFT ADJUDICATED (r16, VERDICT r15 "next" #3;
    // house procedure — driver figures + interleaved BenchOne A/B,
    // quiet box, 3 rounds × 4 keys, 2026-08-17): the four untouched
    // keys that moved ≥1.4× in BENCH_r14→r15 —
    //   dedup_clusters_star  ~2.4 → 6.10 s; A/B warm 4.34/11.02/4.37
    //   attribution_markov   2.84 → 5.27 s; A/B warm 5.17/6.30/3.46
    //   dedup_simhash_accuracy 2.70 → 4.12 s; A/B warm 4.39/10.14/7.13
    //   graph_coreness       4.28 → 5.82 s; A/B warm 7.84/6.75/17.10
    // The decisive observation: round 2 of the interleaved session
    // was a correlated box spike (cold times 21-46 s on EVERY key in
    // that round, 2-2.5× the sibling rounds on identical unchanged
    // code) — within ONE session the same keys moved more than any
    // driver round-over-round delta, and the spike hit all four
    // simultaneously, the signature of external load, not of any
    // plan. Excluding the spiked round: markov 3.46-5.17 brackets
    // both its ledger figures (box drift); simhash floor 4.39 ≈ the
    // r15 4.12 (the 32-plane hamming verify is compute-bound and
    // load-sensitive — mild real floor growth with corpus, no plan
    // change); coreness floor 6.75 ≳ its r15 5.82 (8 sequential
    // unrolled h-index rounds — the scheduler-latency-bound class,
    // 2.5× in-session spread); THIS key's floor 4.34-4.37 sits above
    // its 2.4-3.8 all-time band — the one genuine drift candidate,
    // but its code is untouched since r9 and the per-round
    // sequential star-contraction actions (count + xor fingerprint
    // probe per round) make it the suite's most load-coupled shape
    // after the two r16-sinked louvain/girvan loops. VERDICT: box
    // drift on all four; no plan changed, nothing to fix; keep this
    // key first in any future interleave (its floor trend is the one
    // to watch).
    QueryDef(
      "dedup_clusters_star",
      (spark, sf) =>
        // r16: star contraction now runs over the sinked pair table
        // (same fixpoint, same oracle; the r14->r15 drift block above
        // loses its main cost driver - the per-invocation pair build)
        starContract(corpusPairs(spark, sf)
          .select(col("id1").as("u"), col("id2").as("v"))
          .localCheckpoint(false)).orderBy("doc_id"),
      Some(s"WITH RECURSIVE $ClusterCtes SELECT doc_id, cluster_id, is_canonical FROM canon ORDER BY doc_id"),
      scaleNote = "Each round is two groupBy-min passes + normalizing distincts over the PAIR graph, all equi on node keys — a hot hub's edges split across tasks like any groupBy (no window, no per-component serialization). Round count is O(log n) in the largest component REGARDLESS of diameter (the 1M-long dup-chain that would cost min-label 1M rounds costs ~20 star rounds); convergence is detected by a count+xor fingerprint of the checkpointed edge set, one tiny action per round. At the fixpoint the edge set IS the answer: {(component-min, member)} pairs."),

    // Cluster-size histogram over the star-contracted components —
    // the duplication profile every corpus report leads with (how
    // many 2-member near-dup groups, how many 50-member template
    // families, what fraction of the corpus is duplicated mass).
    // Same recursive-CTE oracle as the cluster ops, rolled up.
    QueryDef(
      "dedup_cluster_sizes",
      (spark, sf) =>
        corpusClusters(spark, sf)
          .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
          .groupBy("sz")
          .agg(count(lit(1)).as("n_clusters"))
          .select(col("sz").as("cluster_size"), col("n_clusters"),
            (col("sz") * col("n_clusters")).as("n_docs"))
          .orderBy("cluster_size"),
      Some(s"WITH RECURSIVE $ClusterCtes, cs AS (SELECT cluster_id, count(*) AS sz FROM canon GROUP BY 1) " +
        "SELECT sz AS cluster_size, count(*) AS n_clusters, CAST(sz * count(*) AS BIGINT) AS n_docs " +
        "FROM cs GROUP BY sz ORDER BY sz"),
      scaleNote = "Two map-side-combined rollups over the cluster " +
        "table (which is pair-graph-sized, ≪ corpus): the histogram " +
        "is |distinct sizes| rows at any scale. Rides the size-" +
        "adaptive clustersAuto path (driver union-find at ≤64Ki " +
        "edges, star contraction above — the same min-label fixpoint " +
        "dedup_clusters_star oracles at every SF, so the hash cannot " +
        "move; r7 A/B: 3.5 s warm on the always-distributed form vs " +
        "~1.4 s adaptive at sf0.1) — in a real " +
        "pipeline the cluster table is computed once and this profile, " +
        "the canonical-keep filter, and the per-source dup-rate " +
        "rollup all read it; the declared query recomputes it only " +
        "because each driver key must be self-contained. The size " +
        "histogram is also the skew report: a 10^6-member family " +
        "showing up here is the hub that motivates the star (not " +
        "label-propagation) algorithm."),

    // Duplication-aware TRAINING WEIGHTS (r12) — the policy layer
    // between dedup and sampling that hard removal skips: a training
    // pipeline chooses between HARD dedup (keep the keeper at weight
    // 1 — shifts the distribution by deleting duplicate mass), COUNT
    // dedup (keep the keeper carrying its cluster's multiplicity —
    // preserves the corpus distribution while deduplicating the
    // compute), and SOFT down-weighting (keep every member at 1/n —
    // robust when the clustering itself is imperfect, since a wrong
    // merge only dilutes instead of deleting). One table feeds all
    // three: every doc (singletons included — the LEFT join against
    // the pair-graph cluster table defaults a doc to its own
    // cluster) with its cluster id, size, keeper flag, the keeper's
    // multiplicity weight, and the exact-integer per-member
    // down-weight 1e6 div n. Mass conservation is the contract:
    // Σ keeper_weight = |corpus| exactly, and each cluster's member
    // weights sum to 1e6 within the floor slack (< n ppm).
    QueryDef(
      "dedup_soft_weights",
      (spark, sf) => {
        val docs = Tables.documents(spark, sf)
        val cl = corpusClusters(spark, sf)
        val full = docs.select(col("doc_id"))
          .join(cl.select(col("doc_id"), col("cluster_id")),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        val cs = full.groupBy("cluster_id")
          .agg(count(lit(1)).as("sz"), min(col("doc_id")).as("keeper"))
        full.join(cs, "cluster_id")
          .select(col("doc_id"), col("cluster_id"),
            col("sz").as("cluster_size"),
            (col("doc_id") === col("keeper")).as("is_keeper"),
            when(col("doc_id") === col("keeper"), col("sz"))
              .otherwise(0L).as("keeper_weight"),
            expr("1000000 div sz").as("member_w_ppm"))
          .orderBy("doc_id")
      },
      Some(s"WITH RECURSIVE $ClusterCtes, " +
        "fl AS (SELECT d.doc_id, coalesce(canon.cluster_id, d.doc_id) AS cluster_id " +
        "FROM documents d LEFT JOIN canon ON d.doc_id = canon.doc_id), " +
        "cs AS (SELECT cluster_id, count(*) AS sz, min(doc_id) AS keeper FROM fl GROUP BY 1) " +
        "SELECT fl.doc_id, fl.cluster_id, cs.sz AS cluster_size, " +
        "fl.doc_id = cs.keeper AS is_keeper, " +
        "CAST(CASE WHEN fl.doc_id = cs.keeper THEN cs.sz ELSE 0 END AS BIGINT) AS keeper_weight, " +
        "1000000 // cs.sz AS member_w_ppm " +
        "FROM fl JOIN cs ON fl.cluster_id = cs.cluster_id ORDER BY fl.doc_id"),
      scaleNote = "The cluster table is pair-graph-sized (only docs " +
        "with a near-dup partner), so the LEFT join that restores " +
        "singletons is corpus ⋈ small — broadcast at test scale, " +
        "co-partitioned on doc_id at 100 TB — and the size/keeper " +
        "rollup is map-side-combined to |clusters| rows. In a real " +
        "pipeline the resolved cluster table is computed once and " +
        "this weight table, the golden-record survivor, and the " +
        "dup-rate rollup all read it (the declared query recomputes " +
        "only because driver keys are self-contained). Downstream " +
        "the weights compose without new machinery: sample_weighted " +
        "consumes keeper_weight for count-dedup draws, and the " +
        "per-member ppm multiplies into any loss/sampling mass — " +
        "both exact integers, so the training distribution shift of " +
        "a dedup policy change is an auditable diff of this table, " +
        "not a re-crawl of the corpus."),

    // SOFT-dedup SAMPLER (r13, VERDICT r12 #6 — dedup_soft_weights'
    // promised consumer, gated end-to-end): draw from the weight
    // table with probability ∝ member_w_ppm using sample_weighted's
    // exact consistent-hash mechanism — u16 = first 4 md5 hex chars
    // of the salted doc key, kept iff u16 < (member_w_ppm·65536)
    // div 1e6. Each cluster member survives with probability ≈ 1/n,
    // so a duplicated family contributes ONE expected doc — the
    // soft-dedup policy executed as a sampling stage rather than a
    // loss weight, composing cluster table → weights → draw with
    // zero new machinery. Singletons have member_w_ppm = 1e6 →
    // threshold 65536 → ALWAYS kept: soft dedup never deletes
    // unique content, only down-samples duplicate mass (the policy
    // property that distinguishes it from a plain uniform sample).
    QueryDef(
      "sample_soft_weighted",
      (spark, sf) => {
        val docs = Tables.documents(spark, sf)
        val cl = corpusClusters(spark, sf)
        val full = docs.select(col("doc_id"))
          .join(cl.select(col("doc_id"), col("cluster_id")),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        val cs = full.groupBy("cluster_id")
          .agg(count(lit(1)).as("sz"))
        full.join(cs, "cluster_id")
          .select(col("doc_id"), col("cluster_id"),
            expr("1000000 div sz").as("member_w_ppm"))
          .withColumn("u16", conv(substring(md5(concat(lit("graftsw:"),
            col("doc_id").cast("string"))), 1, 4), 16, 10).cast("long"))
          .withColumn("thr", expr("(member_w_ppm * 65536) div 1000000"))
          .filter(col("u16") < col("thr"))
          .select(col("doc_id"), col("cluster_id"),
            col("member_w_ppm"), col("thr"))
          .orderBy("doc_id")
      },
      Some(s"WITH RECURSIVE $ClusterCtes, " +
        "fl AS (SELECT d.doc_id, coalesce(canon.cluster_id, d.doc_id) AS cluster_id " +
        "FROM documents d LEFT JOIN canon ON d.doc_id = canon.doc_id), " +
        "cs AS (SELECT cluster_id, count(*) AS sz FROM fl GROUP BY 1), " +
        "sw AS (SELECT fl.doc_id, fl.cluster_id, 1000000 // cs.sz AS member_w_ppm, " +
        "('0x'||substr(md5('graftsw:'||CAST(fl.doc_id AS VARCHAR)),1,4))::BIGINT AS u16, " +
        "((1000000 // cs.sz) * 65536) // 1000000 AS thr " +
        "FROM fl JOIN cs ON fl.cluster_id = cs.cluster_id) " +
        "SELECT doc_id, cluster_id, member_w_ppm, thr FROM sw " +
        "WHERE u16 < thr ORDER BY doc_id"),
      scaleNote = "dedup_soft_weights' economics plus a map-only " +
        "filter: the cluster table is pair-graph-sized, the " +
        "singleton-restoring LEFT join is corpus ⋈ small " +
        "(co-partitioned on doc_id at 100 TB), the size rollup is " +
        "map-side-combined to |clusters| rows, and the draw itself " +
        "is codegen'd scalar hashing — no shuffle, no state, the " +
        "SAME predicate selecting the SAME subset in any engine, " +
        "layout or rerun (sample_consistent's contract; a rand()-" +
        "weighted draw has none of those). In a real pipeline the " +
        "weight table is computed once and this draw, the loss-" +
        "weighting path and the count-dedup keeper draw all read " +
        "it. 16-bit resolution bounds the per-doc rate error at " +
        "2⁻¹⁶ (widen the hex prefix for deeper clusters); Σ thr " +
        "across a cluster ≈ 65536 = one expected survivor, the " +
        "mass-conservation property proven in-spec."),

    // Rolling dedup — view maintenance for the cluster table. A
    // production corpus is deduplicated DAILY, not from scratch:
    // yesterday's resolved labels + only today's delta pairs enter the
    // fixpoint (yesterday's intra-component edges ride in contracted,
    // as their {(cluster_id, member)} star forest, which spans the
    // same components). The declared key splits the corpus
    // deterministically (doc_id ≡ 0 mod 8 = "arrived today"), resolves
    // the old 7/8, folds the delta in — and must hash-match the SAME
    // full-recompute recursive-CTE oracle as dedup_clusters: the
    // incremental path provably loses nothing.
    QueryDef(
      "dedup_clusters_incremental",
      (spark, sf) =>
        // r16: the full-corpus delta pairs read the sink; yesterday's
        // 7/8 sub-corpus resolution stays a recompute (different
        // corpus identity - see clustersIncremental's note)
        clustersIncremental(Tables.documents(spark, sf), 0.5,
          Some(corpusPairs(spark, sf))).orderBy("doc_id"),
      Some(s"WITH RECURSIVE $ClusterCtes SELECT doc_id, cluster_id, is_canonical FROM canon ORDER BY doc_id"),
      scaleNote = "THE dedup cost model changer at 100 TB: a daily " +
        "increment touches |delta| docs, and banded LSH is naturally " +
        "incremental — the band buckets are an inverted index, so " +
        "delta pairs come from probing new docs' 32 band keys against " +
        "the PERSISTED bucket index (|delta|·32 lookups), never from " +
        "re-banding the corpus. The fixpoint then runs on label-stars " +
        "∪ delta-pairs: |resolved components| + |delta| edges, ≪ the " +
        "full pair graph, and component merges triggered by a " +
        "bridging new doc still resolve to the global min label, so " +
        "incremental ≡ full recompute (the oracle pins it). The " +
        "declared key recomputes yesterday's labels only to stay " +
        "self-contained; production reads them as a table. Caveat at " +
        "scale: the bucket-size densification cap makes the pair " +
        "stream corpus-dependent — an incremental deployment pins " +
        "cap decisions per bucket epoch (re-evaluating caps on the " +
        "grown index, the same policy choice any streaming LSH " +
        "index makes)."),

    // Dedup OBSERVABILITY — the per-source duplication report a
    // corpus release publishes next to its quality funnel: how much
    // of each source is near-duplicated, and how much dedup would
    // drop. A source whose drop rate jumps release-over-release is
    // either a scraper gone circular or an upstream republisher —
    // THE dedup dashboard's first-order alarm. Rates are one rounded
    // division over exact counts; membership comes from the same
    // size-adaptive fixpoint every dedup key shares.
    QueryDef(
      "dedup_rate_by_source",
      (spark, sf) => {
        val docs = Tables.documents(spark, sf)
        val cl = corpusClusters(spark, sf)
        docs.join(cl, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("cluster_id").isNotNull, 1L).otherwise(0L))
              .as("n_clustered"),
            sum(when(col("is_canonical") === true, 1L).otherwise(0L))
              .as("n_canonical"))
          .withColumn("drop_rate",
            round((col("n_clustered") - col("n_canonical")).cast("double") /
              col("n_docs").cast("double"), 4))
          .orderBy("source")
      },
      Some(s"WITH RECURSIVE $ClusterCtes " +
        "SELECT d.source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN c.cluster_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered, " +
        "CAST(sum(CASE WHEN c.is_canonical THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical, " +
        "round(CAST(sum(CASE WHEN c.cluster_id IS NOT NULL THEN 1 ELSE 0 END) - sum(CASE WHEN c.is_canonical THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS drop_rate " +
        "FROM documents d LEFT JOIN canon c ON d.doc_id = c.doc_id " +
        "GROUP BY 1 ORDER BY 1"),
      scaleNote = "One left join of the corpus against the (clustered " +
        "docs only — a small fraction) label table plus a map-side-" +
        "combined per-source rollup: the report costs one join more " +
        "than the clustering it observes, and in the incremental " +
        "deployment (dedup_clusters_incremental) the label table is " +
        "yesterday's, so the daily report is |delta|+|labels|-sized. " +
        "Add release_id to the group key and the release-over-" +
        "release drop-rate diff — the actual alarm — is one lag over " +
        "the |sources×releases| cell table."),

    // Golden-record survivorship — the step AFTER clustering that an
    // MDM / corpus-curation pipeline actually ships: collapse each
    // near-dup cluster to ONE record with field-level survivorship
    // rules (longest text wins — the usual "most complete content"
    // rule, tiebreak min doc_id; lang/source by mode with min
    // tiebreak; max n_chars), all deterministic total orders. The
    // longest-text pick rides an associative struct-max (no per-
    // cluster sort); the two mode fields are count + window-rank over
    // cluster-local key spaces. Text itself is emitted as md5 + length
    // (driver-hash cells stay scalar and small).
    QueryDef(
      "dedup_golden_record",
      (spark, sf) => {
        val docs = Tables.documents(spark, sf)
        // clustersAuto, not clusters (r8, VERDICT r7 #1): the size-
        // adaptive path took dedup_cluster_sizes 3.54 -> 1.50 s in r7;
        // same min-label fixpoint, so the oracle hash cannot move.
        val cl = corpusClusters(spark, sf)
        val m = cl.join(docs, "doc_id")
        val base = m.groupBy("cluster_id").agg(
          count(lit(1)).as("n_members"),
          max(col("n_chars")).as("max_chars"),
          max(struct(length(col("text")).as("l"), (-col("doc_id")).as("nid"),
            col("text").as("t"), col("doc_id").as("id"))).as("s"))
          .select(col("cluster_id"), col("n_members"), col("max_chars"),
            col("s.id").as("golden_doc_id"), col("s.l").as("golden_len"),
            md5(col("s.t")).as("golden_text_md5"))
        def modeOf(field: String, out: String) = {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("cluster_id")
            .orderBy(col("c").desc, col(field).asc)
          m.groupBy("cluster_id", field).agg(count(lit(1)).as("c"))
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1)
            .select(col("cluster_id"), col(field).as(out))
        }
        base
          .join(modeOf("lang", "golden_lang"), "cluster_id")
          .join(modeOf("source", "golden_source"), "cluster_id")
          .orderBy("cluster_id")
      },
      Some(s"WITH RECURSIVE $ClusterCtes, " +
        "md AS (SELECT c.cluster_id, d.doc_id, d.text, d.lang, d.source, d.n_chars FROM canon c JOIN documents d ON c.doc_id = d.doc_id), " +
        "lt AS (SELECT cluster_id, doc_id AS golden_doc_id, CAST(length(text) AS INT) AS golden_len, md5(text) AS golden_text_md5 FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY length(text) DESC, doc_id) AS rn FROM md) WHERE rn = 1), " +
        "lm AS (SELECT cluster_id, lang AS golden_lang FROM (SELECT cluster_id, lang, row_number() OVER (PARTITION BY cluster_id ORDER BY count(*) DESC, lang) AS rn FROM md GROUP BY cluster_id, lang) WHERE rn = 1), " +
        "ls AS (SELECT cluster_id, source AS golden_source FROM (SELECT cluster_id, source, row_number() OVER (PARTITION BY cluster_id ORDER BY count(*) DESC, source) AS rn FROM md GROUP BY cluster_id, source) WHERE rn = 1), " +
        "ag AS (SELECT cluster_id, count(*) AS n_members, max(n_chars) AS max_chars FROM md GROUP BY 1) " +
        "SELECT ag.cluster_id, ag.n_members, ag.max_chars, lt.golden_doc_id, lt.golden_len, lt.golden_text_md5, lm.golden_lang, ls.golden_source " +
        "FROM ag JOIN lt ON ag.cluster_id = lt.cluster_id JOIN lm ON ag.cluster_id = lm.cluster_id JOIN ls ON ag.cluster_id = ls.cluster_id " +
        "ORDER BY ag.cluster_id"),
      scaleNote = "Everything downstream of clustering is keyed by " +
        "cluster_id and sized by the CLUSTERED subset (docs with a " +
        "near-dup partner — a small fraction of any real corpus), so " +
        "survivorship adds one struct-max agg plus two count-rank " +
        "passes over cluster-local key spaces; the windows partition " +
        "by cluster (bounded by cluster size — the size-cap valve " +
        "dedup_cluster_sizes profiles), never globally. The struct-" +
        "max longest-text rule is associative and skew-immune where " +
        "a sort-based pick would serialize a mega-cluster. Rules are " +
        "config, not structure: latest-timestamp, trusted-source-" +
        "first, or field-wise coalesce chains are the same aggregate " +
        "with a different struct prefix — exactly how MDM survivor " +
        "policies deploy. Pair with dedup_clusters_incremental and " +
        "golden records maintain as a view over the rolling cluster " +
        "table."),

    // Exact-substring duplication measurement (r10) — the signal
    // behind suffix-array exact-substring dedup ("Deduplicating
    // Training Data Makes Language Models Better": long verbatim
    // spans repeat ACROSS documents that whole-doc Jaccard scores as
    // distinct): per doc, how many of its 8-token windows also occur
    // verbatim in at least one OTHER document. Windows are positions
    // (not sets — a doc-internal repeat counts every occurrence), the
    // window key is the cross-engine rolling token encode folded over
    // the 8 tokens, and cross-doc presence is a document-frequency
    // join on the window hash — never a pair expansion. This is the
    // detection half; the removal half is dedup_spans' span surgery,
    // pointed at the flagged windows.
    QueryDef(
      "dedup_exact_substring",
      (spark, sf) => {
        val W = 8
        def enc(c: Column): Column =
          length(c).cast("long") * 65536L + ascii(c).cast("long") * 256L +
            ascii(substring(c, -1, 1)).cast("long")
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos")
        val docs = Tables.documents(spark, sf)
        val toks = docs
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "t0")))
        val withLeads = (1 until W).foldLeft(toks) { (df, i) =>
          df.withColumn(s"t$i", lead(col("t0"), i).over(win))
        }
        val windows = withLeads
          .filter(col(s"t${W - 1}").isNotNull)
          .select(col("doc_id"),
            pmod((1 until W).foldLeft(enc(col("t0"))) { (acc, i) =>
              acc * 31 + enc(col(s"t$i"))
            }, lit(P)).as("wh"))
          .localCheckpoint(false) // feeds the df table and the rollup
        val docFreq = windows.select("doc_id", "wh").distinct()
          .groupBy("wh").agg(count(lit(1)).as("ddf"))
        val perDoc = windows.join(docFreq, "wh")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_windows"),
            sum(when(col("ddf") >= 2, 1L).otherwise(0L)).as("n_dup_windows"))
        docs.select(col("doc_id"))
          .join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_windows"), lit(0L)).as("n_windows"),
            coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
          .withColumn("dup_ratio_bp",
            when(col("n_windows") > 0,
              expr("(n_dup_windows * 10000) div n_windows")).otherwise(0L))
          .orderBy("doc_id")
      },
      Some {
        val encSql = (t: String) =>
          s"(length($t)*65536 + ascii($t)*256 + ascii(right($t,1)))"
        val fold = (1 until 8).foldLeft(encSql("w[i]")) { (acc, k) =>
          s"($acc*31 + ${encSql(s"w[i+$k]")})"
        }
        "WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
          s"wn AS (SELECT doc_id, unnest(list_transform(range(1, len(w)-6), i -> $fold % $P)) AS wh FROM w0), " +
          "ddf AS (SELECT wh, count(*) AS ddf FROM (SELECT DISTINCT doc_id, wh FROM wn) GROUP BY 1), " +
          "pd AS (SELECT doc_id, count(*) AS n_windows, " +
          "CAST(sum(CASE WHEN ddf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows " +
          "FROM wn JOIN ddf USING (wh) GROUP BY 1) " +
          "SELECT d.doc_id, coalesce(pd.n_windows, 0) AS n_windows, " +
          "coalesce(pd.n_dup_windows, 0) AS n_dup_windows, " +
          "CASE WHEN coalesce(pd.n_windows, 0) > 0 THEN (pd.n_dup_windows * 10000) // pd.n_windows ELSE 0 END AS dup_ratio_bp " +
          "FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id ORDER BY d.doc_id"
      },
      scaleNote = "Windowing is scan-local (leads inside one per-doc " +
        "window sort — the shingleRows shuffle), the document-" +
        "frequency table is two map-side-combined aggs on the 8-byte " +
        "window hash, and the per-doc rollup joins positions to df " +
        "on that same hash — work is linear in token count, and NO " +
        "pair of documents is ever materialized (the suffix-array " +
        "construction this stands in for is superlinear and " +
        "single-machine; the window-df formulation is the " +
        "MapReduce-able 99% of its value). At 100 TB the window-hash " +
        "space is the shard key (text_posting_lists' layout), hot " +
        "boilerplate windows are exactly the high-df keys — they " +
        "need no cap here because df counting is a sum, not an " +
        "expansion. Flagged docs (high dup_ratio_bp) feed " +
        "dedup_spans for span-level removal; the window length dial " +
        "(8 here, 50 in the paper) trades sensitivity for memory of " +
        "verbatim quotes."),

    // MinHash ESTIMATOR accuracy (r10) — the measurement that sizes K:
    // every LSH decision upstream (band count, rows-per-band, tau)
    // assumes the K=64 min-wise estimate tracks true Jaccard; this
    // operator MEASURES that error, per 1%-wide true-Jaccard band, in
    // exact integer basis points. Estimate = (#agreeing components)·10000/64;
    // truth = exact shingle-set Jaccard over the same sets. The base
    // hash is the gate-portable rolling token encode (text_
    // fingerprint's arithmetic — DuckDB cannot evaluate xxhash64, and
    // estimator error is a property of K and the affine family, not of
    // which 64-bit base feeds them; the affine family IS dedup_near's,
    // coefA/coefB). Candidate pairs from the df-capped inverted
    // shingle-hash index (dedup_containment's generator — Jaccard-
    // unbiased, where LSH bands would oversample the high-agreement
    // pairs the estimator is best on) — no jaccard floor: the low
    // bands are the false-positive regime LSH must not fire on.
    // r11→r12 ledger drift (1.49×, untouched code) adjudicated BOX
    // NOISE via interleaved BenchOne A/B (medians 3.69 vs 3.63 s,
    // 1.02×) — figures at graph_hits's r13 adjudication block.
    QueryDef(
      "dedup_minhash_accuracy",
      (spark, sf) => {
        // r16: the candidate pairs AND the exact intersections come
        // off the sinked portable pair-truth table (built once per
        // session — see portablePairTable); this operator keeps only
        // its OWN half, the 64 min-wise signature sums it measures.
        val sh = portableShingles(Tables.documents(spark, sf))
          .localCheckpoint(false) // feeds the signature aggregate
        val sig = sh.groupBy("doc_id").agg(
          min(pmod(lit(coefA(0)) * col("h") + lit(coefB(0)), lit(P))).as("m0"),
          (1 until NumHashes).map(i =>
            min(pmod(lit(coefA(i)) * col("h") + lit(coefB(i)), lit(P))).as(s"m$i")): _*)
        val s1 = sig.select(col("doc_id").as("id1") +:
          (0 until NumHashes).map(i => col(s"m$i").as(s"x$i")): _*)
        val s2 = sig.select(col("doc_id").as("id2") +:
          (0 until NumHashes).map(i => col(s"m$i").as(s"y$i")): _*)
        portablePairTable(spark, sf)
          .join(s1, "id1").join(s2, "id2")
          .withColumn("k", (0 until NumHashes)
            .map(i => (col(s"x$i") === col(s"y$i")).cast("long")).reduce(_ + _))
          .withColumn("un", col("n1") + col("n2") - col("ni"))
          // non-negative operands: div == floor division on both engines
          .withColumn("exact_bp", expr("(ni * 10000) div un"))
          .withColumn("est_bp", expr("(k * 10000) div 64"))
          .withColumn("err", col("est_bp") - col("exact_bp"))
          // 1%-wide true-jaccard bands: the low bands are where the
          // estimator's FALSE-POSITIVE behavior lives (what LSH must
          // not fire on), the high bands its recall regime
          .groupBy(expr("exact_bp div 100").as("jac_band"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(abs(col("err"))).as("sum_abs_err_bp"),
            max(abs(col("err"))).as("max_abs_err_bp"),
            sum(col("err")).as("sum_err_bp"))
          .orderBy("jac_band")
      },
      Some {
        val mins = (0 until NumHashes).map(i =>
          s"min((${coefA(i)}*h + ${coefB(i)}) % $P) AS m$i").mkString(", ")
        val agree = (0 until NumHashes).map(i =>
          s"CASE WHEN x.m$i = y.m$i THEN 1 ELSE 0 END").mkString(" + ")
        s"WITH $PortableShingleSql, " +
          s"okh AS (SELECT h FROM (SELECT h, count(*) AS df FROM s GROUP BY 1) WHERE df <= $MaxBucketDocs), " +
          "rare AS (SELECT s.doc_id, s.h FROM s JOIN okh USING (h)), " +
          "pc AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id < b.doc_id), " +
          "nsz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY 1), " +
          "pi AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS ni FROM s a JOIN s b ON a.h = b.h AND a.doc_id < b.doc_id JOIN pc ON pc.id1 = a.doc_id AND pc.id2 = b.doc_id GROUP BY 1, 2), " +
          s"mh AS (SELECT doc_id, $mins FROM s GROUP BY doc_id), " +
          s"pk AS (SELECT pc.id1, pc.id2, ($agree) AS k FROM pc JOIN mh x ON pc.id1 = x.doc_id JOIN mh y ON pc.id2 = y.doc_id), " +
          "pp AS (SELECT (pi.ni*10000)//(n1.n + n2.n - pi.ni) AS exact_bp, (pk.k*10000)//64 AS est_bp " +
          "FROM pi JOIN pk ON pi.id1 = pk.id1 AND pi.id2 = pk.id2 JOIN nsz n1 ON pi.id1 = n1.doc_id JOIN nsz n2 ON pi.id2 = n2.doc_id), " +
          "e AS (SELECT exact_bp//100 AS jac_band, est_bp - exact_bp AS err FROM pp) " +
          "SELECT jac_band, count(*) AS n_pairs, CAST(sum(abs(err)) AS BIGINT) AS sum_abs_err_bp, " +
          "CAST(max(abs(err)) AS BIGINT) AS max_abs_err_bp, CAST(sum(err) AS BIGINT) AS sum_err_bp " +
          "FROM e GROUP BY jac_band ORDER BY jac_band"
      },
      scaleNote = "Candidates ride the df-capped inverted index " +
        "(dedup_containment's mechanism: per-hash pair expansion " +
        "bounded at C(cap,2), hot boilerplate keys excised), the 64 " +
        "component mins are one map-side-combined aggregate over the " +
        "shingle rows, and the per-pair agreement count is a codegen'd " +
        "64-term integer sum — no step exceeds the dedup pass the " +
        "estimator serves. At 100 TB the error table is a CORPUS " +
        "PROPERTY measurement, not a per-release pass: run it on a " +
        "consistent hash sample (sample_consistent) — estimator error " +
        "is a function of K and the hash family, so a bounded sample " +
        "pins it; re-measure only when K, the family, or the shingle " +
        "unit changes. The output feeds the B/R banding choice the " +
        "same way ann_recall_curve feeds nprobe."))
}
