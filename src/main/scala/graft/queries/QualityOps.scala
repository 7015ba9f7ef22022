package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.{QueryDef, QueryGroup, Tables}

/** Corpus-quality heuristics and retrieval-fusion operators (r9) —
  * the filter/stage/fuse layer of a training-data pipeline that sits
  * between raw ingest and the dedup/release DAGs.
  *
  * Reference analog: the reference filters and reshapes its feed
  * before serving (mode/etat gating, delay windows) [P query.py
  * filter surface — SURVEY.md §0]; these are the corpus-side
  * equivalents every LLM-data pipeline publishes: rule-based quality
  * gates (Gopher-style), vocabulary-growth and shingle-frequency
  * diagnostics, curriculum staging, and rank fusion across lexical
  * and semantic retrieval.
  *
  * House determinism rules throughout: counts and lengths are exact
  * integers, every threshold is an integer cross-multiply (never a
  * float compare), ranks are total-ordered with id tiebreaks, and
  * the one RRF reciprocal is an exact integer floor division.
  */
object QualityOps extends QueryGroup {

  /** Gopher-style stopword list, restricted to words the synthetic
    * corpus actually contains (the full list would be all-zero
    * counts here; the rule shape is identical). */
  private[graft] val StopWords = Seq("the", "a", "of", "in", "to")

  /** The five Gopher rule flags over per-document counts `n_words`,
    * `n_word_chars`, `n_stop` and `max_word_cnt`: quality_gopher_rules
    * and its stream gate both apply these. */
  private[graft] def gopherRules(counts: DataFrame): DataFrame =
    counts
      .withColumn("r_len", col("n_words").between(50, 100000))
      .withColumn("r_mwl", lit(3) * col("n_words") <= col("n_word_chars") &&
        col("n_word_chars") <= lit(10) * col("n_words"))
      .withColumn("r_stop", col("n_stop") >= 2)
      .withColumn("r_rep", lit(5) * col("max_word_cnt") <= col("n_words"))
      .withColumn("keep",
        col("r_len") && col("r_mwl") && col("r_stop") && col("r_rep"))

  /** rank_ndcg's discount table: floor(1e6 · 1/log2(r+1)) for ranks
    * 1..10 — STATED literals computed once offline (ln 2/ln(r+1)),
    * shared verbatim by the Spark plan and the oracle's VALUES table
    * so no runtime log() can diverge between engines. */
  val NdcgGainsMicro: Seq[Long] = Seq(
    1000000L, 630929L, 500000L, 430676L, 386852L,
    356207L, 333333L, 315464L, 301029L, 289064L)

  /** The same table as a DuckDB VALUES clause. */
  val NdcgGainsValuesSql: String =
    NdcgGainsMicro.zipWithIndex
      .map { case (g, i) => s"(${i + 1}, ${g})" }
      .mkString("SELECT * FROM (VALUES ", ", ", ") AS v(rank, gain_micro)")

  /** Shared retrieval-eval rank table (rank_ndcg / rank_mrr): the
    * fixed 16 lowest vec_ids as queries (ann_topk's O(1) broadcast
    * rule), every other vector as a candidate, ranked by the house
    * quantized cosine with vec_id tiebreak; rows with rank ≤ 10.
    * Columns: query_id, qlabel, vec_id, label, rank. */
  private def annRankTable(spark: org.apache.spark.sql.SparkSession,
      sf: String): org.apache.spark.sql.DataFrame = {
    val q = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"),
        graft.engine.Vec.quantize(col("embedding")).as("qv"))
      .withColumn("n2", graft.engine.Vec.norm2(col("qv")))
    // limit(16) is a semantic no-op (vec_id is unique) that makes
    // the broadcast side PROVABLY bounded to the structural BNLJ
    // sweep — the rank_fusion_rrf device (r16 green-up: rank_map
    // landed mid-build without it and PlanPropertiesSpec flagged
    // the theta-join plan; ndcg/mrr shared the shape via the
    // semantic allowlist).
    val queries = q.filter(col("vec_id") < 16).limit(16)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("qv").as("qq"), col("n2").as("qn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    broadcast(queries)
      .join(q, col("query_id") =!= col("vec_id"))
      .withColumn("dot", graft.plans.LongArrayDot.dot(col("qq"), col("qv")))
      .withColumn("cos",
        graft.engine.Vec.cosine(col("dot"), col("qn"), col("n2")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select("query_id", "qlabel", "vec_id", "label", "rank")
  }

  /** Oracle-side rank table: CTEs q → n → e → d → c → r ending in
    * rt(query_id, qlabel, clabel, rank), rank ≤ 10 — shared verbatim
    * by both retrieval-eval oracles. */
  private val AnnRankSqlCtes: String =
    "q AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1048576) AS BIGINT)) AS qv FROM embeddings), " +
      "n AS (SELECT vec_id, CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS norm2 FROM q), " +
      "e AS (SELECT vec_id, unnest(qv) AS v, generate_subscripts(qv, 1) AS idx FROM q), " +
      "d AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id, CAST(sum(a.v*b.v) AS BIGINT) AS dot FROM e a JOIN e b ON a.idx = b.idx AND a.vec_id <> b.vec_id WHERE a.vec_id < 16 GROUP BY 1, 2), " +
      "c AS (SELECT d.query_id, d.vec_id, round(CAST(dot AS DOUBLE)/(sqrt(CAST(n1.norm2 AS DOUBLE))*sqrt(CAST(n2.norm2 AS DOUBLE))), 4) AS cos FROM d JOIN n n1 ON d.query_id = n1.vec_id JOIN n n2 ON d.vec_id = n2.vec_id), " +
      "r AS (SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank FROM c), " +
      "rt AS (SELECT r.query_id, qa.label AS qlabel, qb.label AS clabel, r.rank FROM r JOIN q qa ON r.query_id = qa.vec_id JOIN q qb ON r.vec_id = qb.vec_id WHERE r.rank <= 10)"

  def defs: Seq[QueryDef] = Seq(

    // Gopher-style rule-based quality gate — the canonical pre-filter
    // of LLM corpus pipelines (word-count bounds, mean-word-length
    // band, stopword floor, repetition ceiling), each rule emitted as
    // its own flag so the funnel is auditable per rule, not just as
    // one opaque keep bit. Every threshold is an integer
    // cross-multiply: mean word length ∈ [3,10] is 3·n ≤ chars ≤
    // 10·n, repetition ≤ 20% is 5·max_count ≤ n — no division, no
    // float, bit-stable on any layout.
    QueryDef(
      "quality_gopher_rules",
      (spark, sf) => {
        val wc = Tables.documents(spark, sf)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        gopherRules(wc.groupBy("doc_id").agg(
            sum(col("c")).as("n_words"),
            sum(col("c") * length(col("w"))).as("n_word_chars"),
            sum(when(col("w").isin(StopWords: _*), col("c"))
              .otherwise(0L)).as("n_stop"),
            max(col("c")).as("max_word_cnt")))
          .orderBy("doc_id")
      },
      Some("WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), " +
        "wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2), " +
        "p AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words, " +
        "CAST(sum(c * length(w)) AS BIGINT) AS n_word_chars, " +
        "CAST(sum(CASE WHEN w IN ('the','a','of','in','to') THEN c ELSE 0 END) AS BIGINT) AS n_stop, " +
        "CAST(max(c) AS BIGINT) AS max_word_cnt FROM wc GROUP BY 1) " +
        "SELECT doc_id, n_words, n_word_chars, n_stop, max_word_cnt, " +
        "n_words BETWEEN 50 AND 100000 AS r_len, " +
        "3 * n_words <= n_word_chars AND n_word_chars <= 10 * n_words AS r_mwl, " +
        "n_stop >= 2 AS r_stop, " +
        "5 * max_word_cnt <= n_words AS r_rep, " +
        "(n_words BETWEEN 50 AND 100000) AND (3 * n_words <= n_word_chars AND n_word_chars <= 10 * n_words) " +
        "AND n_stop >= 2 AND 5 * max_word_cnt <= n_words AS keep " +
        "FROM p ORDER BY doc_id"),
      scaleNote = "One map-side-combined (doc, word) count exchange " +
        "feeds every rule — n_words, char mass, stopword mass and " +
        "the repetition max all fall out of the same aggregate, so " +
        "the corpus is read once and the wire carries |doc × " +
        "distinct-word| partials, never raw tokens. All four " +
        "thresholds are integer cross-multiplies (no division, no " +
        "float compare — the 25%-shift trick from ts_changepoint), " +
        "so the gate is bit-identical at any partitioning. At 100 TB " +
        "this runs as the FIRST pass of the ingest funnel " +
        "(corpus_quality_funnel counts what each rule kills); " +
        "per-rule flags instead of one keep bit are what let a rule " +
        "change be diffed release-over-release without recomputing " +
        "the corpus."),

    // Heaps-law vocabulary growth curve — vocab size as the corpus
    // grows doc-by-doc, sampled at deciles: THE diagnostic for
    // near-duplicate saturation (a corpus whose curve flattens early
    // is re-crawling itself) and for tokenizer-vocab sizing. The
    // "vocabulary" unit is the word-3-gram SHINGLE (the dedup
    // family's unit — the synthetic corpus's unigram vocab saturates
    // in the first decile, which is itself the lesson: pick the
    // n-gram order at which the corpus still has novelty). A
    // shingle's contribution is its FIRST document (min doc_id), so
    // the whole curve comes from one shingle-level aggregate + a
    // running sum over the per-doc novelty counts — no quadratic
    // prefix recompute.
    QueryDef(
      "text_heaps_curve",
      (spark, sf) => {
        val ws = split(col("text"), " ")
        val docs = Tables.documents(spark, sf)
          .select(col("doc_id"), (size(ws)).as("n_toks"))
        val novelty = Tables.documents(spark, sf)
          .filter(size(ws) >= 3)
          .select(col("doc_id"), ws.as("ws"))
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(ws) - 2), " +
              "i -> concat_ws(' ', ws[i-1], ws[i], ws[i+1]))")).as("w"))
          .groupBy("w").agg(min(col("doc_id")).as("first_doc"))
          .groupBy("first_doc").agg(count(lit(1)).as("new_words"))
        val mx = Tables.documents(spark, sf)
          .agg(max(col("doc_id")).as("mx"))
        val perDoc = docs
          .join(novelty, col("doc_id") === col("first_doc"), "left")
          .select(col("doc_id"), col("n_toks"),
            coalesce(col("new_words"), lit(0L)).as("new_words"))
          .crossJoin(broadcast(mx))
          .withColumn("decile", expr("(doc_id * 10) div (mx + 1) + 1"))
        // running totals over the |docs|-row per-doc novelty table
        // (aggregate-collapsed before the global window, ab_test_ks'
        // ECDF discipline), then one row per decile
        val w = Window.orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        perDoc
          .withColumn("cum_docs", count(lit(1)).over(w))
          .withColumn("cum_tokens", sum(col("n_toks")).over(w))
          .withColumn("cum_vocab", sum(col("new_words")).over(w))
          .groupBy("decile")
          .agg(max(col("cum_docs")).as("n_docs"),
            max(col("cum_tokens")).as("n_tokens"),
            max(col("cum_vocab")).as("vocab"))
          .orderBy("decile")
      },
      Some("WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS n_toks FROM documents), " +
        "sh AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS w FROM " +
        "(SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE len(string_split(text, ' ')) >= 3), " +
        "unnest(range(1, len(ws) - 1)) AS t(i)), " +
        "nv AS (SELECT first_doc, count(*) AS new_words FROM " +
        "(SELECT w, min(doc_id) AS first_doc FROM sh GROUP BY w) GROUP BY 1), " +
        "mx AS (SELECT max(doc_id) AS mx FROM documents), " +
        "p AS (SELECT d.doc_id, d.n_toks, COALESCE(nv.new_words, 0) AS new_words, " +
        "(d.doc_id * 10) // (mx.mx + 1) + 1 AS decile FROM d LEFT JOIN nv ON d.doc_id = nv.first_doc CROSS JOIN mx), " +
        "c AS (SELECT decile, count(*) OVER win AS cum_docs, sum(n_toks) OVER win AS cum_tokens, " +
        "sum(new_words) OVER win AS cum_vocab FROM p " +
        "WINDOW win AS (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
        "SELECT decile, CAST(max(cum_docs) AS BIGINT) AS n_docs, " +
        "CAST(max(cum_tokens) AS BIGINT) AS n_tokens, " +
        "CAST(max(cum_vocab) AS BIGINT) AS vocab " +
        "FROM c GROUP BY decile ORDER BY decile"),
      scaleNote = "The corpus collapses twice before any global " +
        "operation: shingles → per-shingle first-doc (one map-side-" +
        "combined min agg — a shingle's curve contribution is a single " +
        "row however often it occurs), then shingles → per-doc novelty " +
        "counts. The running window therefore sorts |docs| rows, not " +
        "tokens; at 100 TB shard it by decile with cumulative " +
        "carry-in (pack_sequences' distributed prefix-sum pattern) " +
        "or coarsen the x-axis to per-shard checkpoints. The curve " +
        "itself is the dedup dashboard's leading indicator: " +
        "vocabulary flattening BEFORE token count flattens = the " +
        "crawl is revisiting content (dedup_rate_by_source tells " +
        "you which source)."),

    // Shingle document-frequency histogram — the diagnostic that
    // TUNES every LSH/banding knob this engine ships (MaxBucketDocs,
    // the containment df-cap, band count): how many word-3-gram
    // shingles occur in exactly k documents. A corpus whose df tail
    // explodes is boilerplate-heavy (text_boilerplate's input
    // signal); the histogram is the evidence for the hot-bucket cap
    // values instead of folklore.
    QueryDef(
      "dedup_shingle_stats",
      (spark, sf) => {
        val ws = split(col("text"), " ")
        // r17 (guide §2.3 "narrower types"): hashing the shingle
        // (xxhash64, the ngram_jaccard 8-byte basis) BEFORE the
        // (doc, shingle) distinct shuffles 8-byte keys, not ~25-byte
        // strings; df counts are identical while no two shingles
        // collide (~2^-64, QualityOpsSpec's certificate).
        Tables.documents(spark, sf)
          .filter(size(ws) >= 3)
          .select(col("doc_id"), ws.as("ws"))
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(ws) - 2), " +
              "i -> concat_ws(' ', ws[i-1], ws[i], ws[i+1]))")).as("sh"))
          .select(col("doc_id"), xxhash64(col("sh")).as("h"))
          .distinct()
          .groupBy("h").agg(count(lit(1)).as("df"))
          .groupBy("df").agg(count(lit(1)).as("n_shingles"))
          .orderBy("df")
      },
      Some("WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE len(string_split(text, ' ')) >= 3), " +
        "g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh " +
        "FROM w, unnest(range(1, len(ws) - 1)) AS t(i)), " +
        "d AS (SELECT sh, count(*) AS df FROM g GROUP BY 1) " +
        "SELECT CAST(df AS BIGINT) AS df, count(*) AS n_shingles FROM d GROUP BY df ORDER BY df"),
      scaleNote = "Shingling is scan-local (the 3-gram transform runs " +
        "inside codegen on the split array), the (doc, shingle) " +
        "distinct and both aggregates are map-side combinable, and " +
        "the output is |distinct df values| rows — bounded by max " +
        "df, essentially constant. Shingles are hashed first at " +
        "every scale (xxhash64, ngram_jaccard's 8-byte basis), so " +
        "the distinct exchange carries 8-byte keys, not text — exact " +
        "while no two shingles collide (~2^-64 per pair; " +
        "QualityOpsSpec certifies none at sf0.001/sf0.01). This is " +
        "the measurement behind every df-cap in the dedup family: " +
        "MaxBucketDocs=64 is defensible exactly because the df tail " +
        "above 64 is boilerplate, and THIS query is how you check " +
        "that on a new corpus before trusting the cap."),

    // Curriculum staging by mean word length — deterministic decile
    // stages over a quality score with VALUE-GROUPED boundaries:
    // equal-score docs always land in the same stage (ntile would
    // split ties by partition order — not reproducible), because the
    // stage is derived from the score-value ECDF, not from row
    // positions. The staging every curriculum-training run needs to
    // be byte-reproducible across reruns and engines.
    QueryDef(
      "corpus_curriculum",
      (spark, sf) => {
        val wc = Tables.documents(spark, sf)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .groupBy("doc_id").agg(
            count(lit(1)).as("n_words"),
            sum(length(col("w"))).as("n_word_chars"))
          .withColumn("mwl_micro",
            expr("(1000000 * n_word_chars) div n_words"))
        val perVal = wc.groupBy("mwl_micro")
          .agg(count(lit(1)).as("c"), sum(col("n_words")).as("toks"))
        val n = wc.agg(count(lit(1)).as("n"))
        // stage from the value-level ECDF: cumulative count BEFORE
        // the value group decides the stage, so a tie group is
        // atomic — the window runs on |distinct scores| rows
        val w = Window.orderBy("mwl_micro")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        perVal
          .withColumn("cum", sum(col("c")).over(w))
          .crossJoin(broadcast(n))
          .withColumn("stage", expr("((cum - c) * 10) div n + 1"))
          .groupBy("stage")
          .agg(sum(col("c")).as("n_docs"),
            sum(col("toks")).as("n_tokens"),
            min(col("mwl_micro")).as("min_mwl_micro"),
            max(col("mwl_micro")).as("max_mwl_micro"))
          .orderBy("stage")
      },
      Some("WITH wc AS (SELECT doc_id, count(*) AS n_words, sum(length(w)) AS n_word_chars FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY 1), " +
        "sc AS (SELECT doc_id, n_words, (1000000 * n_word_chars) // n_words AS mwl_micro FROM wc), " +
        "pv AS (SELECT mwl_micro, count(*) AS c, CAST(sum(n_words) AS BIGINT) AS toks FROM sc GROUP BY 1), " +
        "n AS (SELECT count(*) AS n FROM sc), " +
        "st AS (SELECT mwl_micro, c, toks, ((sum(c) OVER (ORDER BY mwl_micro ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c) * 10) // n.n + 1 AS stage " +
        "FROM pv CROSS JOIN n) " +
        "SELECT CAST(stage AS BIGINT) AS stage, CAST(sum(c) AS BIGINT) AS n_docs, " +
        "CAST(sum(toks) AS BIGINT) AS n_tokens, " +
        "CAST(min(mwl_micro) AS BIGINT) AS min_mwl_micro, " +
        "CAST(max(mwl_micro) AS BIGINT) AS max_mwl_micro " +
        "FROM st GROUP BY stage ORDER BY stage"),
      scaleNote = "The staging window runs on the VALUE-count table " +
        "(|distinct scores| rows after one map-side-combined agg), " +
        "never on docs — the same collapse-then-window discipline as " +
        "ab_test_ks' ECDF, and the reason this scales where ntile " +
        "(a global row sort) does not. Value-grouped boundaries are " +
        "also the correctness point: stages are a pure function of " +
        "the score DISTRIBUTION, so reruns, engine swaps, and " +
        "repartitions produce byte-identical stage assignments — " +
        "ntile's positional split of tie groups is partition-order- " +
        "dependent, the reproducibility bug class sample_consistent " +
        "exists to kill. Per-stage token sums feed corpus_epochs' " +
        "scheduling directly."),

    // Reciprocal-rank fusion of a lexical and a semantic retrieval
    // list — the standard hybrid-search combiner (and the retrieval
    // side of every RAG data pipeline): top-100 by query-term count
    // (BM25's af-only skeleton) fused with top-100 by embedding
    // cosine to the query vector, score = Σ 1/(60+rank) computed as
    // an exact integer floor division in nano units — RRF needs no
    // score calibration between the two systems, which is exactly
    // why it fuses heterogeneous rankers safely.
    QueryDef(
      "rank_fusion_rrf",
      (spark, sf) => {
        // lexical arm: occurrences of the fixed query terms
        val lexTop = Tables.documents(spark, sf)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .filter(col("w").isin("join", "merge", "group"))
          .groupBy("doc_id").agg(count(lit(1)).as("lex_score"))
          .orderBy(col("lex_score").desc, col("doc_id").asc)
          .limit(100)
        val wl = Window.orderBy(col("lex_score").desc, col("doc_id").asc)
        val lex = lexTop.withColumn("lex_rank", row_number().over(wl))
          .select(col("doc_id"), col("lex_rank"))
        // semantic arm: cosine to vec 0 (the house integer-quantized
        // dot — ann_topk's scoring), top-100
        val q = Tables.embeddings(spark, sf)
          .select(col("vec_id"), graft.engine.Vec.quantize(col("embedding")).as("qv"))
          .withColumn("n2", graft.engine.Vec.norm2(col("qv")))
        // limit(1) is a semantic no-op (vec_id is unique) that makes
        // the broadcast side PROVABLY 1-row to the structural BNLJ
        // sweep — a self-certifying plan instead of a named exemption
        val qv = q.filter(col("vec_id") === 0)
          .select(col("qv").as("qq"), col("n2").as("qn")).limit(1)
        val semTop = q.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(qv))
          .withColumn("dot", graft.plans.LongArrayDot.dot(col("qq"), col("qv")))
          .withColumn("cos", graft.engine.Vec.cosine(col("dot"), col("qn"), col("n2")))
          .orderBy(col("cos").desc, col("vec_id").asc)
          .limit(100)
        val ws = Window.orderBy(col("cos").desc, col("vec_id").asc)
        val sem = semTop.withColumn("sem_rank", row_number().over(ws))
          .select(col("vec_id").as("doc_id"), col("sem_rank"))
        lex.join(sem, Seq("doc_id"), "full_outer")
          .withColumn("rrf_nano",
            coalesce(expr("1000000000 div (60 + lex_rank)"), lit(0L)) +
              coalesce(expr("1000000000 div (60 + sem_rank)"), lit(0L)))
          .orderBy(col("rrf_nano").desc, col("doc_id").asc)
          .limit(20)
          .select(col("doc_id"), col("lex_rank"), col("sem_rank"), col("rrf_nano"))
      },
      Some("WITH lt AS (SELECT doc_id, count(*) AS lex_score FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) " +
        "WHERE w IN ('join','merge','group') GROUP BY doc_id ORDER BY lex_score DESC, doc_id LIMIT 100), " +
        "lex AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY lex_score DESC, doc_id) AS INT) AS lex_rank FROM lt), " +
        "q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1048576) AS BIGINT)) AS qv FROM embeddings), " +
        "n AS (SELECT vec_id, CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS norm2 FROM q), " +
        "e AS (SELECT vec_id, unnest(qv) AS v, generate_subscripts(qv, 1) AS idx FROM q), " +
        "d AS (SELECT b.vec_id, CAST(sum(a.v*b.v) AS BIGINT) AS dot FROM e a JOIN e b ON a.idx = b.idx " +
        "WHERE a.vec_id = 0 AND b.vec_id <> 0 GROUP BY 1), " +
        "st AS (SELECT d.vec_id, round(CAST(dot AS DOUBLE)/(sqrt(CAST(n1.norm2 AS DOUBLE))*sqrt(CAST(n2.norm2 AS DOUBLE))), 4) AS cos " +
        "FROM d JOIN n n1 ON n1.vec_id = 0 JOIN n n2 ON d.vec_id = n2.vec_id " +
        "ORDER BY cos DESC, d.vec_id LIMIT 100), " +
        "sem AS (SELECT vec_id AS doc_id, CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS INT) AS sem_rank FROM st) " +
        "SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, lex_rank, sem_rank, " +
        "CAST(COALESCE(1000000000 // (60 + lex_rank), 0) + COALESCE(1000000000 // (60 + sem_rank), 0) AS BIGINT) AS rrf_nano " +
        "FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id " +
        "ORDER BY rrf_nano DESC, COALESCE(lex.doc_id, sem.doc_id) LIMIT 20"),
      scaleNote = "Each arm is independently scale-safe: the lexical " +
        "arm is one pruned scan + map-side-combined term count + " +
        "TakeOrderedAndProject (top-100, no global sort); the " +
        "semantic arm broadcasts ONE query vector and scores " +
        "candidates partition-locally (ann_topk's linear pass — or " +
        "ann_ivf's bucket probe when the corpus outgrows brute " +
        "force), again TakeOrdered. The fusion then joins two " +
        "100-row lists — driver-trivial at any corpus size, which " +
        "is RRF's architectural advantage: the combiner only ever " +
        "touches top-k lists, so rankers scale independently. " +
        "Integer nano-unit reciprocals make the fused order " +
        "bit-stable (1e9 div (60+r) is exact; float 1/(60+r) sums " +
        "would tie-break on rounding noise). Ranks stay bounded by " +
        "construction, so the global rank windows run on ≤ 100 " +
        "rows."),

    // NDCG@10 retrieval evaluation (r13) — the GRADED metric the
    // retrieval stack was missing: ann_recall_curve counts how many
    // true neighbors the index returns ANYWHERE in top-k (set
    // recall); NDCG scores WHERE they land (a hit at rank 1 is worth
    // 3.5× one at rank 10) — the metric RAG/search evals actually
    // report. Queries = the fixed 16 lowest vec_ids (ann_topk's O(1)
    // broadcast-side rule), candidates = everyone else, relevance =
    // label match (the corpus's own ground truth), ranking = the
    // house quantized cosine with vec_id tiebreak (a total order, so
    // rank assignment is bit-stable). The discount table 1/log2(r+1)
    // is TEN STATED micro-unit literals shared verbatim by both
    // engines ([[NdcgGainsMicro]] — computed once offline, so no
    // runtime log() can diverge); DCG/IDCG are exact integer sums of
    // those literals and NDCG is one ppm floor division. IDCG uses
    // min(10, |relevant pool|) ideal positions — the honest
    // normalizer when a label has fewer than k members.
    QueryDef(
      "rank_ndcg",
      (spark, sf) => {
        val labCnt = Tables.embeddings(spark, sf)
          .groupBy("label").agg(count(lit(1)).as("nl"))
          .select(col("label").as("qlabel"), col("nl"))
        val gainDf = {
          val session = spark
          import session.implicits._
          NdcgGainsMicro.zipWithIndex
            .map { case (g, i) => (i + 1, g) }
            .toDF("rank", "gain_micro")
        }
        val top = annRankTable(spark, sf).join(broadcast(gainDf), "rank")
        val per = top.groupBy("query_id", "qlabel")
          .agg(
            sum(when(col("label") === col("qlabel"), 1L).otherwise(0L))
              .as("n_rel_top10"),
            sum(when(col("label") === col("qlabel"), col("gain_micro"))
              .otherwise(0L)).as("dcg_micro"))
        // broadcast the LITERAL side: the walker proves a 10-row
        // LocalTableScan bound; the label-count aggregate cannot be
        // proven bounded (its leaf is a file scan)
        val idcg = labCnt
          .join(broadcast(gainDf),
            col("rank") <= least(lit(10), col("nl") - lit(1L)))
          .groupBy("qlabel")
          .agg(max(col("nl") - lit(1L)).as("n_rel_pool"),
            sum(col("gain_micro")).as("idcg_micro"))
        // LEFT join (r13 ADVICE #3): a query whose label has no other
        // member (nl − 1 = 0) gets NO idcg row from the theta join,
        // and an inner join would silently DROP the query — the eval
        // under-reporting coverage instead of surfacing the
        // undefined-NDCG case. rank_mrr's no-hit-stays-in discipline:
        // the query row survives with n_rel_pool = 0 and an explicit
        // NULL ndcg_ppm (NULL idcg propagates through the div).
        per.join(broadcast(idcg), Seq("qlabel"), "left")
          .select(col("query_id"), col("qlabel"),
            coalesce(col("n_rel_pool"), lit(0L)).as("n_rel_pool"),
            col("n_rel_top10"), col("dcg_micro"), col("idcg_micro"),
            expr("(dcg_micro * 1000000) div idcg_micro").as("ndcg_ppm"))
          .orderBy("query_id")
      },
      Some(s"WITH $AnnRankSqlCtes, " +
        s"g AS ($NdcgGainsValuesSql), " +
        "lc AS (SELECT label AS qlabel, count(*) AS nl FROM q GROUP BY 1), " +
        "t AS (SELECT rt.query_id, rt.qlabel, rt.clabel, g.gain_micro FROM rt JOIN g ON rt.rank = g.rank), " +
        "p AS (SELECT query_id, qlabel, CAST(sum(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_top10, CAST(sum(CASE WHEN clabel = qlabel THEN gain_micro ELSE 0 END) AS BIGINT) AS dcg_micro FROM t GROUP BY 1, 2), " +
        "i AS (SELECT qlabel, CAST(max(nl - 1) AS BIGINT) AS n_rel_pool, CAST(sum(gain_micro) AS BIGINT) AS idcg_micro FROM lc JOIN g ON g.rank <= least(10, nl - 1) GROUP BY 1) " +
        "SELECT query_id, p.qlabel, COALESCE(n_rel_pool, 0) AS n_rel_pool, n_rel_top10, dcg_micro, idcg_micro, (dcg_micro * 1000000) // idcg_micro AS ndcg_ppm " +
        "FROM p LEFT JOIN i ON p.qlabel = i.qlabel ORDER BY query_id"),
      scaleNote = "The eval inherits ann_topk's economics: a FIXED " +
        "16-query broadcast side (O(1) in corpus size), candidates " +
        "scored partition-locally, WindowGroupLimit keeping 10 rows " +
        "per query through the rank window — total work is " +
        "16×|corpus| and nothing quadratic exists. The discount " +
        "table and per-label pool counts are literal/tiny broadcast " +
        "dims. The float fence is total: discounts are STATED " +
        "micro-literals (no runtime log), relevance is an equality, " +
        "DCG/IDCG are exact BIGINT sums, NDCG one ppm floor " +
        "division — the leaderboard cannot move with partitioning. " +
        "Swapping the exact ranker for ann_ivf's probe measures the " +
        "INDEX's NDCG against this exact baseline; graded relevance " +
        "(2^rel−1 gains) is a CASE swap on the same plan."),

    // MRR + hit@k (r13) — the FIRST-hit metrics beside rank_ndcg's
    // graded one, off the SAME shared rank table ([[annRankTable]]):
    // RAG answer-retrieval cares where the first usable passage
    // lands (MRR), product search cares whether anything relevant is
    // on page one (hit@k) — both recompose from one min() over the
    // relevant ranks. The reciprocal is rank_fusion_rrf's exact
    // integer nano-unit floor division (1e9 div r — never float
    // 1/r), a no-hit query scores 0 and STAYS IN the table (dropping
    // it inflates MRR, the classic eval bug — ab_test_srm's
    // denominator discipline), and hit flags are rank comparisons.
    // Zero floats; the leaderboard is bit-stable anywhere.
    QueryDef(
      "rank_mrr",
      (spark, sf) => {
        annRankTable(spark, sf)
          .groupBy("query_id", "qlabel")
          .agg(min(when(col("label") === col("qlabel"), col("rank")))
            .as("first_rel_rank"))
          .select(col("query_id"), col("qlabel"),
            col("first_rel_rank").cast("long").as("first_rel_rank"),
            coalesce(expr("1000000000 div first_rel_rank"), lit(0L))
              .as("rr_nano"),
            coalesce(col("first_rel_rank") <= 1, lit(false)).as("hit_at_1"),
            coalesce(col("first_rel_rank") <= 3, lit(false)).as("hit_at_3"),
            coalesce(col("first_rel_rank") <= 10, lit(false)).as("hit_at_10"))
          .orderBy("query_id")
      },
      Some(s"WITH $AnnRankSqlCtes, " +
        "p AS (SELECT query_id, qlabel, CAST(min(CASE WHEN clabel = qlabel THEN rank END) AS BIGINT) AS first_rel_rank FROM rt GROUP BY 1, 2) " +
        "SELECT query_id, qlabel, first_rel_rank, " +
        "COALESCE(1000000000 // first_rel_rank, 0) AS rr_nano, " +
        "COALESCE(first_rel_rank <= 1, FALSE) AS hit_at_1, " +
        "COALESCE(first_rel_rank <= 3, FALSE) AS hit_at_3, " +
        "COALESCE(first_rel_rank <= 10, FALSE) AS hit_at_10 " +
        "FROM p ORDER BY query_id"),
      scaleNote = "rank_ndcg's economics verbatim (the two SHARE the " +
        "rank table: fixed 16-query broadcast, partition-local " +
        "scoring, WindowGroupLimit at 10) with one aggregate on top " +
        "— at 100 TB a combined eval computes both metrics from ONE " +
        "materialized rank table instead of two scoring passes " +
        "(sink_walk_corpus's materialize-once pattern applies when " +
        "the eval suite grows). Integer nano reciprocals and rank " +
        "compares only — no float path exists; the mean MRR any " +
        "dashboard reports is an exact BIGINT sum over these rows " +
        "divided once at the edge. Deeper cutoffs (hit@100) change " +
        "the rank-table limit, not the plan."),

    // MAP@10 (r16) — the ORDER-SENSITIVE set metric completing the
    // retrieval-eval triad off the SAME shared rank table: NDCG
    // grades WHERE hits land under a stated discount, MRR scores the
    // FIRST hit only, AP integrates precision over EVERY hit — the
    // metric that distinguishes a ranker that clusters its relevant
    // results early from one that scatters them through the page,
    // which neither sibling sees (MRR ignores hits 2..k; NDCG's
    // fixed discounts under-penalize late clustering). Per query:
    // precision@r at each relevant rank r as an exact micro floor
    // division ((hits_so_far·1e6) div r), summed, then normalized by
    // min(10, |relevant pool|) — the honest AP@k denominator (k caps
    // what the cutoff can see of a larger pool). The metric is
    // DEFINED on the floored integers (both engines compose the
    // identical floor sequence), so the leaderboard is bit-stable on
    // any layout; a pool-less query keeps its row with an explicit
    // NULL ap_ppm (rank_ndcg's no-drop discipline).
    QueryDef(
      "rank_map",
      (spark, sf) => {
        val labCnt = Tables.embeddings(spark, sf)
          .groupBy("label").agg(count(lit(1)).as("nl"))
          .select(col("label").as("qlabel"),
            (col("nl") - lit(1L)).as("n_rel_pool"))
        val w = Window.partitionBy("query_id").orderBy("rank")
        val per = annRankTable(spark, sf)
          .withColumn("hit",
            when(col("label") === col("qlabel"), 1L).otherwise(0L))
          .withColumn("cum", sum(col("hit")).over(w))
          .withColumn("contrib_micro",
            when(col("hit") === 1L, expr("(cum * 1000000) div rank"))
              .otherwise(0L))
          .groupBy("query_id", "qlabel")
          .agg(sum(col("hit")).as("n_rel_top10"),
            sum(col("contrib_micro")).as("ap_sum_micro"))
        per.join(broadcast(labCnt), Seq("qlabel"), "left")
          .select(col("query_id"), col("qlabel"),
            coalesce(col("n_rel_pool"), lit(0L)).as("n_rel_pool"),
            col("n_rel_top10"), col("ap_sum_micro"),
            when(least(lit(10L), col("n_rel_pool")) <= 0L,
              lit(null).cast("long"))
              .otherwise(expr(
                "ap_sum_micro div least(10, n_rel_pool)"))
              .as("ap_micro"))
          .orderBy("query_id")
      },
      Some(s"WITH $AnnRankSqlCtes, " +
        "lc AS (SELECT label AS qlabel, CAST(count(*) - 1 AS BIGINT) AS n_rel_pool FROM q GROUP BY 1), " +
        "h AS (SELECT query_id, qlabel, rank, CASE WHEN clabel = qlabel THEN 1 ELSE 0 END AS hit FROM rt), " +
        "cum AS (SELECT *, sum(hit) OVER (PARTITION BY query_id ORDER BY rank) AS c FROM h), " +
        "p AS (SELECT query_id, qlabel, CAST(sum(hit) AS BIGINT) AS n_rel_top10, " +
        "CAST(sum(CASE WHEN hit = 1 THEN (c * 1000000) // rank ELSE 0 END) AS BIGINT) AS ap_sum_micro FROM cum GROUP BY 1, 2) " +
        "SELECT query_id, p.qlabel, COALESCE(lc.n_rel_pool, 0) AS n_rel_pool, n_rel_top10, ap_sum_micro, " +
        "CASE WHEN least(10, lc.n_rel_pool) <= 0 THEN NULL ELSE ap_sum_micro // least(10, lc.n_rel_pool) END AS ap_micro " +
        "FROM p LEFT JOIN lc ON p.qlabel = lc.qlabel ORDER BY query_id"),
      scaleNote = "rank_ndcg's economics verbatim — the triad " +
        "SHARES one rank table (fixed 16-query broadcast side, " +
        "partition-local scoring, WindowGroupLimit keeping 10 rows " +
        "per query), so adding AP costs one 160-row cumulative " +
        "window + aggregate, and at 100 TB all three metrics read " +
        "ONE materialized rank table (the sink_walk_corpus pattern " +
        "when the eval suite grows — the rank table build is the " +
        "only corpus-sized stage any of them has). Exact integer " +
        "micro floors everywhere: precision contributions and the " +
        "final AP are floor divisions of BIGINT counters, so the " +
        "eval is reproducible bit-for-bit across engines, reruns, " +
        "and partitionings — the property a regression gate on " +
        "retrieval quality needs. Deeper cutoffs change the rank-" +
        "table limit literal, not the plan."),

    // Zipf rank–frequency fit — the corpus law text_heaps_curve
    // doesn't measure (Heaps: how VOCABULARY grows with corpus; Zipf:
    // how frequency DECAYS with rank — healthy natural text fits
    // ln f ≈ a − s·ln r with s ≈ 1, and a corrupted or templated
    // corpus shows up as a broken slope or low R², which makes this
    // a quality gate, not a curiosity). OLS over the top-1000
    // (ln rank, ln count) pairs: the two logs are the ONLY floats,
    // each composed once per vocab row and floor-quantized to 1e-6
    // before anything aggregates — the five OLS moments are then
    // exact BIGINT sums (ts_linear_forecast's discipline), and
    // slope/intercept/R² compose from them in one edge expression.
    QueryDef(
      "text_zipf_curve",
      (spark, sf) => {
        val counts = Tables.documents(spark, sf)
          .select(explode(split(col("text"), " ")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c"))
        val win = Window.orderBy(col("c").desc, col("w").asc)
        val pts = counts
          .withColumn("r", row_number().over(win).cast("long"))
          .filter(col("r") <= 1000)
          .select(
            floor(log(col("r").cast("double")) * 1000000).cast("long").as("x"),
            floor(log(col("c").cast("double")) * 1000000).cast("long").as("y"))
        val m = pts.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        val n = col("n").cast("double")
        val covn = n * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")
        val varxn = n * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")
        val varyn = n * col("syy").cast("double") -
          col("sy").cast("double") * col("sy").cast("double")
        m.select(col("n").as("n_ranks"),
            round(covn / varxn, 4).as("zipf_slope"),
            round((col("sy").cast("double") -
              (covn / varxn) * col("sx").cast("double")) / n / 1e6, 4)
              .as("intercept_ln"),
            round(covn * covn / (varxn * varyn), 4).as("r2"))
      },
      Some("WITH cnt AS (SELECT w, count(*) AS c FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY 1), " +
        "pts AS (SELECT CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS x, CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS y FROM " +
        "(SELECT c, row_number() OVER (ORDER BY c DESC, w ASC) AS r FROM cnt) WHERE r <= 1000), " +
        "m AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, " +
        "CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy FROM pts) " +
        "SELECT n AS n_ranks, " +
        "round((CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)), 4) AS zipf_slope, " +
        "round((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) / 1e6, 4) AS intercept_ln, " +
        "round((CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) * (CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) / ((CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) * (CAST(n AS DOUBLE)*syy - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 4) AS r2 " +
        "FROM m"),
      scaleNote = "Token counting is text_tokens' map-side-collapsed " +
        "pass (the wire carries |vocab| partials, never tokens); the " +
        "global rank window runs on the aggregate-collapsed vocab " +
        "table capped to the top-1000 head (TakeOrdered-class work — " +
        "the Zipf HEAD is the fit target by definition, so the cap " +
        "is semantics, not a shortcut), and the OLS moments are five " +
        "BIGINT sums over ≤ 1000 rows. Cross-engine float risk is " +
        "confined to two ln() calls per vocab row, each quantized " +
        "to 1e-6 BEFORE aggregation — a 1-ulp libm divergence moves " +
        "a floor boundary with probability ~1e-10 per row, and the " +
        "hash gate would catch it loudly. Per-language or per-source " +
        "fits add the key to the groupBy and swap the global window " +
        "for a partitioned one — same moments, same edge algebra."))
}
