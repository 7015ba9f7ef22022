package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.{Dsl, QueryDef, QueryGroup, Tables}
import Dsl._

/** Text analysis & vector similarity — SURVEY.md §2.1 #52-56 plus the
  * LLM-training-pipeline operators mandated by the north star (language
  * ID, quality scoring, fingerprinting, n-gram Jaccard near-dup, ANN
  * top-k). Near-dup MinHash-LSH (#58) lives in [[NearDup]].
  *
  * Float determinism strategy: embeddings are float32; any float
  * aggregation is order-sensitive across engines. We quantize each
  * element with floor(x · 2^20) — widening float→double is exact,
  * multiplying by a power of two is an exponent shift (exact), floor is
  * exact — then do all reductions in 64-bit integers (associative,
  * order-independent) and finish with a single IEEE-correctly-rounded
  * division/sqrt, which is bit-identical on both engines.
  */
object TextVector extends QueryGroup {

  /** Marker-vote language ID per doc: (doc_id, lang, pred_lang) —
    * shared by text_lang_id (the predictions) and text_lang_id_eval
    * (the confusion matrix over them). */
  private def langPredictions(spark: org.apache.spark.sql.SparkSession,
      sf: String): org.apache.spark.sql.DataFrame = {
    val session = spark
    import session.implicits._
    val markers = Seq(
      ("scan", "en"), ("join", "en"), ("merge", "fr"), ("window", "fr"),
      ("sort", "de"), ("group", "de"), ("query", "es"), ("value", "es"),
      ("key", "zh"), ("line", "zh")).toDF("w", "lang_guess")
    val scored = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .join(broadcast(markers), Seq("w"))
      .groupBy("doc_id", "lang_guess")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(max(struct(col("cnt").as("c"), col("lang_guess").as("l")))
        .getField("l").as("pred"))
    Tables.documents(spark, sf)
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("pred"), lit("und")).as("pred_lang"))
  }

  /** The lang-ID pipeline as a DuckDB CTE body ending in
    * `p(doc_id, lang, pred_lang)`. */
  private val LangPredSql: String =
    "p AS (SELECT d.doc_id, d.lang, COALESCE(s.pred, 'und') AS pred_lang FROM documents d LEFT JOIN (SELECT doc_id, (max(struct_pack(c := cnt, l := lang_guess))).l AS pred FROM (SELECT doc_id, lang_guess, count(*) AS cnt FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t JOIN (VALUES ('scan','en'),('join','en'),('merge','fr'),('window','fr'),('sort','de'),('group','de'),('query','es'),('value','es'),('key','zh'),('line','zh')) m(w, lang_guess) ON t.w = m.w GROUP BY doc_id, lang_guess) GROUP BY doc_id) s ON d.doc_id = s.doc_id)"

  /** Batch-perceptron machinery shared by text_classifier_perceptron
    * (the training curve) and eval_calibration (which calibrates the
    * trained epoch-3 margin): marker-word feature space, the per-doc
    * integer feature frame with the ±1 en-vs-rest label, and the three
    * epoch weight tables. All integer arithmetic — each epoch is ONE
    * map-side-combined aggregate with the 1-row entering weights
    * broadcast in. */
  val PercWords: Seq[String] =
    Seq("scan", "join", "merge", "sort", "query", "key")
  private[queries] val PercNames: Seq[String] =
    PercWords.map(w => s"x_$w") :+ "x_bias"

  private def percFeatures(spark: org.apache.spark.sql.SparkSession,
      sf: String): org.apache.spark.sql.DataFrame = {
    val tok = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
    val cnts = PercWords.map(w =>
      sum(when(col("w") === w, 1L).otherwise(0L)).as(s"x_$w"))
    tok.groupBy("doc_id", "lang")
      .agg(cnts.head, cnts.tail: _*)
      .withColumn("x_bias", lit(1L))
      .withColumn("y", when(col("lang") === "en", 1L).otherwise(-1L))
  }

  /** Integer margin w·x under the `wp`-prefixed weight columns. */
  private def percDotW(wp: String): org.apache.spark.sql.Column =
    PercNames.indices.map(i => col(s"${wp}_$i") * col(PercNames(i)))
      .reduce(_ + _)

  private def percEpochAgg(src: org.apache.spark.sql.DataFrame,
      prev: String, cur: String): org.apache.spark.sql.DataFrame = {
    val upd = PercNames.indices.map(i =>
      (first(col(s"${prev}_$i")) +
        sum(when(col("mis"), col("y") * col(PercNames(i))).otherwise(0L)))
        .as(s"${cur}_$i"))
    val extras = Seq(
      sum(when(col("mis"), 1L).otherwise(0L)).as("n_mis"),
      first(col("n_docs")).as("n_docs"))
    src.withColumn("mis", col("y") * percDotW(prev) <= 0)
      .agg(upd.head, (upd.tail ++ extras): _*)
  }

  /** (feature frame, epoch-1, epoch-2, epoch-3 weight tables). */
  private def percStages(spark: org.apache.spark.sql.SparkSession,
      sf: String): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) = {
    val f = percFeatures(spark, sf)
    val w1aggs = PercNames.indices.map(i =>
      sum(col("y") * col(PercNames(i))).as(s"w1_$i")) :+
      count(lit(1)).as("n_docs")
    val w1 = f.agg(w1aggs.head, w1aggs.tail: _*)
    val s2 = percEpochAgg(f.crossJoin(broadcast(w1)), "w1", "w2")
    val s3 = percEpochAgg(f.crossJoin(broadcast(s2)), "w2", "w3")
    (f, w1, s2, s3)
  }

  /** The oracle-side training chain: CTEs t → f → at (epoch-1 weights
    * a0..a6 + n_docs) → bt (epoch 2, b0..) → ct (epoch 3, c0..), shared
    * verbatim by both consumers' oracles. */
  private[queries] val PercSqlDot: String => String = p =>
    PercNames.indices.map(i => s"$p$i*${PercNames(i)}").mkString(" + ")
  private[queries] val PercSqlCtes: String = {
    val cnt = PercWords.map(w =>
      s"CAST(sum(CASE WHEN w = '$w' THEN 1 ELSE 0 END) AS BIGINT) AS x_$w")
      .mkString(", ")
    val round2 = (src: String, prev: String, cur: String, m: String) =>
      s"$m AS (SELECT *, y*(${PercSqlDot(prev)}) <= 0 AS mis FROM $src), " +
        s"${cur}t AS (SELECT " +
        PercNames.indices.map(i => s"CAST(any_value(${prev}$i) + sum(CASE WHEN mis THEN y*${PercNames(i)} ELSE 0 END) AS BIGINT) AS ${cur}$i")
          .mkString(", ") +
        s", CAST(sum(CASE WHEN mis THEN 1 ELSE 0 END) AS BIGINT) AS n_mis, any_value(n_docs) AS n_docs FROM $m)"
    "t AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents), " +
      s"f AS (SELECT doc_id, $cnt, CAST(1 AS BIGINT) AS x_bias, " +
      "CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y FROM t GROUP BY doc_id, lang), " +
      "at AS (SELECT " +
      PercNames.indices.map(i => s"CAST(sum(y*${PercNames(i)}) AS BIGINT) AS a$i").mkString(", ") +
      ", count(*) AS n_docs FROM f), " +
      "e2 AS (SELECT f.*, at.* FROM f CROSS JOIN at), " +
      round2("e2", "a", "b", "m2") + ", " +
      "e3 AS (SELECT f.*, bt.* FROM f CROSS JOIN bt), " +
      round2("e3", "b", "c", "m3")
  }

  /** Per-doc (y01, margin) under the trained epoch-3 weights — the
    * scored frame eval_calibration and eval_pr_curve both start from. */
  private def percMargins(spark: org.apache.spark.sql.SparkSession,
      sf: String): org.apache.spark.sql.DataFrame = {
    val (f, _, _, s3) = percStages(spark, sf)
    f.crossJoin(broadcast(s3))
      .select(col("doc_id"),
        when(col("y") === 1L, 1L).otherwise(0L).as("y01"),
        percDotW("w3").as("margin"))
  }

  /** The oracle-side scored frame: CTE mg(y01, margin) off ct. */
  private val PercMarginSql: String =
    s"mg AS (SELECT doc_id, CASE WHEN y = 1 THEN 1 ELSE 0 END AS y01, ${PercSqlDot("c")} AS margin FROM f CROSS JOIN ct)"

  /** The per-language Flesch report over `(lang, text)` documents:
    * per doc three exact integer counts and the reading-ease score
    * floor-quantized to centi-units, then one BIGINT rollup per lang —
    * text_readability's body and, over a stream, stream_readability's
    * complete-mode aggregate. */
  def readabilityReport(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = size(split(col("text"), " "))
    val y = size(regexp_extract_all(lower(col("text")),
      lit("[aeiouy]+"), lit(0)))
    val s = greatest(size(regexp_extract_all(col("text"),
      lit("[.!?]+"), lit(0))), lit(1))
    val flesch = lit(206.835) -
      lit(1.015) * (w.cast("double") / s.cast("double")) -
      lit(84.6) * (y.cast("double") / w.cast("double"))
    docs.select(col("lang"), w.cast("long").as("w"), y.cast("long").as("y"),
        floor(flesch * lit(100.0)).cast("long").as("centi"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w")).as("total_words"),
        sum(col("y")).as("sy"),
        sum(col("centi")).as("sc"),
        sum(when(col("centi") >= 6000, 1L).otherwise(0L)).as("n_easy"),
        sum(when(col("centi") < 3000, 1L).otherwise(0L)).as("n_difficult"))
      .select(col("lang"), col("n_docs"), col("total_words"),
        round(col("sy").cast("double") / col("total_words").cast("double"), 4)
          .as("syllables_per_word"),
        round(col("sc").cast("double") /
          (col("n_docs").cast("double") * lit(100.0)), 4)
          .as("avg_flesch"),
        col("n_easy"), col("n_difficult"))
  }

  /** The per-source code-routing sums over `(source, n_chars, text)`
    * documents: per doc a code-symbol count (literal, non-regex
    * replace — the same builtin DuckDB runs) and a keyword-token
    * count, `is_code` = keywords ≥ 2 AND symbols ≥ 1% of chars, then
    * `(n_docs, n_code, total_keywords, total_symbols)` per source —
    * text_code_detect's body and, over a stream, stream_code_route's
    * complete-mode aggregate. */
  def codeRouteSums(docs: DataFrame): DataFrame = {
    val syms = Seq("{", "}", "(", ")", ";", "=").map(s =>
        length(col("text")) - length(expr(s"replace(text, '$s', '')")))
      .reduce(_ + _).cast("long")
    val kw = array(Seq("def", "return", "import", "class", "void",
      "func", "var", "const").map(lit): _*)
    docs.select(col("source"), col("n_chars"), syms.as("syms"),
        size(filter(split(col("text"), " "),
          t => array_contains(kw, t))).cast("long").as("kws"))
      .withColumn("is_code", col("kws") >= 2 &&
        col("syms") * 100 >= greatest(col("n_chars"), lit(1L)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_code"), 1L).otherwise(0L)).as("n_code"),
        sum(col("kws")).as("total_keywords"),
        sum(col("syms")).as("total_symbols"))
  }

  def defs: Seq[QueryDef] = Seq(

    // #52 — tokenize + explode + count: the word-frequency core of
    // every text pipeline (north-star [D BASELINE.json]).
    QueryDef(
      "text_tokens",
      (spark, sf) =>
        Tables.documents(spark, sf)
          .select(col("lang"), explode(split(col("text"), " ")).as("w"))
          .groupBy("lang", "w")
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 50)
          .orderBy("lang", "w"),
      Some("SELECT lang, w, count(*) AS cnt FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY lang, w HAVING count(*) >= 50 ORDER BY lang, w"),
      scaleNote = "explode multiplies rows ~100× but feeds straight into a map-side-combined hash agg — the wire carries |lang×vocab| partials, not tokens. At 100 TB pre-aggregate per input split; never collect a vocabulary to the driver."),

    // #53 — deterministic lexicon scoring (sentiment-style).
    QueryDef(
      "text_score",
      (spark, sf) => {
        val session = spark
        import session.implicits._
        val lex = Seq(("join", 1), ("merge", 1), ("group", 1),
          ("sort", -1), ("scan", -1)).toDF("w", "wt")
        Tables.documents(spark, sf)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .join(broadcast(lex), Seq("w"), "left")
          .groupBy("doc_id")
          .agg(sum(coalesce(col("wt"), lit(0))).as("score"))
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, CAST(sum(COALESCE(wt, 0)) AS BIGINT) AS score FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t LEFT JOIN (VALUES ('join', 1), ('merge', 1), ('group', 1), ('sort', -1), ('scan', -1)) l(w, wt) ON t.w = l.w GROUP BY doc_id ORDER BY doc_id"),
      scaleNote = "Lexicon broadcast to every executor; the integer score sum is associative so map-side partials apply. Swap the 5-entry lexicon for a 100k-entry one and nothing changes structurally."),

    // #54 — cosine similarity pairs over a threshold, blocked by label.
    // Label-blocking IS the scale design (the coarse-quantizer/bucket
    // step of IVF): candidate pairs are generated only within a bucket,
    // never all-pairs across the corpus.
    QueryDef(
      "vec_cosine_pairs",
      (spark, sf) => {
        val q = Tables.embeddings(spark, sf)
          .select(col("vec_id"), col("label"), graft.engine.Vec.quantize(col("embedding")).as("qv"))
          .withColumn("norm2", graft.engine.Vec.norm2(col("qv")))
        val a = q.select(col("vec_id").as("id1"), col("label"),
          col("qv").as("qv1"), col("norm2").as("n1"))
        val b = q.select(col("vec_id").as("id2"), col("label").as("label2"),
          col("qv").as("qv2"), col("norm2").as("n2"))
        a.join(b, col("label") === col("label2") && col("id1") < col("id2"))
          // codegen'd custom Expression: the interpreted zip_with+
          // aggregate HOF dot was the dominant per-pair cost (M9 note
          // in graft.plans.LongArrayDot)
          .withColumn("dot", graft.plans.LongArrayDot.dot(col("qv1"), col("qv2")))
          .withColumn("cos", graft.engine.Vec.cosine(col("dot"), col("n1"), col("n2")))
          .filter(col("cos") >= 0.2)
          .select("id1", "id2", "label", "cos")
          .orderBy("id1", "id2")
      },
      Some("WITH q AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1048576) AS BIGINT)) AS qv FROM embeddings), n AS (SELECT vec_id, CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS norm2 FROM q), e AS (SELECT vec_id, label, unnest(qv) AS v, generate_subscripts(qv, 1) AS idx FROM q), d AS (SELECT a.vec_id AS id1, b.vec_id AS id2, a.label AS label, CAST(sum(a.v*b.v) AS BIGINT) AS dot FROM e a JOIN e b ON a.idx = b.idx AND a.label = b.label AND a.vec_id < b.vec_id GROUP BY 1, 2, 3) SELECT id1, id2, label, round(CAST(dot AS DOUBLE)/(sqrt(CAST(n1.norm2 AS DOUBLE))*sqrt(CAST(n2.norm2 AS DOUBLE))), 4) AS cos FROM d JOIN n n1 ON d.id1 = n1.vec_id JOIN n n2 ON d.id2 = n2.vec_id WHERE round(CAST(dot AS DOUBLE)/(sqrt(CAST(n1.norm2 AS DOUBLE))*sqrt(CAST(n2.norm2 AS DOUBLE))), 4) >= 0.2 ORDER BY id1, id2"),
      scaleNote = "Threshold-not-top-k (SURVEY §2.0 rule 3); quantized integer dot products are order-independent, so the HOF pipeline stays in codegen with zero float nondeterminism. At 100 TB replace the label block with LSH/IVF bucketing (same join shape, computed bucket key) — see NearDup for the banded pattern."),

    // #55 — per-label centroid over quantized elements: integer sum
    // per (label, dim), one exact division at the end.
    QueryDef(
      "vec_centroid",
      (spark, sf) =>
        Tables.embeddings(spark, sf)
          .select(col("label"), posexplode(graft.engine.Vec.quantize(col("embedding"))))
          .withColumn("idx", col("pos") + 1)
          .groupBy("label", "idx")
          // + 0.0 collapses IEEE negative zero (round can yield -0.0
          // from tiny negative means; the engines disagree on its sign)
          .agg((round(sum(col("col")).cast("double") /
            (count(lit(1)).cast("double") * lit(graft.engine.Vec.QuantScale)), 4) + lit(0.0)).as("centroid"))
          .orderBy("label", "idx"),
      Some("SELECT label, idx, round(CAST(sum(v) AS DOUBLE)/(count(*)*1048576.0), 4) + 0.0 AS centroid FROM (SELECT label, unnest(list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1048576) AS BIGINT))) AS v, generate_subscripts(embedding, 1) AS idx FROM embeddings) GROUP BY label, idx ORDER BY label, idx"),
      scaleNote = "posexplode fans each vector into 64 (label,dim) rows, but the integer partial sums combine map-side — the shuffle carries |labels|×64 cells. The centroid update is associative, exactly what a distributed k-means iteration needs."),

    // #56 — multimodal join: text metadata ⋈ vector representation of
    // the same underlying object (doc_id = vec_id).
    QueryDef(
      "multimodal_join",
      (spark, sf) => {
        val d = Tables.documents(spark, sf)
        val e = Tables.embeddings(spark, sf)
        d.join(e, d("doc_id") === e("vec_id"))
          .groupBy("label")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
            countDistinct(col("lang")).as("n_langs"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"))
          .orderBy("label")
      },
      Some("SELECT label, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars, CAST(sum(n_chars) AS DOUBLE)/count(*) AS avg_chars, count(DISTINCT lang) AS n_langs, min(n_chars) AS min_chars, max(n_chars) AS max_chars FROM documents JOIN embeddings ON doc_id = vec_id GROUP BY label ORDER BY label"),
      scaleNote = "The text↔vector modality join is an equi join on the shared id — co-partition both modalities on that id at write time (bucketing) and it is shuffle-free. Stats are int-exact; the one division is correctly rounded."),

    // ---- North-star text-pipeline extras (beyond the reference) ----

    // Language ID via marker-token voting: deterministic argmax over
    // per-language marker counts (n-gram-profile heuristic shape).
    QueryDef(
      "text_lang_id",
      (spark, sf) => langPredictions(spark, sf).orderBy("doc_id"),
      Some(s"WITH $LangPredSql SELECT doc_id, lang, pred_lang FROM p ORDER BY doc_id"),
      scaleNote = "Marker lexicon broadcasts; voting is a 2-phase count + associative struct-max argmax. A real n-gram LM profile is the same plan with a bigger lexicon and log-probability weights."),

    // The classifier-eval primitive IN the engine: the confusion
    // matrix of the lang-ID heuristic against the labeled lang — the
    // table every model-quality review reads before trusting a
    // filter. Cells are exact counts; row_frac (per-true-lang recall
    // share) is one rounded division per cell over the window sum.
    // In production this is how a lang-ID (or quality/toxicity)
    // model upgrade is judged over the whole corpus: the matrix of
    // old-vs-new disposition shifts, same plan with the model
    // columns swapped.
    QueryDef(
      "text_lang_id_eval",
      (spark, sf) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
        langPredictions(spark, sf)
          .groupBy("lang", "pred_lang")
          .agg(count(lit(1)).as("n"))
          .withColumn("row_frac",
            round(col("n").cast("double") /
              sum(col("n")).over(w).cast("double"), 4))
          .withColumn("correct", col("lang") === col("pred_lang"))
          .orderBy("lang", "pred_lang")
      },
      Some(s"WITH $LangPredSql " +
        "SELECT lang, pred_lang, count(*) AS n, " +
        "round(CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (PARTITION BY lang), 4) AS row_frac, " +
        "lang = pred_lang AS correct " +
        "FROM p GROUP BY lang, pred_lang ORDER BY lang, pred_lang"),
      scaleNote = "The matrix is |langs|² cells built by one " +
        "map-side-combined count over the prediction table (itself " +
        "one broadcast-lexicon pass over the corpus — no new " +
        "corpus-sized stage); the row-fraction window runs on the " +
        "cell table, KBs at any scale. The same two-line rollup " +
        "audits ANY per-doc classifier against any label column — " +
        "prediction drift between model versions is this exact " +
        "query with (old_pred, new_pred) as the keys, which is the " +
        "canary every corpus-filter upgrade ships with."),

    // Cohen's kappa (r13) — chance-corrected agreement over the
    // lang-ID confusion matrix, completing the classifier-audit
    // stack (text_lang_id_eval shows WHERE the classifier errs; κ
    // answers "is this agreement better than guessing the
    // marginals?" — the number annotation pipelines and
    // inter-rater QA report, and the right headline when classes
    // are imbalanced and raw accuracy flatters). All in exact
    // N²-unit integers off the same shared prediction table:
    // observed agreement po·N = Σ diag, expected pe·N² = Σ_k
    // rowtot_k·coltot_k (the marginal-product chance model — the
    // 'und' fallback class participates with a zero truth marginal,
    // contributing nothing to chance, exactly as it should), and
    // κ_ppm = ((po·N² − pe·N²)·1e6) div (N² − pe·N²) — one floor
    // division, zero floats, with the Landis-Koch verdict bucket.
    QueryDef(
      "eval_cohens_kappa",
      (spark, sf) => {
        val cm = langPredictions(spark, sf)
          .groupBy("lang", "pred_lang")
          .agg(count(lit(1)).as("n"))
          .localCheckpoint(false)
        val rows = cm.groupBy("lang")
          .agg(sum(col("n")).as("rt"))
          .select(col("lang").as("k"), col("rt"))
        val cols = cm.groupBy("pred_lang")
          .agg(sum(col("n")).as("ct"))
          .select(col("pred_lang").as("k"), col("ct"))
        val pe = rows.join(cols, "k")
          .agg(sum(col("rt") * col("ct")).as("pe_n2"))
        val po = cm.agg(
          sum(col("n")).as("nn"),
          sum(when(col("lang") === col("pred_lang"), col("n"))
            .otherwise(0L)).as("diag"))
        po.crossJoin(broadcast(pe))
          .select(col("nn").as("n_docs"), col("diag").as("n_agree"),
            expr("(diag * 1000000) div nn").as("po_ppm"),
            expr("(pe_n2 * 1000000) div (nn * nn)").as("pe_ppm"),
            expr("((diag * nn - pe_n2) * 1000000) div (nn * nn - pe_n2)")
              .as("kappa_ppm"))
          .withColumn("verdict",
            when(col("kappa_ppm") < 200000L, "slight")
              .when(col("kappa_ppm") < 400000L, "fair")
              .when(col("kappa_ppm") < 600000L, "moderate")
              .when(col("kappa_ppm") < 800000L, "substantial")
              .otherwise("almost_perfect"))
      },
      Some(s"WITH $LangPredSql, " +
        "cm AS (SELECT lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2), " +
        "rt AS (SELECT lang AS k, CAST(sum(n) AS BIGINT) AS rt FROM cm GROUP BY 1), " +
        "ct AS (SELECT pred_lang AS k, CAST(sum(n) AS BIGINT) AS ct FROM cm GROUP BY 1), " +
        "pe AS (SELECT CAST(sum(rt.rt * ct.ct) AS BIGINT) AS pe_n2 FROM rt JOIN ct ON rt.k = ct.k), " +
        "po AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(CASE WHEN lang = pred_lang THEN n ELSE 0 END) AS BIGINT) AS diag FROM cm), " +
        "kk AS (SELECT nn AS n_docs, diag AS n_agree, (diag * 1000000) // nn AS po_ppm, (pe_n2 * 1000000) // (nn * nn) AS pe_ppm, " +
        "((diag * nn - pe_n2) * 1000000) // (nn * nn - pe_n2) AS kappa_ppm FROM po CROSS JOIN pe) " +
        "SELECT n_docs, n_agree, po_ppm, pe_ppm, kappa_ppm, " +
        "CASE WHEN kappa_ppm < 200000 THEN 'slight' WHEN kappa_ppm < 400000 THEN 'fair' WHEN kappa_ppm < 600000 THEN 'moderate' WHEN kappa_ppm < 800000 THEN 'substantial' ELSE 'almost_perfect' END AS verdict " +
        "FROM kk"),
      scaleNote = "Rides text_lang_id_eval's matrix: one broadcast-" +
        "lexicon pass over the corpus, then everything runs on the " +
        "|langs|² cell table (KBs forever) — the marginals join is " +
        "|classes| rows. The N²-unit integer formulation is the " +
        "determinism point: diag·N and Σ row·col stay exact BIGINTs " +
        "(N²·1e6 ≪ 2^63 below ~3e6 docs; compute κ on a " +
        "sample_consistent slice or escalate to DECIMAL(38,0) past " +
        "that, stated not silent), so the κ and its verdict bucket " +
        "cannot move with partitioning. Weighted κ (ordinal labels) " +
        "adds a literal disagreement-weight grid to the same cells; " +
        "two ANNOTATORS instead of model-vs-truth is the same query " +
        "with the second label column swapped in."),

    // Token counting with a BPE-ish regex (word / number / punctuation
    // classes, ASCII form identical under Java regex and RE2) next to
    // the whitespace count — the cost estimator every training-data
    // pipeline runs first.
    QueryDef(
      "text_token_count",
      (spark, sf) =>
        Tables.documents(spark, sf)
          .select(
            col("doc_id"),
            size(split(col("text"), " ")).as("n_ws_tokens"),
            size(regexp_extract_all(col("text"),
              lit(" ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+"), lit(0))).as("n_bpe_tokens"))
          .orderBy("doc_id"),
      Some("SELECT doc_id, len(string_split(text, ' ')) AS n_ws_tokens, len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+')) AS n_bpe_tokens FROM documents ORDER BY doc_id"),
      scaleNote = "Per-row regex scan in codegen; at corpus scale this is the map-only token-budget pass — aggregate with a plain sum to cost a training mix, no shuffle of text."),

    // Quality scoring: length / uniqueness / stopword ratios — the
    // classic pre-training corpus filters, all int counts + one
    // correctly-rounded division each.
    QueryDef(
      "text_quality",
      (spark, sf) => {
        val toks = split(col("text"), " ")
        Tables.documents(spark, sf)
          .select(
            col("doc_id"),
            col("n_chars"),
            size(toks).as("n_tokens"),
            size(array_distinct(toks)).as("n_uniq"),
            (size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
              .as("uniq_ratio"),
            (size(filter(toks, t => t.isin("a", "key", "value"))).cast("double") /
              size(toks).cast("double")).as("stop_ratio"),
            ((col("n_chars") - (size(toks) - lit(1))).cast("double") /
              size(toks).cast("double")).as("avg_tok_len"))
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, n_chars, len(string_split(text, ' ')) AS n_tokens, len(list_distinct(string_split(text, ' '))) AS n_uniq, CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)/len(string_split(text, ' ')) AS uniq_ratio, CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['a','key','value'], t))) AS DOUBLE)/len(string_split(text, ' ')) AS stop_ratio, CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)/len(string_split(text, ' ')) AS avg_tok_len FROM documents ORDER BY doc_id"),
      scaleNote = "Pure per-row scalar pipeline in codegen — the corpus-filter pass that runs before any shuffle at 100 TB. Ratios are single divisions of exact integers: bit-identical across engines."),

    // Bigram-LM fluency score in exact integer micro-units — the
    // statistical-quality signal (how "corpus-typical" a document's
    // word transitions are) that complements text_quality's surface
    // ratios. The LM is the corpus itself: c2(prev,w) bigram counts /
    // c1(prev) continuation counts; each bigram scores
    // c2·10^6 div c1 (floor µ-probability) and a document scores the
    // integer MEAN of its bigram scores. No log, no float sum —
    // every step is integer, so the score is bit-identical on any
    // layout (the ln-free trick tfidf_keywords uses, taken further).
    QueryDef(
      "text_lm_score",
      (spark, sf) => {
        val byDoc = Window.partitionBy("doc_id").orderBy("pos")
        val bg = Tables.documents(spark, sf)
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
          .withColumn("prev", lag(col("w"), 1).over(byDoc))
          .filter(col("prev").isNotNull)
        val c2 = bg.groupBy("prev", "w").agg(count(lit(1)).as("c2"))
        val c1 = bg.groupBy("prev").agg(count(lit(1)).as("c1"))
        bg.join(c2, Seq("prev", "w")).join(c1, Seq("prev"))
          .withColumn("mu", expr("(c2 * 1000000) div c1"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            expr("sum(mu) div count(*)").as("lm_micro"))
          .orderBy("doc_id")
      },
      Some("WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS w, " +
        "generate_subscripts(string_split(text,' '),1) AS idx FROM documents), " +
        "bg AS (SELECT doc_id, lag(w) OVER (PARTITION BY doc_id ORDER BY idx) AS prev, w " +
        "FROM t QUALIFY prev IS NOT NULL), " +
        "c2 AS (SELECT prev, w, count(*) AS c2 FROM bg GROUP BY 1,2), " +
        "c1 AS (SELECT prev, count(*) AS c1 FROM bg GROUP BY 1) " +
        "SELECT doc_id, count(*) AS n_bigrams, " +
        "CAST(sum((c2 * 1000000) // c1) // count(*) AS BIGINT) AS lm_micro " +
        "FROM bg JOIN c2 USING (prev, w) JOIN c1 USING (prev) " +
        "GROUP BY doc_id ORDER BY doc_id"),
      scaleNote = "Two 2-phase hash aggs build the model (|bigram " +
        "vocab| and |unigram vocab| rows — Zipf-bounded, both " +
        "map-side-combined) and scoring is two equi joins back onto " +
        "the bigram stream, shuffling on the same vocab keys. At " +
        "100 TB the model tables are the broadcast/bucketed side and " +
        "the stream never shuffles twice; hot function words (the " +
        "head of the Zipf curve) are exactly the keys AQE's skew " +
        "split handles, or pre-aggregate per-partition (prev,w) " +
        "partials first. Integer µ-probabilities make the score " +
        "reproducible — a float log-prob sum differs per partition " +
        "order and masks regressions; train/score separation (model " +
        "from a held-out corpus) is the same plan with the model " +
        "CTEs reading a different table."),

    // Document fingerprint: polynomial rolling hash folded over the
    // token stream in order — integer arithmetic only.
    QueryDef(
      "text_fingerprint",
      (spark, sf) =>
        Tables.documents(spark, sf)
          .select(
            col("doc_id"),
            aggregate(
              transform(split(col("text"), " "),
                t => (length(t).cast("long") * 256 + ascii(t).cast("long"))),
              lit(0L),
              (acc, x) => (acc * 31 + x) % 1000000007L).as("fingerprint"))
          .orderBy("doc_id"),
      Some("SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(text, ' '), t -> CAST(length(t)*256 + ascii(t) AS BIGINT))), (a, b) -> (a*31 + b) % 1000000007) AS fingerprint FROM documents ORDER BY doc_id"),
      scaleNote = "Order-sensitive fold stays per-row (no distribution concern); modulus keeps every intermediate below 2^36. Equal fingerprints → candidate exact-duplicates; group by fingerprint for the first-pass exact dedup at scale."),

    // ANN top-k: brute-force cosine against a small query set — the
    // exact baseline the bucketed variants are measured against.
    // Deterministic because the quantized cosine is bit-identical, so
    // ordering by (cos DESC, vec_id) is a total order.
    QueryDef(
      "ann_topk",
      (spark, sf) => {
        val q = Tables.embeddings(spark, sf)
          .select(col("vec_id"), graft.engine.Vec.quantize(col("embedding")).as("qv"))
          .withColumn("norm2", graft.engine.Vec.norm2(col("qv")))
        // FIXED-SIZE query set: the 100 lowest vec_ids (ids are dense
        // 0..n-1 in every SF), not a fraction of the corpus — total
        // work stays 100·|corpus| (linear) and the broadcast side is
        // O(1) no matter how large the corpus grows (r3 verdict: a
        // proportional set made the workload quadratic). The predicate
        // pushes to the parquet scan.
        val queries = q.filter(col("vec_id") < 100)
          .select(col("vec_id").as("query_id"), col("qv").as("qq"), col("norm2").as("qn"))
        val w = Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("vec_id").asc)
        broadcast(queries).join(q, col("query_id") =!= col("vec_id"))
          .withColumn("dot", graft.plans.LongArrayDot.dot(col("qq"), col("qv")))
          .withColumn("cos", graft.engine.Vec.cosine(col("dot"), col("qn"), col("norm2")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select("query_id", "rank", "vec_id", "cos")
          .orderBy("query_id", "rank")
      },
      Some("WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1048576) AS BIGINT)) AS qv FROM embeddings), n AS (SELECT vec_id, CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS norm2 FROM q), e AS (SELECT vec_id, unnest(qv) AS v, generate_subscripts(qv, 1) AS idx FROM q), qs AS (SELECT vec_id FROM q WHERE vec_id < 100), d AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id, CAST(sum(a.v*b.v) AS BIGINT) AS dot FROM e a JOIN e b ON a.idx = b.idx AND a.vec_id <> b.vec_id WHERE a.vec_id IN (SELECT vec_id FROM qs) GROUP BY 1, 2), c AS (SELECT d.query_id AS query_id, d.vec_id AS vec_id, round(CAST(dot AS DOUBLE)/(sqrt(CAST(n1.norm2 AS DOUBLE))*sqrt(CAST(n2.norm2 AS DOUBLE))), 4) AS cos FROM d JOIN n n1 ON d.query_id = n1.vec_id JOIN n n2 ON d.vec_id = n2.vec_id) SELECT query_id, rank, vec_id, cos FROM (SELECT query_id, vec_id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank FROM c) WHERE rank <= 3 ORDER BY query_id, rank"),
      scaleNote = "The query set is a FIXED 100 vectors (O(1) in corpus size), so the broadcast side never grows and total scoring work is 100x|corpus| — linear, not quadratic. Every candidate partition scores locally and WindowGroupLimit keeps 3 rows per query during the sort — no all-pairs materialization. The IVF/LSH scale path (NearDup-style bucketing) prunes candidates before scoring; this operator is its exact-recall baseline."),

    // n-gram (unigram-set) Jaccard near-duplicate pairs, blocked by
    // (lang, source) — exact integer set sizes, one division.
    QueryDef(
      "ngram_jaccard",
      (spark, sf) => {
        // sorted distinct HASHED token sets: SortedIntersectCount does
        // one codegen merge walk per pair instead of array_intersect's
        // per-pair hash set; 8-byte ids compare cheaper and shrink the
        // 12.5M-pair join payload ~4× vs strings. xxhash64 collisions
        // across a distinct-token vocabulary are ~2^-64 — set sizes and
        // intersections match the string computation, so the string-
        // based oracle is unchanged. |U| = n1 + n2 − |I|.
        val t = Tables.documents(spark, sf)
          .select(col("doc_id"), col("lang"), col("source"),
            array_sort(array_distinct(transform(split(col("text"), " "),
              tk => xxhash64(tk)))).as("toks"))
          .withColumn("nt", size(col("toks")))
        val a = t.select(col("doc_id").as("id1"), col("lang"), col("source"),
          col("toks").as("t1"), col("nt").as("n1"))
        val b = t.select(col("doc_id").as("id2"), col("lang").as("lang2"),
          col("source").as("source2"), col("toks").as("t2"), col("nt").as("n2"))
        a.join(b, col("lang") === col("lang2") && col("source") === col("source2")
            && col("id1") < col("id2")
            // implied by jac >= 0.5 (2|I| >= |U| => 2*min >= max), so
            // this prunes array work without changing the result set
            && least(col("n1"), col("n2")) * 2 >= greatest(col("n1"), col("n2")))
          .withColumn("ni",
            graft.plans.SortedIntersectCount.count(col("t1"), col("t2")))
          // threshold on the UNROUNDED ratio: exact-jaccard >= 0.5 is
          // what mathematically implies the size-ratio prune above
          // (round-then-compare would admit j = 0.49995.. pairs the
          // prune excludes); round only for display
          .filter(col("ni").cast("double") /
            (col("n1") + col("n2") - col("ni")).cast("double") >= 0.5)
          .withColumn("jac", round(col("ni").cast("double") /
            (col("n1") + col("n2") - col("ni")).cast("double"), 4))
          .select("id1", "id2", "jac")
          .orderBy("id1", "id2")
      },
      Some("WITH t AS (SELECT doc_id, lang, source, list_distinct(string_split(text, ' ')) AS toks FROM documents) SELECT a.doc_id AS id1, b.doc_id AS id2, round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)/len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jac FROM t a JOIN t b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id AND 2*least(len(a.toks), len(b.toks)) >= greatest(len(a.toks), len(b.toks)) WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)/len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5 ORDER BY id1, id2"),
      scaleNote = "Blocking on (lang, source) bounds candidate pairs to within-block quadratic; at 100 TB replace with MinHash-LSH banding (NearDup) which generates the same verified pairs without enumerating blocks — this operator doubles as LSH's exact-verify step."),

    // Repetition profile per document — the Gopher-rule quality
    // signals (duplicate-token and duplicate-bigram fractions) that
    // catch degenerate boilerplate text_quality's length/ratio floors
    // miss: a 10k-token page of one repeated phrase passes every
    // length check and fails exactly here. All ratios are int/int
    // with one rounded division; the repetition verdict is an integer
    // cross-multiply (top token covers ≥ 20% of the doc), never a
    // float compare.
    QueryDef(
      "text_repetition",
      (spark, sf) => {
        val base = Tables.documents(spark, sf)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
        val uni = base
          .select(col("doc_id"), explode(col("toks")).as("w"))
          .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(sum(col("c")).as("n_tokens"),
            count(lit(1)).as("n_distinct"),
            max(col("c")).as("top_tok"))
        val big = base
          .select(col("doc_id"), explode(expr(
            "transform(slice(toks, 1, size(toks) - 1), (x, i) -> concat(x, ' ', element_at(toks, i + 2)))")).as("bg"))
          .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
          .groupBy("doc_id").agg(max(col("c")).as("top_bigram"))
        uni.join(big, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
            round(col("n_distinct").cast("double") / col("n_tokens"), 4).as("distinct_ratio"),
            round(col("top_tok").cast("double") / col("n_tokens"), 4).as("top_tok_frac"),
            round(coalesce(col("top_bigram"), lit(0L)).cast("double") * 2 / col("n_tokens"), 4).as("top_bigram_frac"),
            (col("top_tok") * 5 >= col("n_tokens")).as("is_repetitive"))
          .orderBy("doc_id")
      },
      Some("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "uc AS (SELECT doc_id, w, count(*) AS c FROM (SELECT doc_id, unnest(toks) AS w FROM t) GROUP BY 1, 2), " +
        "us AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct, max(c) AS top_tok FROM uc GROUP BY 1), " +
        "bx AS (SELECT doc_id, toks[gs] || ' ' || toks[gs + 1] AS bg FROM (SELECT doc_id, toks, generate_subscripts(toks, 1) AS gs FROM t) s WHERE gs < len(toks)), " +
        "bc AS (SELECT doc_id, bg, count(*) AS c FROM bx GROUP BY 1, 2), " +
        "bs AS (SELECT doc_id, max(c) AS top_bigram FROM bc GROUP BY 1) " +
        "SELECT us.doc_id, n_tokens, n_distinct, " +
        "round(CAST(n_distinct AS DOUBLE) / n_tokens, 4) AS distinct_ratio, " +
        "round(CAST(top_tok AS DOUBLE) / n_tokens, 4) AS top_tok_frac, " +
        "round(CAST(COALESCE(top_bigram, 0) AS DOUBLE) * 2 / n_tokens, 4) AS top_bigram_frac, " +
        "(top_tok * 5 >= n_tokens) AS is_repetitive " +
        "FROM us LEFT JOIN bs ON us.doc_id = bs.doc_id ORDER BY us.doc_id"),
      scaleNote = "Both the unigram and bigram passes are explode → " +
        "two-level hash agg keyed by doc_id — map-side combinable, " +
        "and since a document's tokens live in one input split, the " +
        "partial agg collapses each doc to its count vector BEFORE " +
        "the shuffle: the wire carries per-doc summaries, not tokens. " +
        "The bigram explode doubles tuple volume but nothing else; " +
        "n-gram order k is a lambda change on the same plan. The " +
        "doc_id⋈doc_id join is co-partitioned by the aggs' own " +
        "output partitioning — no extra exchange."),

    // Train a classifier IN the engine: 3 epochs of the batch
    // perceptron (w ← w + Σ_{misclassified} y·x) for en-vs-rest over
    // marker-word count features — shared machinery in
    // [[percStages]]/[[PercSqlCtes]], which eval_calibration consumes
    // for the same trained epoch-3 weights. Integer weights, integer
    // margins,
    // so every epoch is a map-side-combined aggregate and the whole
    // training run is bit-deterministic under any partitioning (the
    // sequential per-row perceptron is order-dependent; the BATCH
    // variant's update is an associative sum, which is precisely why
    // it's the distributed form). Epoch 1 starts from w=0 (margin 0 ⇒
    // everything misclassified ⇒ the first update is the class-
    // difference vector). Output: per epoch, the misclassification
    // count/accuracy under the ENTERING weights and the updated
    // weight vector — the training curve and the model, one table.
    QueryDef(
      "text_classifier_perceptron",
      (spark, sf) => {
        val (_, w1, s2, s3) = percStages(spark, sf)
        def out(epoch: Int, src: org.apache.spark.sql.DataFrame,
            wp: String, nmis: org.apache.spark.sql.Column) =
          src.select(Seq(lit(epoch).as("epoch"), nmis.as("n_mis"),
            round(lit(1.0) - nmis.cast("double") / col("n_docs"), 4)
              .as("accuracy")) ++
            PercNames.indices.map(i => col(s"${wp}_$i")
              .as("w_" + PercNames(i).stripPrefix("x_"))): _*)
        out(1, w1, "w1", col("n_docs"))
          .unionByName(out(2, s2, "w2", col("n_mis")))
          .unionByName(out(3, s3, "w3", col("n_mis")))
          .orderBy("epoch")
      },
      Some {
        val sel = (epoch: Int, src: String, p: String, nm: String) =>
          s"SELECT $epoch AS epoch, CAST($nm AS BIGINT) AS n_mis, " +
            s"round(1.0 - CAST($nm AS DOUBLE)/n_docs, 4) AS accuracy, " +
            PercNames.indices
              .map(i => s"${p}$i AS w_${PercNames(i).stripPrefix("x_")}")
              .mkString(", ") + s" FROM $src"
        s"WITH $PercSqlCtes " +
          sel(1, "at", "a", "n_docs") + " UNION ALL " +
          sel(2, "bt", "b", "n_mis") + " UNION ALL " +
          sel(3, "ct", "c", "n_mis") + " ORDER BY epoch"
      },
      scaleNote = "Each epoch is ONE aggregate over the feature table " +
        "with the 1-row weight vector broadcast in — the update " +
        "Σ y·x over misclassified rows is an associative integer sum " +
        "(map-side partials, skew-immune), which is the whole reason " +
        "the BATCH perceptron is the distributed form while the " +
        "textbook per-row variant is inherently sequential. Features " +
        "collapse to per-doc count vectors BEFORE the shuffle (the " +
        "text_repetition property), so the wire carries |docs| rows " +
        "of 7 ints, then 1 row per epoch. k epochs = k passes over a " +
        "cached feature table — at 100 TB cache the features once " +
        "(they are tiny relative to text) and each epoch is seconds; " +
        "swapping in averaged-perceptron or margin variants changes " +
        "the update expression, not the plan. The learned weights " +
        "feed text_quality-style gates as a TRAINED scorer."),

    // Histogram-binning calibration of the trained classifier (r13,
    // Zadrozny & Elkan 2001) — the eval stage that turns the
    // perceptron's raw integer margin into a PROBABILITY a pipeline
    // can threshold: a margin of +7 means nothing until you measure
    // that docs scoring +7 are en 92% of the time. Equal-mass margin
    // deciles via the VALUE-GROUPED cumulative device
    // (corpus_curriculum's: group docs by margin first, assign each
    // margin value its decile by ((cum−c)·10) div n — tie groups stay
    // atomic, so binning is a pure function of the margin
    // distribution, bit-stable anywhere); per bin the calibrated
    // probability is one ppm floor division of exact counts. The
    // summary columns ride every row: isotonicity violations (bins
    // where calibrated p regresses — 0 ⇔ the margin RANKS correctly,
    // the monotonicity isotonic regression would enforce), the
    // in-sample Brier score of the calibrated model (composed
    // exactly from bin counts: Σ n_pos·(1e6−p)² + n_neg·p²), and the
    // ECE of the naive rank-as-probability baseline the calibration
    // replaces — all exact integer arithmetic, zero floats anywhere.
    QueryDef(
      "eval_calibration",
      (spark, sf) => {
        val vm = percMargins(spark, sf).groupBy("margin")
          .agg(count(lit(1)).as("c"), sum(col("y01")).as("pos"))
        val n = vm.agg(sum(col("c")).as("n"))
        val wseq = Window.orderBy("margin")
          .rowsBetween(Window.unboundedPreceding, 0)
        val binned = vm
          .withColumn("cum", sum(col("c")).over(wseq))
          .crossJoin(broadcast(n))
          .withColumn("bin", expr("((cum - c) * 10) div n"))
        val cb = binned.groupBy("bin")
          .agg(sum(col("c")).as("n_docs"),
            min(col("margin")).as("margin_lo"),
            max(col("margin")).as("margin_hi"),
            sum(col("pos")).as("n_pos"))
          .withColumn("cal_p_ppm", expr("(n_pos * 1000000) div n_docs"))
          .withColumn("conf_rank_ppm", expr("((2 * bin + 1) * 1000000) div 20"))
          .withColumn("mono_viol",
            (lag(col("cal_p_ppm"), 1).over(Window.orderBy("bin"))
              > col("cal_p_ppm")).cast("long"))
        val tot = cb.agg(
          sum(coalesce(col("mono_viol"), lit(0L))).as("mono_violations"),
          expr("sum(n_pos * (1000000 - cal_p_ppm) * (1000000 - cal_p_ppm) + " +
            "(n_docs - n_pos) * cal_p_ppm * cal_p_ppm) " +
            "div (sum(n_docs) * 1000000)").as("brier_micro"),
          expr("sum(n_docs * abs(conf_rank_ppm - cal_p_ppm)) div sum(n_docs)")
            .as("ece_rank_micro"))
        cb.crossJoin(broadcast(tot))
          .select(col("bin"), col("n_docs"), col("margin_lo"),
            col("margin_hi"), col("n_pos"), col("cal_p_ppm"),
            col("conf_rank_ppm"),
            coalesce(col("mono_viol"), lit(0L)).as("mono_viol"),
            col("mono_violations"), col("brier_micro"),
            col("ece_rank_micro"))
          .orderBy("bin")
      },
      Some(s"WITH $PercSqlCtes, " +
        s"$PercMarginSql, " +
        "vm AS (SELECT margin, count(*) AS c, CAST(sum(y01) AS BIGINT) AS pos FROM mg GROUP BY 1), " +
        "nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vm), " +
        "bb AS (SELECT *, ((sum(c) OVER (ORDER BY margin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c) * 10) // nn.n AS bin FROM vm CROSS JOIN nn), " +
        "cb AS (SELECT bin, CAST(sum(c) AS BIGINT) AS n_docs, min(margin) AS margin_lo, max(margin) AS margin_hi, CAST(sum(pos) AS BIGINT) AS n_pos FROM bb GROUP BY 1), " +
        "cc AS (SELECT *, (n_pos * 1000000) // n_docs AS cal_p_ppm, ((2 * bin + 1) * 1000000) // 20 AS conf_rank_ppm FROM cb), " +
        "cm AS (SELECT *, CAST(CASE WHEN lag(cal_p_ppm) OVER (ORDER BY bin) > cal_p_ppm THEN 1 ELSE 0 END AS BIGINT) AS mono_viol FROM cc), " +
        "tt AS (SELECT CAST(sum(mono_viol) AS BIGINT) AS mono_violations, " +
        "CAST(sum(n_pos * (1000000 - cal_p_ppm) * (1000000 - cal_p_ppm) + (n_docs - n_pos) * cal_p_ppm * cal_p_ppm) // (sum(n_docs) * 1000000) AS BIGINT) AS brier_micro, " +
        "CAST(sum(n_docs * abs(conf_rank_ppm - cal_p_ppm)) // sum(n_docs) AS BIGINT) AS ece_rank_micro FROM cm) " +
        "SELECT CAST(bin AS BIGINT) AS bin, n_docs, CAST(margin_lo AS BIGINT) AS margin_lo, CAST(margin_hi AS BIGINT) AS margin_hi, n_pos, " +
        "CAST(cal_p_ppm AS BIGINT) AS cal_p_ppm, CAST(conf_rank_ppm AS BIGINT) AS conf_rank_ppm, mono_viol, mono_violations, brier_micro, ece_rank_micro " +
        "FROM cm CROSS JOIN tt ORDER BY bin"),
      scaleNote = "Training reuses the perceptron's epoch aggregates " +
        "(three map-side-combined passes, 1-row broadcasts); scoring " +
        "is a row-local integer dot under the broadcast weights; and " +
        "the binning runs on the VALUE-GROUPED margin table " +
        "(|distinct margins| rows — bounded by the feature geometry, " +
        "never the corpus), corpus_curriculum's collapse-then-window " +
        "device, so no corpus-sized sort exists anywhere. Brier and " +
        "ECE compose EXACTLY from the 10-row bin table (n_pos·(1−p)² " +
        "+ n_neg·p² per bin — no per-doc residual pass), products " +
        "bounded by n·1e12 ≪ 2^63 below ~9e6 docs per bin-sum unit; " +
        "at 100 TB escalate the Brier numerator to DECIMAL(38,0)/" +
        "HUGEINT, stated not silent. The calibrated (margin_lo, " +
        "margin_hi] → p_ppm table IS the deployable calibrator " +
        "(broadcast-join it onto any scored stream); isotonic " +
        "regression swaps the decile grid for PAV on the same " +
        "value-grouped input."),

    // Precision-recall curve + average precision (r13) — the
    // threshold-sweep eval completing the classifier family
    // (text_classifier_perceptron trains, eval_calibration turns the
    // margin into a probability, this measures ranking quality where
    // classes are imbalanced — en is ~44% here but quality gates at
    // 100 TB run at 1-5% positive rates, exactly where accuracy and
    // ROC flatter and PR does not). One row per DISTINCT margin
    // threshold (predict en iff margin ≥ t): cumulative TP/FP off
    // the value-grouped margin table in one descending window,
    // precision/recall/F1 as exact ppm floor divisions, and average
    // precision AP = Σ ΔTP·P_t / totPos composed from the same
    // integers — the step-wise AP definition, zero floats anywhere.
    QueryDef(
      "eval_pr_curve",
      (spark, sf) => {
        val vm = percMargins(spark, sf).groupBy("margin")
          .agg(count(lit(1)).as("c"), sum(col("y01")).as("pos"))
        val wdesc = Window.orderBy(col("margin").desc)
          .rowsBetween(Window.unboundedPreceding, 0)
        val tot = vm.agg(sum(col("pos")).as("tot_pos"),
          sum(col("c")).as("n_docs"))
        val cum = vm.crossJoin(broadcast(tot))
          .withColumn("tp", sum(col("pos")).over(wdesc))
          .withColumn("npred", sum(col("c")).over(wdesc))
          .withColumn("fp", col("npred") - col("tp"))
          .withColumn("precision_ppm", expr("(tp * 1000000) div npred"))
          .withColumn("recall_ppm", expr("(tp * 1000000) div tot_pos"))
        val ap = cum
          .agg(expr("sum(pos * precision_ppm) div max(tot_pos)")
            .as("ap_micro"))
        cum.crossJoin(broadcast(ap))
          .select(col("margin").as("margin_thr"), col("npred"),
            col("tp"), col("fp"), col("precision_ppm"),
            col("recall_ppm"),
            when(col("precision_ppm") + col("recall_ppm") > 0L,
              expr("(2 * precision_ppm * recall_ppm) div (precision_ppm + recall_ppm)"))
              .otherwise(0L).as("f1_ppm"),
            col("ap_micro"))
          .orderBy(col("margin_thr").desc)
      },
      Some(s"WITH $PercSqlCtes, " +
        s"$PercMarginSql, " +
        "vm AS (SELECT margin, count(*) AS c, CAST(sum(y01) AS BIGINT) AS pos FROM mg GROUP BY 1), " +
        "tt AS (SELECT CAST(sum(pos) AS BIGINT) AS tot_pos, CAST(sum(c) AS BIGINT) AS n_docs FROM vm), " +
        "cu AS (SELECT *, CAST(sum(pos) OVER win AS BIGINT) AS tp, CAST(sum(c) OVER win AS BIGINT) AS npred FROM vm CROSS JOIN tt WINDOW win AS (ORDER BY margin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
        "pr AS (SELECT *, npred - tp AS fp, (tp * 1000000) // npred AS precision_ppm, (tp * 1000000) // tot_pos AS recall_ppm FROM cu), " +
        "ap AS (SELECT CAST(sum(pos * precision_ppm) // max(tot_pos) AS BIGINT) AS ap_micro FROM pr) " +
        "SELECT margin AS margin_thr, npred, tp, fp, precision_ppm, recall_ppm, " +
        "CASE WHEN precision_ppm + recall_ppm > 0 THEN (2 * precision_ppm * recall_ppm) // (precision_ppm + recall_ppm) ELSE 0 END AS f1_ppm, " +
        "ap_micro FROM pr CROSS JOIN ap ORDER BY margin_thr DESC"),
      scaleNote = "eval_calibration's economics: training is the " +
        "shared three-epoch aggregate chain, scoring is row-local " +
        "under broadcast weights, and the threshold sweep runs on " +
        "the VALUE-GROUPED margin table (|distinct margins| rows — " +
        "the corpus collapses map-side before the window exists). " +
        "Sweeping thresholds at every distinct value is FREE here " +
        "precisely because of that collapse — the naive per-" +
        "threshold rescan is |thresholds|·|corpus|. All ratios are " +
        "exact ppm floor divisions of BIGINT cumulative counts " +
        "(products ≤ n·1e6 ≪ 2^63), AP composes from the same " +
        "integers in one aggregate — the curve, the operating " +
        "point (max F1 row), and the leaderboard number are all " +
        "bit-stable under any partitioning. ROC is the same plan " +
        "with FP in the x-role; per-segment curves add the segment " +
        "key to the grid and window."),

    // ROC-AUC of the trained margin (r13) — the third leg of the
    // classifier-eval triad (eval_calibration: is the probability
    // honest; eval_pr_curve: how does it trade precision for recall;
    // this: one threshold-free ranking number — P(random en doc
    // outranks a random non-en doc)). Same machinery as
    // graph_embed_link_auc: the tie-aware rank-sum identity over the
    // GROUPED margin table, AUC·2PN = Σ_s n⁺(s)·(2·Σ_{s'<s} n⁻(s')
    // + n⁻(s)) — every term an exact BIGINT off the shared
    // percMargins frame, ONE division at the edge; Gini = 2·AUC−1
    // emitted beside it in exact 2PN units.
    QueryDef(
      "eval_roc_auc",
      (spark, sf) => {
        val g = percMargins(spark, sf)
          .groupBy("margin")
          .agg(sum(col("y01")).as("np"),
            sum(lit(1L) - col("y01")).as("nn"))
        val wb = Window.orderBy("margin")
          .rowsBetween(Window.unboundedPreceding, -1)
        g.withColumn("cb", coalesce(sum(col("nn")).over(wb), lit(0L)))
          .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
            sum(col("np") * (lit(2L) * col("cb") + col("nn")))
              .as("auc_2pn_units"))
          .select(col("n_pos"), col("n_neg"), col("auc_2pn_units"),
            round(col("auc_2pn_units").cast("double") /
              (lit(2.0) * col("n_pos") * col("n_neg")), 4).as("auc"),
            (col("auc_2pn_units") - col("n_pos") * col("n_neg"))
              .as("gini_pn_units"))
      },
      Some(s"WITH $PercSqlCtes, " +
        s"$PercMarginSql, " +
        "gg AS (SELECT margin, CAST(sum(y01) AS BIGINT) AS np, CAST(sum(1 - y01) AS BIGINT) AS nn FROM mg GROUP BY 1), " +
        "rr AS (SELECT np, nn, coalesce(CAST(sum(nn) OVER (ORDER BY margin ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cb FROM gg) " +
        "SELECT CAST(sum(np) AS BIGINT) AS n_pos, CAST(sum(nn) AS BIGINT) AS n_neg, " +
        "CAST(sum(np*(2*cb + nn)) AS BIGINT) AS auc_2pn_units, " +
        "round(CAST(sum(np*(2*cb + nn)) AS DOUBLE) / (2.0 * sum(np) * sum(nn)), 4) AS auc, " +
        "CAST(sum(np*(2*cb + nn)) - sum(np) * sum(nn) AS BIGINT) AS gini_pn_units " +
        "FROM rr"),
      scaleNote = "The rank-sum identity is what makes AUC " +
        "distributable: no pair enumeration (P·N pairs at 100 TB is " +
        "the quadratic trap), just the value-grouped margin table — " +
        "map-side collapsed, |distinct margins| rows — one " +
        "cumulative window over it, and one aggregate; ties are " +
        "handled EXACTLY by the n⁻(s) term rather than by a " +
        "0.5-correction float. AUC·2PN and Gini·PN stay exact " +
        "BIGINTs (≤ n²·2 ≪ 2^63 below ~2e9 docs; escalate to " +
        "DECIMAL(38,0) past that, stated not silent) with the ONE " +
        "edge division rounded for display — the leaderboard " +
        "number is bit-stable under any partitioning. Per-segment " +
        "AUC adds the segment key to the grid and window; " +
        "graph_embed_link_auc is this identity on sampled pairs."),

    // McNemar's paired test (r13) — the MODEL-COMPARISON member
    // closing the eval family: the single-model metrics (accuracy,
    // AUC, PR, κ, calibration) cannot say whether classifier B
    // actually beats classifier A on the SAME documents — two
    // models can share an accuracy while disagreeing on half the
    // corpus. McNemar tests exactly the disagreement cells: A = the
    // lang-ID marker vote (pred_lang = 'en'), B = the trained
    // perceptron (margin > 0), truth = the label, paired per doc by
    // one equi join of the two shared prediction frames. χ² =
    // (n₁₀−n₀₁)²/(n₁₀+n₀₁) composes from exact BIGINT cells with
    // ONE edge division; the discordant-cell fence (n₁₀+n₀₁ = 0 →
    // no test, stated NULL) and the significance compare on the
    // UNROUNDED value keep both engines' verdicts identical.
    QueryDef(
      "eval_mcnemar",
      (spark, sf) => {
        val a = langPredictions(spark, sf)
          .select(col("doc_id"),
            (col("pred_lang") === "en").cast("long").as("pa"),
            (col("lang") === "en").cast("long").as("y"))
        val b = percMargins(spark, sf)
          .select(col("doc_id"), (col("margin") > 0L).cast("long").as("pb"))
        val cells = a.join(b, "doc_id")
          .select(
            (col("pa") === col("y")).cast("long").as("ra"),
            (col("pb") === col("y")).cast("long").as("rb"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("ra") * col("rb")).as("n_both_right"),
            sum(col("ra") * (lit(1L) - col("rb"))).as("n_only_a"),
            sum((lit(1L) - col("ra")) * col("rb")).as("n_only_b"),
            sum((lit(1L) - col("ra")) * (lit(1L) - col("rb")))
              .as("n_both_wrong"))
        val chi2raw = ((col("n_only_a") - col("n_only_b")) *
          (col("n_only_a") - col("n_only_b"))).cast("double") /
          (col("n_only_a") + col("n_only_b")).cast("double")
        cells.select(col("n_docs"), col("n_both_right"),
          col("n_only_a"), col("n_only_b"), col("n_both_wrong"),
          expr("((n_both_right + n_only_a) * 1000000) div n_docs")
            .as("acc_a_ppm"),
          expr("((n_both_right + n_only_b) * 1000000) div n_docs")
            .as("acc_b_ppm"),
          when(col("n_only_a") + col("n_only_b") > 0L,
            round(chi2raw, 4)).as("chi2"),
          coalesce(when(col("n_only_a") + col("n_only_b") > 0L,
            chi2raw > lit(3.841)), lit(false)).as("significant"))
      },
      Some(s"WITH $PercSqlCtes, " +
        s"$PercMarginSql, " +
        s"$LangPredSql, " +
        "pd AS (SELECT p.doc_id, CASE WHEN p.pred_lang = 'en' THEN 1 ELSE 0 END AS pa, CASE WHEN p.lang = 'en' THEN 1 ELSE 0 END AS y, CASE WHEN mg.margin > 0 THEN 1 ELSE 0 END AS pb FROM p JOIN mg ON p.doc_id = mg.doc_id), " +
        "cl AS (SELECT count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN pa = y AND pb = y THEN 1 ELSE 0 END) AS BIGINT) AS n_both_right, " +
        "CAST(sum(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END) AS BIGINT) AS n_only_a, " +
        "CAST(sum(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END) AS BIGINT) AS n_only_b, " +
        "CAST(sum(CASE WHEN pa <> y AND pb <> y THEN 1 ELSE 0 END) AS BIGINT) AS n_both_wrong FROM pd) " +
        "SELECT n_docs, n_both_right, n_only_a, n_only_b, n_both_wrong, " +
        "((n_both_right + n_only_a) * 1000000) // n_docs AS acc_a_ppm, " +
        "((n_both_right + n_only_b) * 1000000) // n_docs AS acc_b_ppm, " +
        "CASE WHEN n_only_a + n_only_b > 0 THEN round(CAST((n_only_a - n_only_b) * (n_only_a - n_only_b) AS DOUBLE) / (n_only_a + n_only_b), 4) END AS chi2, " +
        "COALESCE(CASE WHEN n_only_a + n_only_b > 0 THEN CAST((n_only_a - n_only_b) * (n_only_a - n_only_b) AS DOUBLE) / (n_only_a + n_only_b) > 3.841 END, FALSE) AS significant " +
        "FROM cl"),
      scaleNote = "Both prediction frames are existing shared " +
        "machinery (one broadcast-lexicon pass; three perceptron " +
        "epoch aggregates + a row-local scored dot), the pairing is " +
        "ONE equi join on doc_id — co-partitioned with the per-doc " +
        "aggregates that feed it — and the contingency table is one " +
        "grouping-free conditional aggregate: four BIGINT cells " +
        "whatever the corpus size. The χ² touches floats exactly " +
        "once, composed from exact integers, with the significance " +
        "compare on the UNROUNDED value on both engines (the " +
        "surv_logrank rule). This is the promotion gate for any " +
        "corpus-filter upgrade at 100 TB: run both model versions " +
        "over a sample_consistent slice, McNemar the disagreement " +
        "cells, and ship only on a significant win — accuracy " +
        "deltas alone double-count the agreeing majority."),

    // Flesch reading-ease per language — the READABILITY member of
    // the quality stack (text_quality measures lexical surface,
    // quality_gopher_rules gates structure; this scores how HARD the
    // prose is, the classic curriculum/filtering signal). Syllables
    // are the standard vowel-group heuristic (runs of [aeiouy] after
    // lowercasing — counts groups, not letters), sentences are
    // [.!?]+ runs floored at 1 (this corpus carries no sentence
    // punctuation, so the per-sentence term degenerates to document
    // length — stated, not hidden; on punctuated prose the same
    // expression reads true sentence lengths). Per-doc score
    // 206.835 − 1.015·(w/s) − 84.6·(y/w) composes from three exact
    // integers and is floor-quantized to centi-units, so the
    // per-language mean is a ratio of exact BIGINT sums — no float
    // ever aggregates. Buckets at the standard 60 (easy) / 30
    // (difficult) cutoffs.
    QueryDef(
      "text_readability",
      (spark, sf) =>
        readabilityReport(Tables.documents(spark, sf)).orderBy("lang"),
      Some("WITH d AS (SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS w, " +
        "CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS y, " +
        "CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS s FROM documents), " +
        "f AS (SELECT lang, w, y, CAST(floor((206.835 - 1.015*(CAST(w AS DOUBLE)/CAST(s AS DOUBLE)) - 84.6*(CAST(y AS DOUBLE)/CAST(w AS DOUBLE))) * 100.0) AS BIGINT) AS centi FROM d) " +
        "SELECT lang, count(*) AS n_docs, CAST(sum(w) AS BIGINT) AS total_words, " +
        "round(CAST(sum(y) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 4) AS syllables_per_word, " +
        "round(CAST(sum(centi) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 100.0), 4) AS avg_flesch, " +
        "CAST(sum(CASE WHEN centi >= 6000 THEN 1 ELSE 0 END) AS BIGINT) AS n_easy, " +
        "CAST(sum(CASE WHEN centi < 3000 THEN 1 ELSE 0 END) AS BIGINT) AS n_difficult " +
        "FROM f GROUP BY lang ORDER BY lang"),
      scaleNote = "Pure per-row scalar codegen (two regexp passes + " +
        "one split inside the scan) collapsing map-side to |langs| " +
        "rows of six BIGINT sums — the cheapest possible shape, " +
        "text_quality's economics exactly: re-partitioning cannot " +
        "move an integer cell, so the report is bit-stable at any " +
        "cluster size. The float appears exactly once per ROW " +
        "(composed from three ints, floor-quantized immediately) and " +
        "never aggregates. At 100 TB the regexp cost dominates — " +
        "both patterns are single-pass DFAs over the text the scan " +
        "already decoded, and the text column dies at the projection " +
        "so the shuffle carries nothing but the integer cells. " +
        "Per-doc scores (the curriculum/filter input, " +
        "corpus_curriculum's staging key) are the same expression " +
        "without the rollup; per-source or per-shard reports add a " +
        "group key, not a pass."),

    // Code detection (r11) — the ROUTING classifier every mixed
    // pretraining corpus runs before anything else: code and prose
    // need different dedup thresholds, different quality rules
    // (gopher rules KILL code: symbol ratios and short lines are
    // exactly what they penalize), different tokenizer allocations —
    // so the first pipeline stage tags each doc code/prose and
    // routes. Two cheap scalar features, both exact integers: a
    // keyword-token count (def/return/import/class/void/func/var/
    // const — an IN-list filter over the split tokens, no regex) and
    // a code-symbol count ({}();= via length-minus-replace, one pass
    // per symbol inside the scan); is_code = keywords ≥ 2 AND
    // symbols ≥ 1% of chars (both thresholds stated literals). The
    // per-source rollup is the corpus-composition report (what share
    // of each source is code — the number that drives mixture
    // weights); the per-doc flag is the same expression pre-rollup.
    QueryDef(
      "text_code_detect",
      (spark, sf) =>
        codeRouteSums(Tables.documents(spark, sf))
          .withColumn("code_rate_bp", expr("(n_code * 10000) div n_docs"))
          .orderBy("source"),
      Some("WITH d AS (SELECT source, n_chars, " +
        "CAST(length(text) - length(replace(text, '{', '')) + length(text) - length(replace(text, '}', '')) + " +
        "length(text) - length(replace(text, '(', '')) + length(text) - length(replace(text, ')', '')) + " +
        "length(text) - length(replace(text, ';', '')) + length(text) - length(replace(text, '=', '')) AS BIGINT) AS syms, " +
        "CAST(len(list_filter(string_split(text, ' '), t -> t IN ('def','return','import','class','void','func','var','const'))) AS BIGINT) AS kws " +
        "FROM documents), " +
        "f AS (SELECT *, kws >= 2 AND syms * 100 >= greatest(n_chars, 1) AS is_code FROM d) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN is_code THEN 1 ELSE 0 END) AS BIGINT) AS n_code, " +
        "CAST(sum(kws) AS BIGINT) AS total_keywords, CAST(sum(syms) AS BIGINT) AS total_symbols, " +
        "(CAST(sum(CASE WHEN is_code THEN 1 ELSE 0 END) AS BIGINT) * 10000) // count(*) AS code_rate_bp " +
        "FROM f GROUP BY 1 ORDER BY 1"),
      scaleNote = "Pure per-row scalar codegen inside the scan (six " +
        "single-char replace passes + one token filter — no regex " +
        "engine, no UDF), collapsing map-side to |sources| rows of " +
        "integer sums: text_quality's economics, and the text " +
        "column dies at the projection. Both thresholds are " +
        "literals, both features exact integers, so the routing " +
        "decision is bit-stable under any partitioning — which " +
        "matters because a doc that flips code/prose between runs " +
        "would flip its dedup threshold, quality rules, and " +
        "tokenizer downstream. Real deployments widen the keyword " +
        "list per language and add an indent-ratio feature (lines " +
        "starting with spaces — one more replace pair on '\\n  '); " +
        "the plan shape is already that of a fastText-class router " +
        "with the embedding swapped for hand features."))
}
