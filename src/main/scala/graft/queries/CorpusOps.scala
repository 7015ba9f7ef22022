package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{Dsl, QueryDef, QueryGroup, Tables}

/** Corpus-preparation operators for an LLM training-data pipeline —
  * the steps between raw deduplicated text/embeddings and a training
  * mix: keyword weighting, deterministic train/val splitting, and
  * embedding quantization. All three are hard-oracled against DuckDB.
  *
  * Cross-engine determinism notes (SURVEY §2.0):
  *  - tfidf uses the RATIONAL idf variant `(N+1)/(df+1)` instead of
  *    `ln((N+1)/(df+1))`: same ranking monotonicity, but a single
  *    IEEE-754 division both engines round identically — no libm
  *    `ln` ulp skew. Ties broken by term text, giving a total order.
  *  - the split hashes DOCUMENT CONTENT (md5 prefix), not doc_id, so
  *    membership is stable under re-ingestion/re-partitioning and
  *    near-duplicate handling stays per-content.
  *  - quantization widens float32 → float64 (exact), and every
  *    arithmetic step is written in the same order in both engines.
  */
object CorpusOps extends QueryGroup {

  /** The tokenizer family's words: `text` split on single spaces as
    * `word`, beside the `keep` columns, keeping words of 2+ chars (a
    * 1-char word has no adjacent pair to count or merge). */
  private[graft] def trainWords(docs: DataFrame, keep: String*): DataFrame =
    docs.select(keep.map(col) :+ explode(split(col("text"), " ")).as("word"): _*)
      .filter(length(col("word")) >= 2)

  /** The distinct-word frequency table `(word, f)` BPE trains on. */
  private def wordFreq(docs: DataFrame): DataFrame =
    trainWords(docs).groupBy("word").agg(count(lit(1)).as("f"))

  /** Per-language word counts `(lang, word, fl)`. */
  private def langWordFreq(docs: DataFrame): DataFrame =
    trainWords(docs, "lang").groupBy("lang", "word").agg(count(lit(1)).as("fl"))

  /** A word spelled as space-separated characters: the round-0 BPE
    * symbol string, and the encode of a word no merge applies to. */
  private[graft] def spelled(word: Column): Column =
    trim(regexp_replace(word, "(.)", "$1 "))

  /** The adjacent 2-char substrings of `word` as an array. `sequence(1,
    * n)` counts DOWN when n < 1, so `word` must have 2+ chars
    * ([[trainWords]]). */
  private[graft] def charPairs: Column =
    expr("transform(sequence(1, length(word)-1), i -> substring(word, i, 2))")

  /** The per-language encode audit of `(lang, word, fl)` weights
    * against a `(word, sym)` symbol table: word types, char tokens,
    * BPE tokens and their ratio, ordered by lang. */
  private def encodeRollup(wl: DataFrame, sym: DataFrame): DataFrame =
    wl.join(sym.select("word", "sym"), "word")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_word_types"),
        sum(col("fl") * length(col("word"))).as("n_tokens_char"),
        sum(col("fl") * size(split(col("sym"), " "))).as("n_tokens_bpe"))
      .withColumn("compression",
        round(col("n_tokens_char").cast("double") /
          col("n_tokens_bpe").cast("double"), 4))
      .orderBy("lang")

  /** One unrolled BPE training round in DuckDB SQL: sN (symbol table,
    * carrying `word` as the row key) → pN (weighted adjacent pairs) →
    * bN (the crowned merge). Shared by tokenizer_bpe_merges (training
    * output) and tokenizer_apply (the encode side). */
  private def bpeRoundSql(s: String, p: String, b: String): String =
    s"$p AS (SELECT ls[i] || ' ' || ls[i+1] AS pair, f FROM " +
      s"(SELECT ls, f, unnest(generate_series(1, len(ls)-1)) AS i FROM " +
      s"(SELECT string_split(sym, ' ') AS ls, f FROM $s))), " +
      // MATERIALIZED (r15): bN is referenced ~6× by the following
      // apply stage's replace expressions; without the hint DuckDB
      // inlines each reference, and a 16-round chain
      // (tokenizer_train_k) multiplies base-table opens past the fd
      // limit ("Too many open files" at K=16). Same values.
      s"$b AS MATERIALIZED (SELECT pair, CAST(sum(f) AS BIGINT) AS cnt FROM $p GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 1)"

  /** BPE training on the distinct-word frequency table `wf(word, f)`:
    * nRounds of count-weighted-pairs → crown the (count, pair)-max
    * merge → apply it. Returns (the ordered merge table, the final
    * per-word symbol table (word, sym, f) with ALL merges applied —
    * the encode side tokenizer_apply rolls up).
    *
    * The merge apply is a literal (non-regex) replace — same
    * left-to-right non-overlapping scan as DuckDB's replace(), and
    * immune to regex metacharacters in corpus-derived symbols —
    * ITERATED TO A PER-ROW FIXPOINT (r8, ADVICE): a single pass
    * consumes the shared delimiter space, skipping adjacent
    * occurrences ('a b a b' -> 'ab a b'); looping until no row
    * changes recovers the skipped merges ('ab ab'), matching
    * canonical left-to-right BPE everywhere except odd runs >= 5 of
    * a self-paired symbol (x==y), where only the GROUPING differs
    * ('a'*5 -> 'aa a aa' vs canonical 'aa aa a' — same merged-token
    * multiset, round counts unaffected at these fixtures). The
    * DuckDB oracle runs the identical fixpoint via [[bpeApplySql]]'s
    * per-word recursive CTE, so both engines share semantics. The
    * 1-row best-pair collect per round is the documented
    * bounded-collect class (AnnPq's codebook precedent). */
  private[graft] def bpeTrain(wf: org.apache.spark.sql.DataFrame, nRounds: Int,
      onRound: (Int, org.apache.spark.sql.DataFrame) => Unit = (_, _) => ())
      : (Seq[(Int, String, String, Long)], org.apache.spark.sql.DataFrame) = {
    var sym = wf.select(col("word"), spelled(col("word")).as("sym"), col("f"))
    onRound(0, sym)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to nRounds) {
      val ws = split(col("sym"), " ")
      val top = sym
        .select(explode(zip_with(
          slice(ws, lit(1), size(ws) - 1),
          slice(ws, lit(2), size(ws) - 1),
          (x, y) => concat_ws(" ", x, y))).as("pair"), col("f"))
        .groupBy("pair").agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(1).collect()
      require(top.nonEmpty, s"BPE round $r: no adjacent symbol pair left to merge")
      val best = top(0)
      val bp = best.getAs[String]("pair")
      val bm = bp.replace(" ", "")
      merges += ((r, bp, bm, best.getAs[Long]("cnt")))
      // each replace that fires removes one space, so Σ length(sym)
      // falls exactly when some row changed; the first pass always
      // fires (the crowned pair occurs), so no initial probe. The sum
      // is a map-side reduce: one job per pass, no shuffle stage
      sym = Fixpoint(sym, -1L, what = s"BPE round $r replace")(
          _.select(length(col("sym")).cast("long")).as(Encoders.scalaLong)
            .reduce(_ + _)) {
        _.select(col("word"),
          trim(replace(concat(lit(" "), col("sym"), lit(" ")),
            lit(s" $bp "), lit(s" $bm "))).as("sym"), col("f"))
          .localCheckpoint(false)
      }._1
      // post-fixpoint hook (round 0 is the character baseline, above):
      // sink_bpe_history snapshots each round's symbol table (a plan
      // reference, not an action — nothing runs unless consumed)
      onRound(r, sym)
    }
    (merges.result(), sym)
  }

  /** Per-word REPLACE-TO-FIXPOINT via a recursive CTE (r8): the
    * recursion re-applies the single-pass replace until a row stops
    * changing; the final SELECT keeps exactly each word's fixpoint
    * row (the only state the replace maps to itself) — the same
    * iterated semantics the Spark loop runs. */
  private def bpeApplySql(prev: String, b: String, next: String): String = {
    val rep = (c: String) => s"trim(replace(' ' || $c || ' ', " +
      s"' ' || (SELECT pair FROM $b) || ' ', " +
      s"' ' || replace((SELECT pair FROM $b), ' ', '') || ' '))"
    s"r$next AS (SELECT word, sym, f FROM $prev " +
      s"UNION ALL SELECT word, ${rep("sym")} AS sym, f FROM r$next " +
      s"WHERE ${rep("sym")} <> sym), " +
      // MATERIALIZED: sN feeds the NEXT round's pair explode AND its
      // own fixpoint filter — the same K=16 inlining blow-up guard
      // as bpeRoundSql's bN (values unchanged)
      s"$next AS MATERIALIZED (SELECT word, sym, f FROM r$next WHERE ${rep("sym")} = sym)"
  }

  /** The deep-trainer merge budget (r15, VERDICT r14 #6): 16 rounds.
    * The 3-round ops (tokenizer_bpe_merges, tokenizer_apply) are this
    * trainer's FIXED PREFIX — BPE merges are strictly sequential, so
    * rounds 1..3 of the K=16 run equal the 3-round run bit-for-bit
    * (asserted in OperatorPropertiesSpec). Measured headroom: the
    * fixture vocab (30 trainable words, 107 initial adjacent-pair
    * slots, identical at all three SFs) still holds 70+ distinct
    * pairs after round 16, so the argmax never draws from an empty
    * table at any fixture. */
  val BpeTrainK = 16

  /** The K-round unrolled BPE oracle chain s1 → (b1, s2) → … → bK
    * (+ sK+1, the final symbol table, when the caller encodes):
    * [[bpeRoundSql]]/[[bpeApplySql]] iterated — the
    * graph_girvan_rounds machine-generated-unroll pattern applied to
    * tokenizer training. Caller supplies w/wf/s1 and the SELECT. */
  private def bpeChainSql(k: Int, withFinalApply: Boolean): String =
    (1 to k).map { i =>
      bpeRoundSql(s"s$i", s"p$i", s"b$i") +
        (if (i < k || withFinalApply)
          ", " + bpeApplySql(s"s$i", s"b$i", s"s${i + 1}")
        else "")
    }.mkString(", ")

  /** The FULL BPE training history (round 0..K, word, sym, f) —
    * every round's post-fixpoint symbol table, materialized ONCE per
    * (session, sf) as a [[Sink]] (r15, the walk-corpus pattern's
    * eighth application — found by the round's own bench: the three
    * deep-trainer consumers each re-ran the 16-round loop per
    * invocation, ~13 s/bench combined for one ~5 s train). Round 0
    * is the character baseline (pre-merge). Everything the family
    * emits is a PROJECTION of this table: the crowned merge of round
    * r+1 is the (cnt desc, pair asc) argmax of round r's pair
    * explode (a per-round window — fully distributed, no driver
    * argmax on the read path), the learning curve is a per-round
    * rollup, and the encode side joins round K. Bucketed by word,
    * sorted (word, round): the encode join and per-word trajectories
    * ride the layout. 17 rounds × |vocab| rows in 4 buckets. */
  private[graft] val bpeHistory = Sink("sink_bpe_history", 4, "word",
      Seq("word", "round")) { (spark, sf) =>
      val wf = wordFreq(Tables.documents(spark, sf))
      def snap(df: org.apache.spark.sql.DataFrame, r: Int) = df
        .select(lit(r).as("round"), col("word"), col("sym"), col("f"))
      val buf = Seq.newBuilder[org.apache.spark.sql.DataFrame]
      bpeTrain(wf, BpeTrainK, (r, sym) => buf += snap(sym, r))
      buf.result().reduce(_.unionByName(_))
    }

  /** THE train/val membership key: md5-prefix content-hash bucket in
    * [0, 100). One definition (Scala + SQL fragment) shared by
    * split_train_val and corpus_pipeline so the standalone split and
    * the pipeline's split stage can never diverge. */
  def splitBucket(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(text), 1, 8), 16, 10).cast("long") % 100
  val SplitBucketSql: String = "('0x'||substr(md5(text),1,8))::BIGINT % 100"

  /** Uniform-training-mix keep rate min(1, total/(|langs|·n)) — shared
    * by corpus_mix (the manifest) and corpus_pipeline (the execution),
    * same drift rationale. */
  def mixRate(total: org.apache.spark.sql.Column, nl: org.apache.spark.sql.Column,
      nDocs: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    least(lit(1.0), total / (nl * nDocs))
  def mixRateSql(total: String, nl: String, n: String): String =
    s"least(1.0, $total / ($nl * $n))"

  /** The published release-target mixture (ppm of token/char mass per
    * language — sums to 1e6). A stated literal manifest, the form a
    * data-mix release note publishes; corpus_mix_kl_target gates the
    * corpus against it. */
  val ReleaseMixPpm: Seq[(String, Long)] = Seq(
    "de" -> 150000L, "en" -> 400000L, "es" -> 150000L,
    "fr" -> 100000L, "zh" -> 200000L)

  /** KL(actual ‖ target) over char mass against an explicit q table —
    * corpus_mix_kl's plan with the uniform 1/|langs| target swapped
    * for a literal (lang, q_ppm) manifest. Factored so the spec can
    * pass the uniform target and prove corpus_mix_kl is the
    * q = 1/|langs| special case of this operator. */
  def mixKlAgainst(spark: org.apache.spark.sql.SparkSession, sf: String,
      target: Seq[(String, Long)]): org.apache.spark.sql.DataFrame = {
    val session = spark
    import session.implicits._
    val q = target.toDF("lang", "q_ppm")
    val per = Tables.documents(spark, sf)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
    val tot = per.agg(sum(col("chars")).as("tc"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    // ONE ln() from exact integer ratios, floor-quantized to
    // micro-nats BEFORE the total sums (corpus_mix_kl's discipline):
    // p/q = (chars·1e6)/(tc·q_ppm), both sides exact BIGINT products
    // cast to double (< 2^53 at any plausible manifest scale)
    val contrib = floor(
      (d(col("chars")) / d(col("tc"))) *
        log(d(col("chars") * lit(1000000L)) / d(col("tc") * col("q_ppm"))) *
        lit(1000000.0)).cast("long")
    val k = per.join(broadcast(q), Seq("lang"), "left")
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("chars"), col("q_ppm"),
        expr("(chars * 1000000) div tc").as("share_ppm"),
        contrib.as("kl_contrib_micro"))
    val ks = k.agg(sum(col("kl_contrib_micro")).as("kl_total_micro"),
      sum(when(col("q_ppm").isNull, 1L).otherwise(0L)).as("n_uncovered"))
    k.crossJoin(broadcast(ks))
      .select(col("lang"), col("n_docs"), col("chars"), col("q_ppm"),
        col("share_ppm"), col("kl_contrib_micro"), col("kl_total_micro"),
        col("n_uncovered"),
        (col("kl_total_micro") <= 200000L && col("n_uncovered") === 0L)
          .as("mix_in_tol"))
      .orderBy("lang")
  }

  /** Per-document DSIR table (doc_id, lang, n_tokens, logw_micro) —
    * corpus_dsir's build, factored (r14) so sample_dsir composes the
    * SAME frozen integer weights into its resampling draw. See the
    * corpus_dsir QueryDef comment for the model. */
  /** A token's DSIR hash bucket in [0, 64): md5 hex chars 9-16 as a
    * number, mod 64 — the same bin on both engines, and in the
    * streaming scorer. */
  private[graft] def dsirBucket(w: Column): Column =
    conv(substring(md5(w), 9, 8), 16, 10).cast("long") % 64

  /** Per-(doc, lang, bucket) hashed token counts — the shared
    * feature table under corpus_dsir, sample_dsir, and
    * quality_lm_perplexity (64 md5 bins, identical on both
    * engines). */
  private def dsirBucketCounts(spark: org.apache.spark.sql.SparkSession,
      sf: String): org.apache.spark.sql.DataFrame =
    Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), col("lang"), dsirBucket(col("w")).as("b"))
      .groupBy("doc_id", "lang", "b")
      .agg(count(lit(1)).as("c"))

  private def dsirDocTable(spark: org.apache.spark.sql.SparkSession,
      sf: String): org.apache.spark.sql.DataFrame = {
    val dc = dsirBucketCounts(spark, sf)
    dc.join(broadcast(dsirWeightTable(dc)), "b")
      .groupBy("doc_id", "lang")
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("w_micro")).as("logw_micro"))
  }

  /** The 64-row frozen bucket-weight model (b, w_micro) off a
    * (doc_id, lang, b, c) count table — factored (r14) so the
    * streaming twin can export the SAME model as a literal map. */
  private def dsirWeightTable(dc: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val rawc = dc.groupBy("b").agg(sum(col("c")).as("cr"))
    val tgtc = dc.filter(col("lang") === "en")
      .groupBy("b").agg(sum(col("c")).as("ct"))
    val wts = rawc.join(tgtc, Seq("b"), "left")
      .select(col("b"), coalesce(col("ct"), lit(0L)).as("ct"), col("cr"))
    val tots = wts.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    wts.crossJoin(broadcast(tots))
      .select(col("b"),
        floor(log(((col("ct") + lit(1L)) * (col("tr") + lit(64L)))
          .cast("double") /
          ((col("cr") + lit(1L)) * (col("tt") + lit(64L)))
            .cast("double")) * lit(1000000.0)).cast("long")
          .as("w_micro"))
  }

  /** The frozen DSIR model as a driver-side literal map — the shape
    * an ONLINE scorer deploys (train offline, apply in-stream);
    * consumed by Streams.dsirSelection and its parity spec. The
    * collect is the 64-row model table — the PQ-codebook class of
    * bounded literal collects. */
  private[graft] def dsirBucketWeights(
      spark: org.apache.spark.sql.SparkSession, sf: String)
      : Map[Long, Long] =
    dsirWeightTable(dsirBucketCounts(spark, sf)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The same per-document DSIR table as DuckDB CTEs ending in `ds`. */
  private val DsirSqlCtes: String =
    "tok AS (SELECT doc_id, lang, ('0x'||substr(md5(w),9,8))::BIGINT % 64 AS b FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents)), " +
      "dc AS (SELECT doc_id, lang, b, count(*) AS c FROM tok GROUP BY 1, 2, 3), " +
      "rawc AS (SELECT b, CAST(sum(c) AS BIGINT) AS cr FROM dc GROUP BY 1), " +
      "tgtc AS (SELECT b, CAST(sum(c) AS BIGINT) AS ct FROM dc WHERE lang = 'en' GROUP BY 1), " +
      "w AS (SELECT rawc.b, COALESCE(ct, 0) AS ct, cr FROM rawc LEFT JOIN tgtc ON rawc.b = tgtc.b), " +
      "t AS (SELECT CAST(sum(ct) AS BIGINT) AS tt, CAST(sum(cr) AS BIGINT) AS tr FROM w), " +
      "wm AS (SELECT b, CAST(floor(ln(CAST((ct + 1) * (tr + 64) AS DOUBLE) / CAST((cr + 1) * (tt + 64) AS DOUBLE)) * 1000000.0) AS BIGINT) AS w_micro FROM w CROSS JOIN t), " +
      "ds AS (SELECT doc_id, lang, CAST(sum(c) AS BIGINT) AS n_tokens, CAST(sum(c * w_micro) AS BIGINT) AS logw_micro FROM dc JOIN wm ON dc.b = wm.b GROUP BY doc_id, lang)"

  /** ln 2 in micro-nats — sample_dsir's dyadic band width. */
  private val Ln2Micro = 693147L

  def defs: Seq[QueryDef] = Seq(

    // TF-IDF keyword extraction: top-3 terms per document by
    // tf × (N+1)/(df+1). The document representation / keyword-index
    // pass of a corpus pipeline.
    QueryDef(
      "tfidf_keywords",
      (spark, sf) => {
        val docs = Tables.documents(spark, sf)
        val w = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("term"))
        val tf = w.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = w.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
        val n = docs.agg(count(lit(1)).as("n"))
        // no broadcast HINT on the df join: |vocab| is tiny here but
        // corpus-dependent at 100 TB — the planner (sizes/stats/AQE)
        // owns that call; only the single-row N is broadcast by fiat
        val scored = tf
          .join(dfreq, "term")
          .crossJoin(broadcast(n))
          .withColumn("score", col("tf").cast("double") *
            ((col("n") + lit(1.0)) / (col("df") + lit(1.0))))
        scored
          .withColumn("rk", row_number().over(
            Window.partitionBy("doc_id")
              .orderBy(col("score").desc, col("term"))))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("term"),
            round(col("score"), 4).as("score"), col("rk"))
          .orderBy("doc_id", "rk")
      },
      Some("WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1,2), df AS (SELECT term, count(DISTINCT doc_id) AS df FROM w GROUP BY 1), n AS (SELECT count(*) AS n FROM documents), s AS (SELECT doc_id, term, CAST(tf AS DOUBLE) * ((n + 1.0) / (df + 1.0)) AS score FROM tf JOIN df USING (term) CROSS JOIN n), r AS (SELECT doc_id, term, score, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk FROM s) SELECT doc_id, term, round(score,4) AS score, rk FROM r WHERE rk <= 3 ORDER BY doc_id, rk"),
      scaleNote = "tf is a 2-phase hash agg on (doc,term); df is |vocab| rows — broadcast here, a shuffle-on-term join once vocab outgrows the broadcast threshold (the plan shape is identical). The corpus count N is a single-row broadcast (constant, not a scan). Top-k per doc rides WindowGroupLimit, so each partition retains 3 rows during the sort — no global sort, no collect."),

    // Deterministic content-hash train/val split (90/10): the split
    // every training pipeline needs, keyed on md5(text) so membership
    // survives re-ingestion, re-partitioning, and id reassignment.
    QueryDef(
      "split_train_val",
      (spark, sf) =>
        Tables.documents(spark, sf)
          .withColumn("bucket", splitBucket(col("text")))
          .withColumn("split",
            when(col("bucket") < 90, lit("train")).otherwise(lit("val")))
          .select(col("doc_id"), col("bucket"), col("split"))
          .orderBy("doc_id"),
      Some(s"SELECT doc_id, $SplitBucketSql AS bucket, CASE WHEN $SplitBucketSql < 90 THEN 'train' ELSE 'val' END AS split FROM documents ORDER BY doc_id"),
      scaleNote = "Map-only: one codegen'd hash per row, no shuffle, no state — the split of 100 TB costs a single scan and assignment is reproducible on any cluster layout. Content-keyed hashing also means exact duplicates land in the SAME split (no train/val leakage through dup pairs), which id-keyed splits cannot guarantee."),

    // Training-mix rebalancing manifest: per-language sampling rates
    // that downsample over-represented languages to a uniform target
    // share. rate = min(1, total/(|langs| x n_docs)) is one integer
    // product and one IEEE division — bit-identical across engines;
    // pair with sample_fraction to execute the plan.
    QueryDef(
      "corpus_mix",
      (spark, sf) => {
        val docs = Tables.documents(spark, sf)
        val t = docs.agg(count(lit(1)).as("total"),
          countDistinct(col("lang")).as("nl"))
        docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
          .crossJoin(broadcast(t))
          .withColumn("rate_raw",
            mixRate(col("total"), col("nl"), col("n_docs")))
          .select(col("lang"), col("n_docs"),
            round(col("rate_raw"), 6).as("rate"),
            floor(col("n_docs") * col("rate_raw")).cast("long").as("n_keep"))
          .orderBy("lang")
      },
      Some(s"WITH t AS (SELECT count(*) AS total, count(DISTINCT lang) AS nl FROM documents) SELECT lang, count(*) AS n_docs, round(${mixRateSql("t.total", "t.nl", "count(*)")}, 6) AS rate, CAST(floor(count(*) * ${mixRateSql("t.total", "t.nl", "count(*)")}) AS BIGINT) AS n_keep FROM documents CROSS JOIN t GROUP BY lang, t.total, t.nl ORDER BY lang"),
      scaleNote = "Two tiny aggregations (|langs| rows and one global row) over one scan each — the manifest costs two map-side-combined passes no matter the corpus size, and the single-row totals broadcast. The rates then DRIVE the heavy work: a scan-side Bernoulli filter per language (sample_fraction's shape), never a shuffle. Swap the uniform target for any published mix vector without changing the plan."),

    // Mixture-drift gate (r11) — corpus_mix PRESCRIBES a mixture;
    // this MEASURES how far the corpus actually sits from the target,
    // as KL(actual ‖ target) over TOKEN mass (char-weighted, not
    // doc-weighted — a mixture is a token budget, and doc shares
    // mis-state it when lengths differ by language): per language
    // the exact char share (ppm, integer), the KL contribution
    // p·ln(p/q) against the uniform target (the one ln() composes
    // from exact integer ratios and floor-quantizes to micro-nats
    // immediately — ab_sequential's discipline), the corpus total
    // KL as an exact BIGINT sum of the quantized contributions, and
    // the release gate KL ≤ 0.2 nats (a stated literal — roughly
    // "no language's share off by more than ~2× in log terms").
    // This is the number a recurring corpus build alerts on: a
    // crawler that starts over-fetching one language moves KL long
    // before any per-language count looks alarming.
    QueryDef(
      "corpus_mix_kl",
      (spark, sf) => {
        val per = Tables.documents(spark, sf)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"))
        val tot = per.agg(sum(col("chars")).as("tc"),
          count(lit(1)).as("nl"))
        def d(c: org.apache.spark.sql.Column) = c.cast("double")
        val contrib = floor(
          (d(col("chars")) / d(col("tc"))) *
            log(d(col("chars") * col("nl")) / d(col("tc"))) *
            lit(1000000.0)).cast("long")
        val k = per.crossJoin(broadcast(tot))
          .select(col("lang"), col("n_docs"), col("chars"),
            expr("(chars * 1000000) div tc").as("share_ppm"),
            contrib.as("kl_contrib_micro"))
        val ksum = k.agg(sum(col("kl_contrib_micro")).as("kl_total_micro"))
        k.crossJoin(broadcast(ksum))
          .select(col("lang"), col("n_docs"), col("chars"),
            col("share_ppm"), col("kl_contrib_micro"),
            col("kl_total_micro"),
            (col("kl_total_micro") <= 200000L).as("mix_in_tol"))
          .orderBy("lang")
      },
      Some("WITH per AS (SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars FROM documents GROUP BY 1), " +
        "t AS (SELECT CAST(sum(chars) AS BIGINT) AS tc, count(*) AS nl FROM per), " +
        "k AS (SELECT lang, n_docs, chars, (chars * 1000000) // tc AS share_ppm, " +
        "CAST(floor((CAST(chars AS DOUBLE)/CAST(tc AS DOUBLE)) * ln(CAST(chars * nl AS DOUBLE)/CAST(tc AS DOUBLE)) * 1000000.0) AS BIGINT) AS kl_contrib_micro " +
        "FROM per CROSS JOIN t), " +
        "s AS (SELECT CAST(sum(kl_contrib_micro) AS BIGINT) AS kl_total_micro FROM k) " +
        "SELECT lang, n_docs, chars, share_ppm, kl_contrib_micro, kl_total_micro, " +
        "kl_total_micro <= 200000 AS mix_in_tol " +
        "FROM k CROSS JOIN s ORDER BY lang"),
      scaleNote = "corpus_mix's economics exactly — two map-side " +
        "aggregations (|langs| rows, then 1) plus the 1-row total " +
        "broadcasts the structural sweep auto-accepts — and the " +
        "report is |langs| rows whatever the corpus. The float " +
        "discipline is the load-bearing part: each contribution " +
        "composes ONE ln() from exact integer ratios and floor-" +
        "quantizes to micro-nats before the total sums, so the " +
        "corpus KL (and the gate boolean) is an exact-integer fact " +
        "at any partitioning. Against a NON-uniform published " +
        "target, q_lang joins in as a literal table (the corpus_" +
        "token_allocation shape) and the expression is unchanged; " +
        "per-source or per-shard drift panels add a group key. The " +
        "same quantize-then-sum KL shape gates embedding-bucket " +
        "drift (ann_ivf's bucket histogram vs its training one) " +
        "and token-distribution drift (vocab_coverage's counts) — " +
        "one discipline, many gates."),

    // Non-uniform mixture-drift gate (r12, VERDICT r11 #2) — the
    // literal-q-table swap corpus_mix_kl's comment promised, gated:
    // the SAME quantize-then-sum KL plan measured against a PUBLISHED
    // release target (ReleaseMixPpm — a stated ppm manifest, the form
    // every real data-mix release note carries) instead of the
    // uniform 1/|langs|. q joins in as a |langs|-row literal VALUES
    // table (broadcast — the corpus_token_allocation shape); the
    // contribution p·ln(p/q) still composes ONE ln() from exact
    // integer ratios — ln((chars·1e6)/(tc·q_ppm)) — and floor-
    // quantizes to micro-nats before the exact BIGINT total. A lang
    // the target omits cannot silently vanish into an inner join:
    // the LEFT join carries it with a NULL q, the n_uncovered column
    // counts it, and the gate verdict requires zero uncovered langs
    // (p>0 against q=0 is infinite KL — the gate must fail, not
    // skip). Uniform corpus_mix_kl is PROVEN the q=1/|langs| special
    // case in-spec (same exact rational → same IEEE division → same
    // double, bit for bit).
    QueryDef(
      "corpus_mix_kl_target",
      (spark, sf) => mixKlAgainst(spark, sf, ReleaseMixPpm),
      Some {
        val values = ReleaseMixPpm
          .map { case (l, q) => s"('$l', CAST($q AS BIGINT))" }
          .mkString(", ")
        s"WITH q AS (SELECT * FROM (VALUES $values) AS t(lang, q_ppm)), " +
          "per AS (SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars FROM documents GROUP BY 1), " +
          "t AS (SELECT CAST(sum(chars) AS BIGINT) AS tc FROM per), " +
          "k AS (SELECT per.lang, n_docs, chars, q.q_ppm, (chars * 1000000) // tc AS share_ppm, " +
          "CAST(floor((CAST(chars AS DOUBLE)/CAST(tc AS DOUBLE)) * ln(CAST(chars * 1000000 AS DOUBLE)/CAST(tc * q.q_ppm AS DOUBLE)) * 1000000.0) AS BIGINT) AS kl_contrib_micro " +
          "FROM per LEFT JOIN q ON per.lang = q.lang CROSS JOIN t), " +
          "s AS (SELECT CAST(sum(kl_contrib_micro) AS BIGINT) AS kl_total_micro, " +
          "CAST(sum(CASE WHEN q_ppm IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_uncovered FROM k) " +
          "SELECT lang, n_docs, chars, q_ppm, share_ppm, kl_contrib_micro, kl_total_micro, n_uncovered, " +
          "kl_total_micro <= 200000 AND n_uncovered = 0 AS mix_in_tol " +
          "FROM k CROSS JOIN s ORDER BY lang"
      },
      scaleNote = "corpus_mix_kl's economics verbatim — two map-side " +
        "aggregations plus two 1-row broadcasts the structural sweep " +
        "auto-accepts — with ONE more |langs|-row broadcast join (the " +
        "literal q table; a published mix manifest is dimension-" +
        "scale by definition, hundreds of rows at most). The LEFT " +
        "join + n_uncovered column is the scale-safety piece: as the " +
        "crawl discovers new languages the gate FAILS loudly (an " +
        "uncovered lang means p>0 vs q=0 — infinite KL, not a " +
        "skippable row), which is exactly the alert semantics a " +
        "recurring 100 TB build needs. Swapping release targets is a " +
        "literal-table edit — plan, shuffle count, and float " +
        "discipline (one ln per lang, floor-quantized micro-nats, " +
        "exact BIGINT total) are unchanged from the uniform gate."),

    // Per-document novelty: the fraction of a doc's distinct shingles
    // that occur in NO other document — the decontamination/novelty
    // signal (a doc of all-shared shingles is boilerplate or benchmark
    // leakage; all-unique is fresh content). Shares NearDup's shingle
    // definition and the oracle reuses the same truth CTE chain.
    QueryDef(
      "doc_novelty",
      (spark, sf) => {
        val sh = NearDup.shingleRows(Tables.documents(spark, sf)).distinct()
        val bySh = Window.partitionBy("sh")
        sh.withColumn("n_docs", count(lit(1)).over(bySh))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("n_docs") === 1, 1L).otherwise(0L)).as("n_unique"))
          .withColumn("novelty",
            round(col("n_unique").cast("double") /
              col("n_shingles").cast("double"), 4))
          .orderBy("doc_id")
      },
      Some(s"WITH ${NearDup.TruthPairCtes}, f AS (SELECT g, count(*) AS n_docs FROM s GROUP BY g) SELECT doc_id, count(*) AS n_shingles, CAST(sum(CASE WHEN n_docs = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique, round(CAST(sum(CASE WHEN n_docs = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS novelty FROM s JOIN f USING (g) GROUP BY doc_id ORDER BY doc_id"),
      scaleNote = "One shuffle on the shingle key serves the document-frequency window; the per-doc rollup then shuffles |docs| partials, not shingles. The integer ratio is exact, so the score is bit-identical on any layout. At 100 TB hash the shingle to 8 bytes first (the ngram_jaccard trick) so the wide shuffle carries fixed-width keys. A bloom stage here — unlike contamination_check's (evalOverlap), where false positives only waste an exact-probe row — would be APPROXIMATE by construction: a df≥2 bloom's false positive flips a uniqueness bit directly into the score. The exact operator is this one-shuffle df pass; a bloom-pruned variant is the documented approximation when a novelty ESTIMATE suffices, with FPR bounding the score bias."),

    // Sequence packing: assign documents (in stable doc_id order) to
    // fixed-token-budget training sequences — the batch-assembly step
    // before tokenized text becomes training examples. seq_id =
    // floor(tokens-before-this-doc / budget), i.e. documents flow into
    // 2048-token bins and may straddle a boundary (standard packed-
    // sequence semantics). The global running count is computed as a
    // TWO-PHASE distributed prefix sum — per-shard subtotals, a tiny
    // offsets cumsum, then shard-local windows — never a
    // single-partition window over the corpus.
    QueryDef(
      "pack_sequences",
      (spark, sf) => {
        val budget = 2048
        val shardSpan = 64 // contiguous doc_id blocks preserve order
        val docs = Tables.documents(spark, sf)
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("ntok"),
            expr(s"doc_id div $shardSpan").as("shard"))
        // phase 1: per-shard token subtotals (|shards| rows)
        val subtotals = docs.groupBy("shard")
          .agg(sum(col("ntok")).as("shard_tok"))
        // phase 2: offsets via a cumsum over the TINY subtotal table —
        // the only single-partition window touches |shards| rows, a
        // bounded-size plan node at any corpus size
        val offsets = subtotals.withColumn("offset",
          coalesce(sum(col("shard_tok")).over(
            Window.orderBy("shard")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("shard", "offset")
        // phase 3: shard-local running sums + the broadcast offsets
        val wShard = Window.partitionBy("shard").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        docs.join(broadcast(offsets), "shard")
          .withColumn("cum", col("offset") + sum(col("ntok")).over(wShard))
          .select(col("doc_id"), col("ntok"), col("cum"),
            floor((col("cum") - col("ntok")) / budget).cast("long").as("seq_id"))
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, ntok, CAST(cum AS BIGINT) AS cum, CAST(floor((cum - ntok) / 2048) AS BIGINT) AS seq_id FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok, sum(len(string_split(text, ' '))) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM documents) ORDER BY doc_id"),
      scaleNote = "A global running sum is the textbook distributed-prefix-sum: per-shard subtotals (map-side agg), a cumsum over the |shards|-row subtotal table (the ONLY single-partition step — KB-sized at any corpus scale), and shard-local windows shifted by the broadcast offsets. The naive formulation (one Window over ORDER BY doc_id with no partition key) funnels 100 TB through ONE task — this plan never does, pinned in PlanPropertiesSpec. Shards here are contiguous doc_id blocks; at scale they are the ingest partition ranges, so phase 3 reuses the storage partitioning with zero extra shuffle."),

    // Tokenizer-vocabulary design: corpus word frequencies ranked,
    // with cumulative coverage share and the 95%-coverage vocab cut —
    // the analysis that sizes a BPE/unigram vocabulary before
    // training one. Bounded output: top 100 words.
    QueryDef(
      "vocab_coverage",
      (spark, sf) => {
        val w = Tables.documents(spark, sf)
          .select(explode(split(col("text"), " ")).as("w"))
        val freq = w.groupBy("w").agg(count(lit(1)).as("n"))
        val tot = freq.agg(sum(col("n")).as("total"))
        val byRank = Window.orderBy(col("n").desc, col("w"))
        freq.crossJoin(broadcast(tot))
          .withColumn("rk", row_number().over(byRank))
          .withColumn("cum", sum(col("n")).over(
            byRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .filter(col("rk") <= 100)
          .select(col("rk"), col("w"), col("n"),
            round(col("cum").cast("double") / col("total"), 4).as("cum_share"),
            (col("cum").cast("double") / col("total") <= 0.95).as("in_vocab95"))
          .orderBy("rk")
      },
      Some("WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents), " +
        "f AS (SELECT w, count(*) AS n FROM w GROUP BY 1), " +
        "t AS (SELECT sum(n) AS total FROM f), " +
        "r AS (SELECT w, n, row_number() OVER (ORDER BY n DESC, w) AS rk, " +
        "sum(n) OVER (ORDER BY n DESC, w ROWS UNBOUNDED PRECEDING) AS cum FROM f) " +
        "SELECT rk, w, n, round(CAST(cum AS DOUBLE) / total, 4) AS cum_share, " +
        "(CAST(cum AS DOUBLE) / total <= 0.95) AS in_vocab95 " +
        "FROM r CROSS JOIN t WHERE rk <= 100 ORDER BY rk"),
      scaleNote = "The heavy half is a 2-phase hash agg over tokens " +
        "(map-side-combined partials: |vocab| rows cross the wire, " +
        "not |tokens|). The ranked cumsum is a window over the VOCAB " +
        "table — Zipf-bounded, millions of rows at web scale, not " +
        "corpus-sized — and the top-100 cut rides WindowGroupLimit so " +
        "partitions retain 100 rows during the sort. For a 100 TB " +
        "corpus with an unbounded vocab (URLs, hashes), pre-prune the " +
        "tail with agg_heavy_hitters' Misra-Gries pass: KB-sized " +
        "partials decide the top-K candidates, the exact agg then " +
        "runs on candidates only."),

    // Class-balanced downsampling: every language cut to the minority
    // language's count by deterministic hash order — the downsampling
    // complement of corpus_epochs' upsampling (same md5(text:id)
    // order key as shuffle_shards, so membership is reproducible on
    // any layout and survives re-ingestion).
    QueryDef(
      "sample_balanced",
      (spark, sf) => {
        val docs = Tables.documents(spark, sf)
        val minN = docs.groupBy("lang").agg(count(lit(1)).as("n"))
          .agg(min(col("n")).as("min_n"))
        val h = md5(concat(col("text"), lit(":"), col("doc_id").cast("string")))
        docs.withColumn("h", h)
          .withColumn("rk", row_number().over(
            Window.partitionBy("lang").orderBy("h", "doc_id")))
          .crossJoin(broadcast(minN))
          .filter(col("rk") <= col("min_n"))
          .select(col("doc_id"), col("lang"), col("rk"))
          .orderBy("lang", "rk")
      },
      Some("WITH m AS (SELECT min(n) AS min_n FROM (SELECT lang, count(*) AS n FROM documents GROUP BY 1)), " +
        "r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang " +
        "ORDER BY md5(text || ':' || CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM documents) " +
        "SELECT doc_id, lang, rk FROM r CROSS JOIN m WHERE rk <= min_n ORDER BY lang, rk"),
      scaleNote = "One |langs|-row manifest aggregate (broadcast) and " +
        "one shuffle on lang for the per-class rank — the rank sort " +
        "is class-sized, not corpus-sized, and a skewed majority " +
        "class is exactly what the cut discards, so the expensive " +
        "sort can first TRUNCATE per partition: any partition holding " +
        "> min_n rows of one class can locally drop beyond-rank rows " +
        "(WindowGroupLimit does this automatically once min_n is a " +
        "literal). Hash-keyed order makes the kept set identical on " +
        "any layout — rand()-based balancing is irreproducible and " +
        "id-ordered balancing biases toward early ingest."),

    // Consistent (content-key-hash) sampling — the subset selector
    // every corpus release uses for ablations: membership depends
    // ONLY on a salted md5 of the stable key, so the same doc lands
    // in the sample on every rerun, on any engine, after any
    // re-ingestion or re-partition — where rand()-based sampling
    // gives a different subset per run and per layout, making A/B
    // ablations incomparable. Keep iff the first two hex chars of
    // md5('graft8:' || doc_id) ≤ '28' (41/256 ≈ 16.0% — hex prefix
    // compare IS a uniform threshold because md5 nibbles are
    // uniform). Complements compose: the '29'..'ff' band is exactly
    // the held-out rest, disjoint by construction.
    QueryDef(
      "sample_consistent",
      (spark, sf) =>
        Tables.documents(spark, sf)
          .select(col("doc_id"), col("lang"),
            substring(md5(concat(lit("graft8:"),
              col("doc_id").cast("string"))), 1, 2).as("h2"))
          .filter(col("h2") <= "28")
          .orderBy("doc_id"),
      Some("SELECT doc_id, lang, substr(md5('graft8:' || CAST(doc_id AS VARCHAR)), 1, 2) AS h2 " +
        "FROM documents WHERE substr(md5('graft8:' || CAST(doc_id AS VARCHAR)), 1, 2) <= '28' " +
        "ORDER BY doc_id"),
      scaleNote = "Map-only: the predicate is codegen'd scalar hashing " +
        "inside the scan — no shuffle, no state, embarrassingly " +
        "parallel at any corpus size, and the SAME predicate pushed " +
        "into two different engines selects the SAME subset (the " +
        "oracle literally proves this property — it is the operator's " +
        "contract, not just its test). Rate tuning is the threshold " +
        "byte; finer rates take more prefix hex chars (65536 bands at " +
        "4). Salting the key re-draws an independent sample; keying " +
        "on a CONTENT hash instead of doc_id keeps membership stable " +
        "across id reassignment. This is how a 100 TB release ships " +
        "a 1% eval slice everyone can reproduce byte-for-byte."),

    // Weighted (importance) sampling (r10) — the third member of the
    // sampling triad: sample_consistent draws uniformly over DOCS,
    // sample_balanced equalizes classes, and this draws with
    // probability ∝ SIZE (n_chars/max_chars), i.e. approximately
    // uniformly over TOKENS — the draw a token-budgeted corpus audit
    // or a length-unbiased eval slice actually wants (doc-uniform
    // sampling over-represents short docs' tokens). Same consistent-
    // hash mechanism: u16 = first 4 md5 hex chars of the salted key
    // (a uniform 16-bit draw), kept iff u16 < (n_chars·65536) div
    // max — reproducible on any engine, layout, and rerun, where a
    // rand()-weighted draw is none of those. Any weight column
    // (quality score, domain priority) substitutes for n_chars
    // unchanged.
    QueryDef(
      "sample_weighted",
      (spark, sf) => {
        val docs = Tables.documents(spark, sf)
        val mx = docs.agg(max(col("n_chars")).as("mx"))
        docs.crossJoin(broadcast(mx))
          .withColumn("u16", conv(substring(md5(concat(lit("graftw:"),
            col("doc_id").cast("string"))), 1, 4), 16, 10).cast("long"))
          .withColumn("thr", expr("(n_chars * 65536) div mx"))
          .filter(col("u16") < col("thr"))
          .select(col("doc_id"), col("n_chars"), col("thr"))
          .orderBy("doc_id")
      },
      Some("WITH m AS (SELECT max(n_chars) AS mx FROM documents), " +
        "s AS (SELECT doc_id, n_chars, " +
        "('0x'||substr(md5('graftw:'||CAST(doc_id AS VARCHAR)),1,4))::BIGINT AS u16, " +
        "(n_chars * 65536) // mx AS thr FROM documents CROSS JOIN m) " +
        "SELECT doc_id, n_chars, thr FROM s WHERE u16 < thr ORDER BY doc_id"),
      scaleNote = "Map-only after a 1-row max broadcast: the " +
        "keep/drop predicate is codegen'd scalar hashing inside the " +
        "scan — no shuffle, no per-group state, and the SAME " +
        "predicate selects the SAME subset in any engine (the " +
        "oracle's contract, as with sample_consistent). The scalar " +
        "max is the only non-local input; at 100 TB pin it as a " +
        "corpus constant (or a percentile fence from agg_approx_" +
        "quantile — a single extreme doc otherwise flattens every " +
        "other weight) and distribute it with the job config rather " +
        "than an aggregate. 16-bit resolution bounds the rate error " +
        "at 2⁻¹⁶ per doc; widen the hex prefix for finer weights, " +
        "exactly as sample_consistent tunes its rate."),

    // Repetition-aware training mixture (the data-constrained-scaling
    // complement of corpus_mix's downsampling): under-represented
    // languages are UPsampled by whole-epoch repetition, epochs =
    // ceil(max_lang_count / lang_count) capped at 4 (beyond ~4 epochs
    // repeated data stops helping — the published data-constrained
    // scaling result). Emits one row per (doc, epoch): the expanded
    // training manifest.
    QueryDef(
      "corpus_epochs",
      (spark, sf) => {
        val docs = Tables.documents(spark, sf)
        val ln = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        val t = ln.agg(max(col("n_docs")).as("max_n"))
        val e = ln.crossJoin(broadcast(t))
          .withColumn("epochs",
            least(lit(4L), expr("(max_n + n_docs - 1) div n_docs")))
          .select("lang", "epochs")
        docs.join(broadcast(e), "lang")
          .select(col("doc_id"), col("lang"), col("epochs"),
            explode(sequence(lit(1L), col("epochs"))).as("epoch"))
          .orderBy("doc_id", "epoch")
      },
      Some("WITH ln AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1), " +
        "t AS (SELECT max(n_docs) AS max_n FROM ln), " +
        "e AS (SELECT lang, least(4, (max_n + n_docs - 1) // n_docs) AS epochs FROM ln CROSS JOIN t) " +
        "SELECT d.doc_id, d.lang, e.epochs, CAST(ep.epoch AS BIGINT) AS epoch " +
        "FROM documents d JOIN e USING (lang) " +
        "JOIN (VALUES (1),(2),(3),(4)) AS ep(epoch) ON ep.epoch <= e.epochs " +
        "ORDER BY doc_id, epoch"),
      scaleNote = "The manifest math is two tiny aggregations " +
        "(|langs| rows, then one row) and the expansion is a " +
        "broadcast join + explode(sequence) — map-only on the corpus " +
        "side, output exactly Σ n_docs·epochs rows with zero " +
        "shuffle. Epoch math is integer-only (ceil-div as " +
        "(a+b-1) div b), so the manifest is bit-identical on any " +
        "layout. The epoch cap bounds write amplification at 4×; at " +
        "100 TB the expansion happens at TRAINING-read time (an " +
        "iterator over (doc, epoch) keys), never as a materialized " +
        "4× copy — this query IS that iterator's definition."),

    // Deterministic training-order shuffle: every epoch of training
    // wants the corpus in a pseudorandom but REPRODUCIBLE order,
    // sharded for parallel loaders. Order key = md5(text:doc_id)
    // (content+id, so identical texts still get distinct positions),
    // shard = top hash bits mod 8, position = rank within shard.
    QueryDef(
      "shuffle_shards",
      (spark, sf) => {
        val h = md5(concat(col("text"), lit(":"), col("doc_id").cast("string")))
        Tables.documents(spark, sf)
          .withColumn("h", h)
          .withColumn("shard",
            conv(substring(col("h"), 1, 8), 16, 10).cast("long") % 8)
          .withColumn("pos", row_number().over(
            Window.partitionBy("shard").orderBy("h", "doc_id")))
          .select("doc_id", "shard", "pos")
          .orderBy("shard", "pos")
      },
      Some("SELECT doc_id, shard, row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS pos " +
        "FROM (SELECT doc_id, md5(text || ':' || CAST(doc_id AS VARCHAR)) AS h, " +
        "('0x'||substr(md5(text || ':' || CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 8 AS shard " +
        "FROM documents) ORDER BY shard, pos"),
      scaleNote = "One codegen'd hash per row, one shuffle on the " +
        "shard key, and a PER-SHARD sort — never a global ORDER BY: " +
        "with S shards the largest sort is corpus/S, and shards map " +
        "1:1 to training loader workers so the output partitioning IS " +
        "the serving layout (write bucketed by shard, read with zero " +
        "further movement). Hash-derived order is reproducible on any " +
        "cluster layout — rerunning on repartitioned input yields " +
        "byte-identical shard files, which a rand()-based shuffle " +
        "cannot promise. Epoch reshuffles reuse the plan with the " +
        "epoch index folded into the hash salt."),

    // Symmetric int8 quantization per embedding vector (scale =
    // 127/max|x|) — the storage/serving compression step for an
    // embedding corpus; emits per-vector integer summaries.
    QueryDef(
      "emb_quantize",
      (spark, sf) => {
        val s = Tables.embeddings(spark, sf)
          .select(col("vec_id"), explode(col("embedding")).as("x"))
          .withColumn("xd", col("x").cast("double"))
        val byVec = Window.partitionBy("vec_id")
        s.withColumn("max_abs", max(abs(col("xd"))).over(byVec))
          .filter(col("max_abs") > 0)
          .withColumn("q", round(col("xd") * (lit(127.0) / col("max_abs"))))
          .groupBy("vec_id")
          .agg(sum(col("q")).cast("long").as("q_sum"),
            min(col("q")).cast("long").as("q_min"),
            max(col("q")).cast("long").as("q_max"))
          .orderBy("vec_id")
      },
      Some("WITH s AS (SELECT vec_id, unnest(embedding) AS x FROM embeddings), m AS (SELECT vec_id, max(abs(CAST(x AS DOUBLE))) AS max_abs FROM s GROUP BY 1), qt AS (SELECT s.vec_id, round(CAST(x AS DOUBLE) * (127.0 / max_abs)) AS q FROM s JOIN m ON s.vec_id = m.vec_id WHERE max_abs > 0) SELECT vec_id, CAST(sum(q) AS BIGINT) AS q_sum, CAST(min(q) AS BIGINT) AS q_min, CAST(max(q) AS BIGINT) AS q_max FROM qt GROUP BY 1 ORDER BY vec_id"),
      scaleNote = "One shuffle on vec_id serves both the max|x| window and the final agg (same key); the window buffers exactly |dims| rows per key. The double sum of quantized values is exact (integers < 2^53), so partial-merge order cannot skew the hash. Quantized int8 payloads cut ANN-candidate shuffle volume 4× vs float32 — pair with ann_ivf's bucketed join."),

    // BM25 relevance scoring against a fixed query term set (k1=1.2,
    // b=0.75, the +1 idf variant that stays positive at any df) — the
    // lexical-retrieval ranker behind corpus search and RAG candidate
    // generation, and tfidf_keywords' properly-normalized successor.
    // Determinism: each per-term contribution is one double
    // expression both engines evaluate identically (ln is the sole
    // transcendental, same parity text_lm_score relies on), rounded
    // and cast to DECIMAL(18,4) BEFORE the per-doc sum — so the
    // cross-term summation order can never move the hash.
    QueryDef(
      "text_bm25",
      (spark, sf) => {
        val toks = Tables.documents(spark, sf)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        val tf = toks.filter(col("w").isin("join", "merge", "window"))
          .groupBy(col("doc_id"), col("w").as("term"))
          .agg(count(lit(1)).as("tf"))
        val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
        tf.join(broadcast(dft), "term")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .withColumn("idf",
            log((col("n_docs").cast("double") - col("df") + lit(0.5)) /
              (col("df").cast("double") + lit(0.5)) + lit(1.0)))
          .withColumn("norm",
            lit(1.2) * (lit(0.25) + lit(0.75) *
              (col("dl").cast("double") * col("n_docs")) / col("tot")))
          .withColumn("contrib",
            round(col("idf") * (col("tf").cast("double") * lit(2.2)) /
              (col("tf") + col("norm")), 4).cast(Dsl.D4))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_terms"),
            sum(col("contrib")).cast("double").as("bm25"))
          .orderBy("doc_id")
      },
      Some("WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), " +
        "dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1), " +
        "tf AS (SELECT doc_id, w AS term, count(*) AS tf FROM toks WHERE w IN ('join', 'merge', 'window') GROUP BY 1, 2), " +
        "dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
        "st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS tot FROM dl), " +
        "sc AS (SELECT tf.doc_id, CAST(round(" +
        "ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0) " +
        "* (CAST(tf AS DOUBLE) * 2.2) " +
        "/ (tf + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n_docs) / tot)), 4) AS DECIMAL(18,4)) AS contrib " +
        "FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN st) " +
        "SELECT doc_id, count(*) AS n_terms, CAST(sum(contrib) AS DOUBLE) AS bm25 FROM sc GROUP BY 1 ORDER BY doc_id"),
      scaleNote = "The doc-sized tables (tf, dl) meet on a doc_id " +
        "equi join the explode-side agg already partitioned; the " +
        "query-sized tables (per-term df, the 1-row corpus stats) are " +
        "explicit broadcasts — O(|query terms|) through the driver, " +
        "never a shuffle. At 100 TB the plan is unchanged for any " +
        "query size: tf rows are |docs|×|matched terms|, the decimal " +
        "contributions partial-sum map-side, and a 100k-term lexicon " +
        "just widens the broadcast (text_score's pattern). Re-ranking " +
        "a retrieval shortlist instead of the full corpus is the same " +
        "DAG with a semi-join prefilter on doc_id."),

    // Inverted-index build: term → (document frequency, collection
    // frequency, head of the sorted posting list) — the retrieval
    // structure text_bm25 queries against, materialized AS data. The
    // posting head is capped at 20 ids INSIDE the aggregation (rank
    // window + conditional collect), so no group ever buffers more
    // than 20 elements — the unbounded-collect trap agg_collect_list
    // documents, solved at the operator level.
    QueryDef(
      "text_posting_lists",
      (spark, sf) => {
        val uc = Tables.documents(spark, sf)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .groupBy(col("w"), col("doc_id"))
          .agg(count(lit(1)).as("c"))
        val byTerm = Window.partitionBy("w").orderBy("doc_id")
        uc.withColumn("rk", row_number().over(byTerm))
          .groupBy("w")
          .agg(count(lit(1)).as("df"),
            sum(col("c")).as("cf"),
            array_join(transform(
              array_sort(collect_list(when(col("rk") <= 20, col("doc_id")))),
              k => k.cast("string")), ",").as("postings_head"))
          .filter(col("df") >= 2)
          .orderBy("w")
      },
      Some("WITH uc AS (SELECT w, doc_id, count(*) AS c FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY 1, 2) " +
        "SELECT w, count(*) AS df, CAST(sum(c) AS BIGINT) AS cf, " +
        "array_to_string(list_slice(list(doc_id ORDER BY doc_id), 1, 20), ',') AS postings_head " +
        "FROM uc GROUP BY w HAVING count(*) >= 2 ORDER BY w"),
      scaleNote = "The (w, doc_id) pre-agg collapses token volume to " +
        "distinct postings map-side; the rank window and the final " +
        "agg both key on w, so they share one exchange. collect_list " +
        "sees only rank≤20 rows (collect_list skips nulls), making " +
        "per-group state O(20) — a full posting list at 100 TB is " +
        "instead WRITTEN as the (w, doc_id, c) table itself, bucketed " +
        "by term: the sorted-run layout IS the index, and head-K " +
        "here is the dictionary/stats sidecar that query planning " +
        "reads. Stop-word terms (df ≈ |docs|) are the skew hazard: " +
        "cap df or route hot terms to agg_heavy_hitters' sketch."),

    // One BPE-training iteration over the corpus: the weighted
    // adjacent-symbol pair counts whose argmax is the next merge —
    // tokenizer training's inner loop, run where the data lives
    // instead of streaming 100 TB to a single trainer. Computed over
    // the DISTINCT-word frequency table (the standard BPE trick:
    // pair occurrences per word × word frequency), so the heavy
    // explode touches |vocab| rows, not the corpus. Top-50 by
    // (count, pair) — a total order, so the cut is deterministic.
    QueryDef(
      "tokenizer_pair_counts",
      (spark, sf) => {
        wordFreq(Tables.documents(spark, sf))
          .select(explode(charPairs).as("pair"), col("f"))
          .groupBy("pair").agg(sum(col("f")).as("cnt"))
          .orderBy(col("cnt").desc, col("pair").asc)
          .limit(50)
      },
      Some("WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents), " +
        "wf AS (SELECT word, count(*) AS f FROM w WHERE length(word) >= 2 GROUP BY word), " +
        "p AS (SELECT substr(word, CAST(i AS INT), 2) AS pair, f FROM " +
        "(SELECT word, f, unnest(generate_series(1, length(word)-1)) AS i FROM wf)) " +
        "SELECT pair, CAST(sum(f) AS BIGINT) AS cnt FROM p GROUP BY pair " +
        "ORDER BY cnt DESC, pair LIMIT 50"),
      scaleNote = "The corpus-size work is one map-side-combined " +
        "(word, count) agg — the same Zipf-bounded vocab table " +
        "tfidf/vocab_coverage ride; the pair explode and re-agg then " +
        "touch |vocab|·avg_len rows, independent of corpus size. " +
        "Top-50 compiles to TakeOrderedAndProject (no global sort). " +
        "Full BPE training iterates: apply the won merge to the vocab " +
        "table (a map-only regex per word) and re-run — each round " +
        "costs a vocab-sized job, the corpus is scanned exactly once, " +
        "which is why distributed BPE counts pairs on the word-" +
        "frequency table and never on raw text."),

    // Temperature-based multilingual rebalancing (the mC4/XLM-R rule):
    // p_i ∝ n_i^(1/T), here T = 2 — upsamples tail languages, damps
    // the head, the standard compromise between natural (T=1) and
    // uniform (T=∞) mixing. Unlike corpus_mix's uniform target this
    // preserves ordering while compressing ratios. T = 2 is chosen so
    // the exponent is sqrt — IEEE-correctly-rounded on every engine
    // (pow's libm ulp skew would break the hash gate); the rate
    // denominator Σ√n is summed in DECIMAL(18,6) (exact, order-free)
    // after rounding each √n to 6 dp, and the one float division per
    // language happens on those pinned values.
    QueryDef(
      "sample_temperature",
      (spark, sf) => {
        val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
        val c = Tables.documents(spark, sf)
          .groupBy("lang").agg(count(lit(1)).as("n_docs"))
          .withColumn("w",
            round(sqrt(col("n_docs").cast("double")), 6).cast(dec6))
        val t = c.agg(sum(col("w")).as("tot"),
          sum(col("n_docs")).as("total"))
        val p = col("w").cast("double") / col("tot").cast("double")
        c.crossJoin(broadcast(t))
          .withColumn("p_temp", round(p, 6))
          .withColumn("target_n",
            floor(col("total").cast("double") * p).cast("long"))
          .withColumn("boost",
            round(col("target_n").cast("double") /
              col("n_docs").cast("double"), 4))
          .select("lang", "n_docs", "p_temp", "target_n", "boost")
          .orderBy("lang")
      },
      Some("WITH c AS (SELECT lang, count(*) AS n_docs, " +
        "CAST(round(sqrt(CAST(count(*) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS w " +
        "FROM documents GROUP BY lang), " +
        "t AS (SELECT sum(w) AS tot, sum(n_docs) AS total FROM c) " +
        "SELECT lang, n_docs, " +
        "round(CAST(w AS DOUBLE)/CAST(tot AS DOUBLE), 6) AS p_temp, " +
        "CAST(floor(CAST(total AS DOUBLE) * (CAST(w AS DOUBLE)/CAST(tot AS DOUBLE))) AS BIGINT) AS target_n, " +
        "round(CAST(floor(CAST(total AS DOUBLE) * (CAST(w AS DOUBLE)/CAST(tot AS DOUBLE))) AS DOUBLE)/n_docs, 4) AS boost " +
        "FROM c CROSS JOIN t ORDER BY lang"),
      scaleNote = "Two tiny aggregations over one scan (|langs| rows, " +
        "then one totals row broadcast back) — the manifest costs " +
        "corpus_mix's shape exactly, whatever the corpus size. The " +
        "rates then drive scan-side execution: boost < 1 is a " +
        "Bernoulli keep rate (sample_fraction), boost > 1 is " +
        "corpus_epochs' capped integer upsampling — both map-only. " +
        "Other temperatures swap sqrt for pow(n, 1/T) with the rate " +
        "table pinned via the same DECIMAL rounding; the plan is " +
        "unchanged (T is data, not structure)."),

    // Collocation mining: top-50 PMI-scored adjacent bigrams with
    // min-support 5 — the corpus-linguistics primitive behind
    // tokenizer merge candidates, stopword-phrase detection, and MWE
    // lexicons (tokenizer_pair_counts operates on characters inside
    // words; this is its word-level sibling over the SAME one-scan
    // discipline). Bigrams are generated map-side with zip_with over
    // the split array — no posexplode self-join, no shuffle until the
    // count aggs. PMI's log runs on one deterministically-composed
    // double (integer counts, identical association order in both
    // engines — text_bm25's precedent) and is rounded to 4.
    QueryDef(
      "text_collocations",
      (spark, sf) => {
        val docs = Tables.documents(spark, sf)
          .select(split(col("text"), " ").as("ws"))
        val bg = docs.select(explode(
          zip_with(
            slice(col("ws"), lit(1), size(col("ws")) - 1),
            slice(col("ws"), lit(2), size(col("ws")) - 1),
            (x, y) => concat_ws(" ", x, y))).as("bigram"))
        val cxy = bg.groupBy("bigram").agg(count(lit(1)).as("c_xy"))
        val uni = docs.select(explode(col("ws")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c"))
        val tot = uni.agg(sum(col("c")).as("nu"))
          .crossJoin(cxy.agg(sum(col("c_xy")).as("np")))
        val cx = uni.select(col("w").as("x"), col("c").as("c_x"))
        val cy = uni.select(col("w").as("y"), col("c").as("c_y"))
        cxy.filter(col("c_xy") >= 5)
          .withColumn("x", substring_index(col("bigram"), " ", 1))
          .withColumn("y", substring_index(col("bigram"), " ", -1))
          .join(broadcast(cx), "x").join(broadcast(cy), "y")
          .crossJoin(broadcast(tot))
          .select(col("bigram"), col("c_xy"),
            round(log(
              (col("c_xy").cast("double") * col("nu") * col("nu")) /
                (col("np").cast("double") * col("c_x") * col("c_y"))),
              4).as("pmi"))
          .orderBy(col("pmi").desc, col("bigram").asc)
          .limit(50)
      },
      Some("WITH d AS (SELECT string_split(text, ' ') AS ws FROM documents), " +
        "bg AS (SELECT ws[i] || ' ' || ws[i+1] AS bigram FROM (SELECT ws, unnest(generate_series(1, len(ws)-1)) AS i FROM d)), " +
        "cxy AS (SELECT bigram, count(*) AS c_xy FROM bg GROUP BY 1), " +
        "uni AS (SELECT w, count(*) AS c FROM (SELECT unnest(ws) AS w FROM d) GROUP BY 1), " +
        "tot AS (SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS nu, (SELECT CAST(sum(c_xy) AS BIGINT) FROM cxy) AS np) " +
        "SELECT bigram, c_xy, round(ln((CAST(c_xy AS DOUBLE) * nu * nu) / (CAST(np AS DOUBLE) * cx.c * cy.c)), 4) AS pmi " +
        "FROM cxy CROSS JOIN tot JOIN uni cx ON string_split(bigram, ' ')[1] = cx.w JOIN uni cy ON string_split(bigram, ' ')[2] = cy.w " +
        "WHERE c_xy >= 5 ORDER BY pmi DESC, bigram ASC LIMIT 50"),
      scaleNote = "One scan feeds both count tables; bigram generation " +
        "is a narrow map (zip_with fuses into codegen — no join, no " +
        "extra pass), so the cost is two map-side-combined aggs whose " +
        "outputs are vocabulary-sized, not corpus-sized. The unigram " +
        "table broadcasts into the scoring join twice; the totals row " +
        "is a 1-row broadcast constant. At 100 TB the only watch item " +
        "is bigram-vocabulary cardinality — the min-support filter is " +
        "pushed before the scoring join, and a production variant " +
        "pre-prunes with agg_cms_sketch's counting sketch so the " +
        "exact agg only sees candidates above support."),

    // The corpus quality funnel: how many documents survive each
    // stage of a cleaning pipeline — the per-drop observability
    // rollup every training-data run reports (the attrition table in
    // every dataset paper). Stages compose cumulatively: language
    // gate → length floor → word-count floor → prefix-key exact
    // dedup (keep-first on the first-5-words key, which genuinely
    // collapses near-identical openings in this corpus where full-
    // text md5 collapses nothing). One pass computes all flags; the
    // funnel is one aggregate row unpivoted to (stage_id, stage, n).
    QueryDef(
      "corpus_quality_funnel",
      (spark, sf) => {
        val w = Window
          .partitionBy(array_join(slice(split(col("text"), " "), 1, 5), " "))
          .orderBy("doc_id")
        val flagged = Tables.documents(spark, sf)
          .withColumn("f_lang", col("lang") === "en")
          .withColumn("f_len", col("n_chars") >= 250)
          .withColumn("f_words", size(split(col("text"), " ")) >= 50)
          .withColumn("f_first", row_number().over(w) === 1)
        val agg = flagged.agg(
          count(lit(1)).as("n0"),
          sum(when(col("f_lang"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("f_lang") && col("f_len"), 1L).otherwise(0L)).as("n2"),
          sum(when(col("f_lang") && col("f_len") && col("f_words"), 1L)
            .otherwise(0L)).as("n3"),
          sum(when(col("f_lang") && col("f_len") && col("f_words") &&
            col("f_first"), 1L).otherwise(0L)).as("n4"))
        agg.selectExpr(
          "stack(5, 0, 'all', n0, 1, 'lang_en', n1, 2, 'min_chars_250', n2, " +
            "3, 'min_words_50', n3, 4, 'prefix_dedup', n4) " +
            "AS (stage_id, stage, n)")
          .orderBy("stage_id")
      },
      Some("WITH f AS (SELECT lang = 'en' AS f_lang, n_chars >= 250 AS f_len, len(string_split(text, ' ')) >= 50 AS f_words, row_number() OVER (PARTITION BY array_to_string(string_split(text, ' ')[1:5], ' ') ORDER BY doc_id) = 1 AS f_first FROM documents), " +
        "a AS (SELECT count(*) AS n0, CAST(sum(CASE WHEN f_lang THEN 1 ELSE 0 END) AS BIGINT) AS n1, CAST(sum(CASE WHEN f_lang AND f_len THEN 1 ELSE 0 END) AS BIGINT) AS n2, CAST(sum(CASE WHEN f_lang AND f_len AND f_words THEN 1 ELSE 0 END) AS BIGINT) AS n3, CAST(sum(CASE WHEN f_lang AND f_len AND f_words AND f_first THEN 1 ELSE 0 END) AS BIGINT) AS n4 FROM f) " +
        "SELECT stage_id, stage, n FROM (SELECT unnest([0,1,2,3,4]) AS stage_id, unnest(['all','lang_en','min_chars_250','min_words_50','prefix_dedup']) AS stage, unnest([n0,n1,n2,n3,n4]) AS n FROM a) ORDER BY stage_id"),
      scaleNote = "All scalar flags compute in the scan projection; " +
        "the only shuffle is the prefix-key window (row_number over " +
        "a short hash key — the same exchange dedup_keep_first pays), " +
        "and the funnel itself is ONE map-side-combined aggregate row " +
        "unpivoted driver-side. At 100 TB this is the cheapest query " +
        "in the pipeline — it rides the same scan as the cleaning " +
        "pass it instruments and adds one 5-value stack. The stage " +
        "set is config, not structure: each added filter is one more " +
        "conjunctive sum column, still one row on the wire."),

    // Three full BPE training rounds — the iterate that
    // tokenizer_pair_counts' scaleNote promises, materialized: each
    // round counts weighted adjacent SYMBOL pairs over the distinct-
    // word frequency table, crowns the (count, pair)-max merge
    // (total order — deterministic), and APPLIES it to the symbol
    // strings (space-separated symbols; the merge is a left-to-right
    // non-overlapping ' x y '→' xy ' replace, identical semantics in
    // the JVM and DuckDB). Output is the trained artifact itself: the
    // ordered merge table (round, pair, merged, cnt). The winning
    // pair is collected per round — a 1-row driver action, the
    // documented bounded-collect class (AnnPq's codebook precedent).
    QueryDef(
      "tokenizer_bpe_merges",
      (spark, sf) => {
        val session = spark
        import session.implicits._
        bpeTrain(wordFreq(Tables.documents(spark, sf)), 3)._1
          .toDF("round", "pair", "merged", "cnt")
          .orderBy("round")
      },
      Some {
        "WITH RECURSIVE w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents), " +
          "wf AS (SELECT word, count(*) AS f FROM w WHERE length(word) >= 2 GROUP BY word), " +
          "s1 AS (SELECT word, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym, f FROM wf), " +
          bpeRoundSql("s1", "p1", "b1") + ", " + bpeApplySql("s1", "b1", "s2") + ", " +
          bpeRoundSql("s2", "p2", "b2") + ", " + bpeApplySql("s2", "b2", "s3") + ", " +
          bpeRoundSql("s3", "p3", "b3") + " " +
          "SELECT 1 AS round, pair, replace(pair, ' ', '') AS merged, cnt FROM b1 " +
          "UNION ALL SELECT 2, pair, replace(pair, ' ', ''), cnt FROM b2 " +
          "UNION ALL SELECT 3, pair, replace(pair, ' ', ''), cnt FROM b3 ORDER BY round"
      },
      scaleNote = "The corpus is scanned ONCE (the word-frequency " +
        "agg); every round after that is vocab-sized — pair explode " +
        "(|vocab|·avg_len rows), a map-side-combined count, a 1-row " +
        "TakeOrdered, and a map-only regex apply — which is exactly " +
        "why production BPE trainers (GPT-2's, SentencePiece's " +
        "distributed ports) count pairs on the word table and never " +
        "on raw text: 50k merge rounds cost 50k vocab-local jobs, " +
        "not 50k corpus scans. The 1-row collect per round is the " +
        "driver's merge-table append (the artifact being trained — " +
        "it must land on the driver to ship); localCheckpoint caps " +
        "the round-over-round lineage like every iterative op here. " +
        "At 100 TB the only change is sharding the word table by " +
        "hash(word) and merging per-shard pair counts — associative " +
        "integer sums, same argmax."),

    // The ENCODE side of BPE — train-then-apply under one gate: the
    // 3 learned merges applied to the whole (trainable) vocabulary,
    // rolled up per language as char-tokens vs BPE-tokens and the
    // compression ratio. This is the table a tokenizer change is
    // judged by (fertility / compression per language — the
    // multilingual-fairness metric: a tokenizer trained on the
    // majority language compresses it best, and this op puts the
    // per-lang gap under the hash). Apply runs on the DISTINCT-word
    // table then joins weights back — the same vocab-sized trick as
    // training, never an encode pass over raw text.
    QueryDef(
      "tokenizer_apply",
      (spark, sf) => {
        val wl = langWordFreq(Tables.documents(spark, sf))
        val wf = wl.groupBy("word").agg(sum(col("fl")).as("f"))
        encodeRollup(wl, bpeTrain(wf, 3)._2)
      },
      Some {
        "WITH RECURSIVE w AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents), " +
          "wl AS (SELECT lang, word, count(*) AS fl FROM w WHERE length(word) >= 2 GROUP BY 1, 2), " +
          "wf AS (SELECT word, CAST(sum(fl) AS BIGINT) AS f FROM wl GROUP BY 1), " +
          "s1 AS (SELECT word, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym, f FROM wf), " +
          bpeRoundSql("s1", "p1", "b1") + ", " + bpeApplySql("s1", "b1", "s2") + ", " +
          bpeRoundSql("s2", "p2", "b2") + ", " + bpeApplySql("s2", "b2", "s3") + ", " +
          bpeRoundSql("s3", "p3", "b3") + ", " + bpeApplySql("s3", "b3", "s4") + " " +
          "SELECT wl.lang, count(*) AS n_word_types, " +
          "CAST(sum(wl.fl * length(wl.word)) AS BIGINT) AS n_tokens_char, " +
          "CAST(sum(wl.fl * len(string_split(s4.sym, ' '))) AS BIGINT) AS n_tokens_bpe, " +
          "round(CAST(sum(wl.fl * length(wl.word)) AS DOUBLE) / sum(wl.fl * len(string_split(s4.sym, ' '))), 4) AS compression " +
          "FROM wl JOIN s4 ON wl.word = s4.word GROUP BY 1 ORDER BY 1"
      },
      scaleNote = "Encoding rides the vocabulary, not the corpus: " +
        "the one corpus-sized stage is the (lang, word) count (map-" +
        "side-combined — |vocab| rows per lang on the wire), the " +
        "merge application runs on DISTINCT words (vocab-sized, " +
        "shared across languages via the global wf roll-up), and the " +
        "weighted rollup is one broadcast-joinable vocab join. This " +
        "is exactly how production tokenizer audits run at corpus " +
        "scale — encode the vocab once, weight by frequency — vs the " +
        "naive encode-every-document pass that costs a full corpus " +
        "scan per tokenizer candidate. A 50k-merge vocab swaps the " +
        "3-round trainer for the shipped merge table; the apply loop " +
        "is the same fixpoint replace per merge, still vocab-sized."),

    // Vocab-size-parameterized BPE trainer (r15, VERDICT r14 #6 —
    // tokenizer depth): the 3-round trainer iterated to K = 16
    // merges, the graph_girvan_rounds loop shape applied to
    // tokenizer training. Each round emits its top-pair CERTIFICATE
    // (round, pair, merged, cnt) — the exact argmax with pair-text
    // tiebreak both engines must crown identically — so a drifted
    // merge table is pinpointed to the ROUND where the two engines
    // first disagree, not just a final-vocab mismatch. The 3-merge
    // ops are this trainer's fixed prefix (merges are strictly
    // sequential; asserted in-spec). K is data, not structure: a
    // 50k-merge production vocab runs the same loop with the merge
    // table appended per round.
    QueryDef(
      "tokenizer_train_k",
      // r15 (post-gate wave, pre-adjudicated intentional plan
      // change): reads sink_bpe_history — the merge table of round
      // r+1 is the (cnt desc, pair asc) argmax over round r's pair
      // explode, computed as ONE per-round window over the history
      // scan (fully distributed: the 16 driver argmax collects move
      // into the once-per-session sink build). Values bit-identical
      // — the argmax algebra is bpeTrain's own, and the hash gate
      // proves it against the unchanged unrolled oracle.
      (spark, sf) => {
        val h = bpeHistory(spark, sf)
        val ws = split(col("sym"), " ")
        val pairs = h.filter(col("round") < BpeTrainK)
          .select(col("round"), col("f"),
            explode(zip_with(
              slice(ws, lit(1), size(ws) - 1),
              slice(ws, lit(2), size(ws) - 1),
              (x, y) => concat_ws(" ", x, y))).as("pair"))
          .groupBy("round", "pair").agg(sum(col("f")).as("cnt"))
        val w = Window.partitionBy("round")
          .orderBy(col("cnt").desc, col("pair").asc)
        pairs.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select((col("round") + 1).as("round"), col("pair"),
            regexp_replace(col("pair"), " ", "").as("merged"),
            col("cnt"))
          .orderBy("round")
      },
      Some {
        "WITH RECURSIVE w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents), " +
          "wf AS MATERIALIZED (SELECT word, count(*) AS f FROM w WHERE length(word) >= 2 GROUP BY word), " +
          "s1 AS MATERIALIZED (SELECT word, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym, f FROM wf), " +
          bpeChainSql(BpeTrainK, withFinalApply = false) + " " +
          "SELECT 1 AS round, pair, replace(pair, ' ', '') AS merged, cnt FROM b1 " +
          (2 to BpeTrainK).map(i =>
            s"UNION ALL SELECT $i, pair, replace(pair, ' ', ''), cnt FROM b$i")
            .mkString(" ") +
          " ORDER BY round"
      },
      scaleNote = "The declared query is a bucketed scan of " +
        "sink_bpe_history + one per-round window argmax (r15 — the " +
        "trainer runs once per session in the sink build); the " +
        "trainer economics below are the sink's. " +
        "tokenizer_bpe_merges' economics × K: the corpus " +
        "is scanned ONCE (the word-frequency agg); each of the 16 " +
        "rounds costs a vocab-sized pair explode + map-side-combined " +
        "count + 1-row TakeOrdered + map-only fixpoint replace — " +
        "never a corpus re-scan, which is the whole reason " +
        "production BPE trainers (SentencePiece's distributed ports) " +
        "count pairs on the word table. The per-round 1-row collect " +
        "is the driver's merge-table append (the trained artifact " +
        "must ship); localCheckpoint caps round-over-round lineage. " +
        "At 100 TB: shard the word table by hash(word), merge " +
        "per-shard pair counts (associative integer sums, same " +
        "argmax) — 50k rounds = 50k vocab-local jobs. The per-round " +
        "certificate rows make trainer drift a ROUND-INDEXED alert: " +
        "two runs diverging at merge 12041 name that round's pair."),

    // The encode side under the DEEP merge table (r15): tokenizer_
    // apply's per-language fertility/compression audit re-run with
    // all 16 learned merges applied — the number that prices whether
    // the deeper vocab actually pays per language (compression must
    // be ≥ the 3-merge table's by construction; the spec asserts
    // it). Same vocab-sized economics: train once, encode the
    // DISTINCT-word table, weight by frequency.
    QueryDef(
      "tokenizer_apply_k",
      // r15 (post-gate wave): the encode join reads round K of
      // sink_bpe_history instead of re-running the trainer — the
      // final symbol table is the identical fixpoint state, and the
      // hash gate proves the rollup unchanged.
      (spark, sf) => {
        encodeRollup(langWordFreq(Tables.documents(spark, sf)),
          bpeHistory(spark, sf).filter(col("round") === BpeTrainK))
      },
      Some {
        val last = s"s${BpeTrainK + 1}"
        "WITH RECURSIVE w AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents), " +
          "wl AS MATERIALIZED (SELECT lang, word, count(*) AS fl FROM w WHERE length(word) >= 2 GROUP BY 1, 2), " +
          "wf AS MATERIALIZED (SELECT word, CAST(sum(fl) AS BIGINT) AS f FROM wl GROUP BY 1), " +
          "s1 AS MATERIALIZED (SELECT word, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym, f FROM wf), " +
          bpeChainSql(BpeTrainK, withFinalApply = true) + " " +
          s"SELECT wl.lang, count(*) AS n_word_types, " +
          "CAST(sum(wl.fl * length(wl.word)) AS BIGINT) AS n_tokens_char, " +
          s"CAST(sum(wl.fl * len(string_split($last.sym, ' '))) AS BIGINT) AS n_tokens_bpe, " +
          s"round(CAST(sum(wl.fl * length(wl.word)) AS DOUBLE) / sum(wl.fl * len(string_split($last.sym, ' '))), 4) AS compression " +
          s"FROM wl JOIN $last ON wl.word = $last.word GROUP BY 1 ORDER BY 1"
      },
      scaleNote = "tokenizer_apply's economics with the deeper merge " +
        "table: the one corpus-sized stage is the (lang, word) count " +
        "(map-side-combined), the 16-merge application runs on " +
        "DISTINCT words (vocab-sized, shared across languages), and " +
        "the weighted rollup is one broadcast-joinable vocab join — " +
        "encode-the-vocab-once is how tokenizer audits run at corpus " +
        "scale, vs an encode pass over raw text per candidate. The " +
        "per-lang compression DELTA vs the 3-merge table is the " +
        "decision number: a deeper vocab that compresses only the " +
        "majority language is a multilingual-fairness regression, " +
        "and both tables are under the same hash gate."),

    // The tokenizer-training LEARNING CURVE (r15): weighted corpus
    // token count after EVERY merge round 0..16 — the marginal-ROI
    // readout that actually picks K (each row: how many tokens the
    // round saved, and the cumulative compression). Production vocab
    // sizing is exactly this plot (tokens-per-byte vs merge count
    // flattening); here it is an oracled 17-row table instead of a
    // notebook figure. Round 0 is the character baseline (the
    // pre-merge symbol table), so compression(0) = 1 and
    // saved_vs_prev(0) is NULL on both engines. The snapshots ride
    // bpeTrain's own loop via the onRound hook — plan references,
    // no extra action per round beyond the rollups the output needs.
    QueryDef(
      "tokenizer_merge_curve",
      // r15 (post-gate wave): the curve is a per-round rollup of
      // sink_bpe_history — 17 one-row aggregates collapse into ONE
      // groupBy over the history scan; hash gate proves it.
      (spark, sf) => {
        val h = bpeHistory(spark, sf)
        val counts = h.groupBy("round")
          .agg(sum(col("f") * size(split(col("sym"), " ")))
            .as("n_tokens_bpe"))
        val chars = h.filter(col("round") === 0)
          .agg(sum(col("f") * length(col("word"))).as("n_chars"))
        val w = Window.orderBy("round")
        counts
          .crossJoin(broadcast(chars))
          .withColumn("saved_vs_prev",
            lag(col("n_tokens_bpe"), 1).over(w) - col("n_tokens_bpe"))
          .withColumn("compression",
            round(col("n_chars").cast("double") /
              col("n_tokens_bpe").cast("double"), 4))
          .select("round", "n_tokens_bpe", "compression", "saved_vs_prev")
          .orderBy("round")
      },
      Some {
        val rolls = (0 to BpeTrainK).map { r =>
          val tbl = s"s${r + 1}"
          s"SELECT $r AS round, CAST(sum(f*len(string_split(sym, ' '))) AS BIGINT) AS n_tokens_bpe FROM $tbl"
        }.mkString(" UNION ALL ")
        "WITH RECURSIVE w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents), " +
          "wf AS MATERIALIZED (SELECT word, count(*) AS f FROM w WHERE length(word) >= 2 GROUP BY word), " +
          "s1 AS MATERIALIZED (SELECT word, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym, f FROM wf), " +
          bpeChainSql(BpeTrainK, withFinalApply = true) + ", " +
          "tc AS (SELECT CAST(sum(f*length(word)) AS BIGINT) AS n_chars FROM wf), " +
          s"curve AS ($rolls) " +
          "SELECT round, n_tokens_bpe, " +
          "round(CAST((SELECT n_chars FROM tc) AS DOUBLE) / n_tokens_bpe, 4) AS compression, " +
          "lag(n_tokens_bpe) OVER (ORDER BY round) - n_tokens_bpe AS saved_vs_prev " +
          "FROM curve ORDER BY round"
      },
      scaleNote = "tokenizer_train_k's trainer with one extra " +
        "vocab-sized rollup per round (Σ f·|sym| — map-side-combined " +
        "to a 1-row frame; the 17-row union + lag window is an " +
        "aggregate-collapsed grid, the adjudicated tiny-window " +
        "class). The corpus is still scanned exactly once; the curve " +
        "is what a 50k-merge production run logs per checkpoint to " +
        "decide WHERE to stop training — the marginal tokens-saved " +
        "column flattening is the stopping rule, and having it under " +
        "the cross-engine hash gate means the stopping decision " +
        "itself is reproducible, not a notebook artifact."),

    // The materialized BPE training history, GATED (r15 post-gate
    // wave — the sink_walk_corpus gate pattern): per-round word
    // counts, frequency totals, exact token-count and symbol-length
    // checksums (a single drifted merge application anywhere in the
    // 16 rounds moves BOTH), and the measured part-file count vs the
    // pinned bucket literal. All three deep-trainer consumers
    // (tokenizer_train_k's per-round argmax, tokenizer_apply_k's
    // encode join, tokenizer_merge_curve's rollup) are projections
    // of this table.
    bpeHistory.query(
      _.groupBy("round")
        .agg(count(lit(1)).as("n_words"),
          sum(col("f")).as("f_total"),
          sum(col("f") * size(split(col("sym"), " ")))
            .as("n_tokens_bpe"),
          sum(length(col("sym")).cast("long")).as("sym_len_checksum"))
        .orderBy("round"),
      {
        val rolls = (0 to BpeTrainK).map { r =>
          val tbl = s"s${r + 1}"
          s"SELECT $r AS round, count(*) AS n_words, CAST(sum(f) AS BIGINT) AS f_total, " +
            s"CAST(sum(f*len(string_split(sym, ' '))) AS BIGINT) AS n_tokens_bpe, " +
            s"CAST(sum(length(sym)) AS BIGINT) AS sym_len_checksum FROM $tbl"
        }.mkString(" UNION ALL ")
        "WITH RECURSIVE w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents), " +
          "wf AS MATERIALIZED (SELECT word, count(*) AS f FROM w WHERE length(word) >= 2 GROUP BY word), " +
          "s1 AS MATERIALIZED (SELECT word, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym, f FROM wf), " +
          bpeChainSql(BpeTrainK, withFinalApply = true) + " " +
          s"SELECT round, n_words, f_total, n_tokens_bpe, sym_len_checksum, ${bpeHistory.nFiles} " +
          s"FROM ($rolls) ORDER BY round"
      },
      scaleNote = "The sink moves the 16-round trainer from " +
        "every-consumer to once-per-corpus-version: the loop (one " +
        "corpus scan + 16 vocab-sized rounds with their per-round " +
        "driver argmax — the trained artifact) runs inside the sink " +
        "build, and the three consumers drop to bucketed scans — a " +
        "per-round window argmax, a round-K equi join, a per-round " +
        "rollup. This is how a production tokenizer ships: the " +
        "training HISTORY (not just the final vocab) is the " +
        "versioned artifact, because audits ask 'what did merge " +
        "12041 crown and why' — here that question is a bucketed " +
        "scan, and the per-round checksums make a single drifted " +
        "merge application anywhere in the history an exact-integer " +
        "alert. At 100 TB the vocab shards by hash(word) exactly as " +
        "tokenizer_train_k's scaleNote states; rounds append as new " +
        "history versions (sink_versioned's manifest pattern)."),

    // Token-budget allocation by largest remainder — the planner step
    // between "measured per-language token counts" and "build the
    // mix": split a fixed budget (100k tokens here; 1T in production)
    // proportionally so that the allocations are integers and sum to
    // the budget EXACTLY. Hamilton's method in pure integer
    // arithmetic: base_i = ⌊B·n_i/N⌋, then the B−Σbase leftover units
    // go to the largest remainders (ties on lang — total order).
    // Floor-divide-and-rank beats round-each-share because rounding
    // errors don't cancel: a 1T-token budget misallocated by one part
    // in 10⁴ is a 100M-token drift.
    QueryDef(
      "corpus_token_allocation",
      (spark, sf) => {
        val Budget = 100000L
        val toks = Tables.documents(spark, sf)
          .groupBy("lang")
          .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
        val tot = toks.agg(sum(col("n_tokens")).as("total"))
        val a = toks.crossJoin(broadcast(tot))
          .withColumn("base", expr(s"($Budget * n_tokens) div total"))
          .withColumn("rem", expr(s"($Budget * n_tokens) % total"))
        val lo = a.agg((lit(Budget) - sum(col("base"))).as("leftover"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("rem").desc, col("lang").asc)
        a.crossJoin(broadcast(lo))
          .withColumn("rk", row_number().over(w))
          .withColumn("extra", when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .select(col("lang"), col("n_tokens"), col("base"), col("extra"),
            (col("base") + col("extra")).as("alloc"))
          .orderBy("lang")
      },
      Some("WITH t AS (SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens FROM documents GROUP BY 1), " +
        "s AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM t), " +
        "a AS (SELECT lang, n_tokens, (100000 * n_tokens) // total AS base, (100000 * n_tokens) % total AS rem FROM t CROSS JOIN s), " +
        "lo AS (SELECT 100000 - CAST(sum(base) AS BIGINT) AS leftover FROM a), " +
        "r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rk FROM a CROSS JOIN lo) " +
        "SELECT lang, n_tokens, CAST(base AS BIGINT) AS base, CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra, " +
        "CAST(base + (CASE WHEN rk <= leftover THEN 1 ELSE 0 END) AS BIGINT) AS alloc FROM r ORDER BY lang"),
      scaleNote = "The corpus-scale work is ONE map-side-combined " +
        "token-count agg; everything after runs on the |langs|-row " +
        "table (the keyless remainder-rank window sorts ≤ a few " +
        "hundred rows — bounded by the language inventory, never the " +
        "corpus). The exact-sum guarantee is what downstream " +
        "consumes: per-lang allocations feed sample_temperature-" +
        "style rates or corpus_mix caps knowing Σ = budget to the " +
        "token, so shard manifests never over- or under-fill. The " +
        "same Hamilton allocator reapplies per (lang, source) cell " +
        "grid — add the key to both aggs, rank within budget rows — " +
        "and to GPU-hour or storage budgeting unchanged."),

    // DSIR-style importance weights (r13) — data selection by
    // importance resampling (Xie et al. 2023, arXiv:2302.03169): the
    // selection signal modern pretraining mixes use when "match a
    // TARGET domain" replaces "pass a quality floor". Per document,
    // the log importance ratio ln p_target(doc)/p_raw(doc) under two
    // hashed bag-of-tokens models: features are md5-hashed token
    // buckets (64 bins — the corpus_release hash idiom, identical on
    // both engines), target = the en slice (stated policy; any
    // domain slice substitutes), raw = the whole corpus, both
    // +1/+64 Laplace-smoothed. Per BUCKET the weight composes ONE ln
    // of an exact integer cross-ratio floored to micro-nats; per DOC
    // the score is then an exact integer dot product of bucket
    // counts with those frozen weights — so ranking and selection
    // verdicts are bit-stable anywhere. selected = logw > 0 (docs
    // that look more target than raw); the resampling stage is
    // sample_weighted's consistent-hash draw with w = exp-bucketed
    // logw, composable downstream.
    QueryDef(
      "corpus_dsir",
      (spark, sf) =>
        dsirDocTable(spark, sf)
          .withColumn("selected", col("logw_micro") > 0L)
          .orderBy("doc_id"),
      Some(s"WITH $DsirSqlCtes " +
        "SELECT doc_id, lang, n_tokens, logw_micro, logw_micro > 0 AS selected " +
        "FROM ds ORDER BY doc_id"),
      scaleNote = "Three map-side-combinable aggregates do all the " +
        "corpus-scale work (per-doc bucket counts collapse inside " +
        "each input split — text_repetition's property — then two " +
        "64-row model tables), and the 64-row weight table " +
        "broadcasts back onto the per-doc counts: the scoring join " +
        "is hash-agg-shaped, never a shuffle of tokens. The model " +
        "is FROZEN as integers before any doc is scored — bucket " +
        "weights floor once to micro-nats, per-doc scores are exact " +
        "integer dot products — so selection at 100 TB is " +
        "reproducible across engines, layouts, and reruns (DSIR's " +
        "own float-sum scoring is none of those). Scale knobs: " +
        "bucket count (64 → 10k buckets is the same plan; the " +
        "weight table stays broadcast-sized up to millions), " +
        "n-gram order (hash the bigram instead — one lambda), and " +
        "the target slice (any manifest-declared domain). Product " +
        "terms (ct+1)·(tr+64) brush 2^63 only past ~10^17 tokens — " +
        "escalate to DECIMAL(38,0)/HUGEINT there, stated not " +
        "silent."),

    // DSIR resampling (r14, VERDICT r13 #5) — the consumer
    // corpus_dsir's own comment promised: turn the frozen log
    // importance weights into an actual selected corpus via
    // sample_weighted's consistent-hash draw. exp() never runs
    // in-engine: acceptance is DYADIC — band = floor(logw / ln 2)
    // (the pmod floor spelling, logw goes negative), the per-doc
    // rate is 2^(band − max_band) so the best-matching band is
    // kept with probability 1 (max-normalized importance
    // resampling — a deterministic normalizer where DSIR's
    // sum-normalization would need a float global), and the
    // threshold is one integer shift: thr = 65536 >> (max_band −
    // band), zero past 17 bands down. Draw = md5-u16(doc_id) <
    // thr (sample_consistent's contract): the SAME docs selected
    // on any engine, layout, or rerun. Output = the selected docs
    // with their full audit trail (weights, band, thr).
    QueryDef(
      "sample_dsir",
      (spark, sf) => {
        val ds = dsirDocTable(spark, sf)
          .withColumn("band",
            expr(s"(logw_micro - pmod(logw_micro, $Ln2Micro)) div $Ln2Micro"))
        val mb = ds.agg(max(col("band")).as("max_band"))
        ds.crossJoin(broadcast(mb))
          .withColumn("thr", expr(
            "65536 div shiftleft(1L, cast(least(max_band - band, 17) as int))"))
          .withColumn("u16", conv(substring(md5(concat(lit("graftdsir:"),
            col("doc_id").cast("string"))), 1, 4), 16, 10).cast("long"))
          .filter(col("u16") < col("thr"))
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            col("logw_micro"), col("band"), col("thr"))
          .orderBy("doc_id")
      },
      Some(s"WITH $DsirSqlCtes, " +
        s"bd AS (SELECT *, (logw_micro - ((logw_micro % $Ln2Micro + $Ln2Micro) % $Ln2Micro)) // $Ln2Micro AS band FROM ds), " +
        "mb AS (SELECT max(band) AS max_band FROM bd), " +
        "dw AS (SELECT bd.*, 65536 // (1 << least(max_band - band, 17)) AS thr, " +
        "('0x'||substr(md5('graftdsir:'||CAST(doc_id AS VARCHAR)),1,4))::BIGINT AS u16 " +
        "FROM bd CROSS JOIN mb) " +
        "SELECT doc_id, lang, n_tokens, logw_micro, CAST(band AS BIGINT) AS band, CAST(thr AS BIGINT) AS thr " +
        "FROM dw WHERE u16 < thr ORDER BY doc_id"),
      scaleNote = "corpus_dsir's economics plus a map-only draw: the " +
        "model freeze and per-doc scoring are the same three " +
        "map-side aggregates + 64-row broadcast, the band is scalar " +
        "arithmetic, max_band is ONE grouping-free aggregate " +
        "broadcast back (self-certifying 1-row side), and the draw " +
        "is codegen'd hashing — no new shuffle shape at any corpus " +
        "size. The dyadic ladder is the determinism fence: exact " +
        "exp-proportional resampling needs float exp() per doc " +
        "(order-dependent at the margins), while 2^band quantization " +
        "costs at most a factor-2 rate error within a band — stated, " +
        "bounded, and bit-stable. Σ thr/65536 over the corpus = the " +
        "expected sample size, so budget targeting composes by " +
        "shifting the normalizer (keep rate halves per extra band " +
        "subtracted); 16-bit draw resolution truncates 17+ bands " +
        "below max to zero — at 100 TB that tail is exactly the " +
        "off-domain mass DSIR exists to drop."),

    // LM-perplexity quality filter (r14) — the CCNet-style member
    // the quality family was missing: quality_gopher_rules applies
    // surface heuristics, corpus_dsir matches a target by RATIO;
    // this scores each doc by its ABSOLUTE cross-entropy under a
    // language model trained on the clean slice (CCNet trains
    // KenLM on Wikipedia; here a unigram model over the 64 hashed
    // token buckets, trained on the en slice — the same frozen-
    // integer-model discipline as DSIR). Per bucket the negative
    // log-prob is ONE ln of an exact integer ratio (t+64)/(ct+1)
    // (Laplace) floored to micro-nats; per doc the cross-entropy is
    // the exact integer dot of bucket counts with those frozen
    // costs, ONE floor division by token count. The deliverable is
    // CCNet's head/middle/tail split: docs ranked by ce on the
    // VALUE-GROUPED ce grid (ties share a tercile, stated), bucket
    // 0 = most-fluent third — the slice a pretraining mix keeps,
    // up-weights, or drops per policy. MEASURED FIXTURE CAVEAT (the
    // link-AUC honesty discipline): this corpus's five synthetic
    // langs share ONE 31-word vocabulary, so the en-trained model
    // has no lexical signal to prefer en — the terciles here rank
    // token-mix fluency only; the spec proves the chain by exact
    // driver-side replay instead of asserting a cross-lang gap the
    // fixture cannot produce.
    QueryDef(
      "quality_lm_perplexity",
      (spark, sf) => {
        val dc = dsirBucketCounts(spark, sf)
        val tg = dc.filter(col("lang") === "en")
          .groupBy("b").agg(sum(col("c")).as("ct"))
        val tt = tg.agg(sum(col("ct")).as("t"))
        val nl = spark.range(0, 64).select(col("id").as("b"))
          .join(tg, Seq("b"), "left")
          .crossJoin(broadcast(tt))
          .select(col("b"),
            floor(log((col("t") + lit(64L)).cast("double") /
              (coalesce(col("ct"), lit(0L)) + lit(1L)).cast("double"))
              * lit(1000000.0)).cast("long").as("nll"))
        val dd = dc.join(broadcast(nl), "b")
          .groupBy("doc_id", "lang")
          .agg(sum(col("c")).as("n_tokens"),
            sum(col("c") * col("nll")).as("nll_sum"))
          .withColumn("ce_micro", expr("nll_sum div n_tokens"))
        val wb = Window.orderBy("ce_micro")
          .rowsBetween(Window.unboundedPreceding, -1)
        val cw = dd.groupBy("ce_micro").agg(count(lit(1)).as("nd"))
          .withColumn("below", coalesce(sum(col("nd")).over(wb), lit(0L)))
          .select(col("ce_micro"), col("below"))
        val nn = dd.agg(count(lit(1)).as("n"))
        dd.join(cw, "ce_micro").crossJoin(broadcast(nn))
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            col("ce_micro"),
            expr("(below * 3) div n").as("ppl_bucket"))
          .orderBy("doc_id")
      },
      Some("WITH tok AS (SELECT doc_id, lang, ('0x'||substr(md5(w),9,8))::BIGINT % 64 AS b FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents)), " +
        "dc AS (SELECT doc_id, lang, b, count(*) AS c FROM tok GROUP BY 1, 2, 3), " +
        "tg AS (SELECT b, CAST(sum(c) AS BIGINT) AS ct FROM dc WHERE lang = 'en' GROUP BY 1), " +
        "tt AS (SELECT CAST(sum(ct) AS BIGINT) AS t FROM tg), " +
        "gr AS (SELECT unnest(generate_series(0, 63)) AS b), " +
        "nl AS (SELECT gr.b, CAST(floor(ln(CAST(t + 64 AS DOUBLE) / CAST(COALESCE(ct, 0) + 1 AS DOUBLE)) * 1000000.0) AS BIGINT) AS nll FROM gr LEFT JOIN tg ON gr.b = tg.b CROSS JOIN tt), " +
        "dd AS (SELECT doc_id, lang, CAST(sum(c) AS BIGINT) AS n_tokens, CAST(sum(c * nll) AS BIGINT) AS nll_sum FROM dc JOIN nl ON dc.b = nl.b GROUP BY 1, 2), " +
        "de AS (SELECT *, nll_sum // n_tokens AS ce_micro FROM dd), " +
        "cg AS (SELECT ce_micro, count(*) AS nd FROM de GROUP BY 1), " +
        "cw AS (SELECT ce_micro, COALESCE(CAST(sum(nd) OVER (ORDER BY ce_micro ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS below FROM cg), " +
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM de) " +
        "SELECT doc_id, lang, n_tokens, ce_micro, (below * 3) // n AS ppl_bucket " +
        "FROM de JOIN cw USING (ce_micro) CROSS JOIN nn ORDER BY doc_id"),
      scaleNote = "corpus_dsir's exact economics with an absolute " +
        "model: ONE map-side-combined (doc, bucket) count aggregate " +
        "does all corpus-scale work, the model freezes to a 64-row " +
        "integer cost table broadcast back (10k-bucket or bigram " +
        "models are the same plan — the cost table stays broadcast-" +
        "sized to millions of entries), and per-doc scoring is a " +
        "hash-agg, never a token shuffle. The tercile split runs on " +
        "the VALUE-GROUPED ce grid (|distinct ce values| rows — the " +
        "adjudicated aggregate-collapsed window class), and the " +
        "per-doc bucket lands via one equi join back on ce_micro — " +
        "co-keyed shuffle, no broadcast of anything unbounded. " +
        "Frozen integer costs make the keep/drop verdict " +
        "bit-stable across engines, layouts, and reruns — the " +
        "property a reproducible pretraining mix needs from its " +
        "quality gate; swapping the en slice for any manifest-" +
        "declared clean corpus is a filter literal."))
}
