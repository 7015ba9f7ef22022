package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{Dsl, QueryDef, QueryGroup, Tables}
import graft.functions.MisraGries

/** Round-4 depth operators: warehouse/state-assembly (SCD2 merge,
  * plus the hash-proven incremental path), eval-set decontamination,
  * PII scrubbing, a mergeable heavy-hitters sketch, and
  * corpus_pipeline — the whole release composed into one oracled DAG
  * (and the engine's flagship `SparkEntry.entry`).
  *
  * Determinism notes (SURVEY §2.0): SCD2 orders by (ts, event_id) so
  * every window is a total order; contamination shares NearDup's ONE
  * shingle definition (oracle interpolates [[NearDup.ShingleCtes]]);
  * heavy-hitters emits only order-independent invariants (the sketch
  * contents are merge-order-dependent, same policy as HLL/quantile);
  * the redaction regex `[0-9]+` parses identically in Java regex and
  * RE2, and DuckDB needs the explicit 'g' flag to match Spark's
  * replace-all semantics.
  */
object PipelineOps extends QueryGroup {

  /** Eval docs = doc_id < 16: a FIXED-SIZE holdout at every scale
    * factor (the ANN round-3 lesson — fixed sets keep broadcast sides
    * O(1) in corpus size and total work linear). */
  val EvalSetSize = 16

  /** Misra–Gries capacity: 4 < |lang domain| = 5, so the pruning path
    * actually runs, and N/(k+1) = N/5 sits between the majority
    * language (~44%) and the rest (~15%) — the heavy set is non-empty
    * and non-trivial at every SF. */
  val MgK = 4

  /** dq_drift_psi's stated literal bin edges over the long-tailed
    * `events.value` (~Exp(50): tight low bins, widening tail), as ONE
    * CASE expression string parsed identically by Spark SQL and
    * DuckDB — the single source keeps the two engines' binning in
    * sync by construction. Comparisons are double-vs-integer-literal,
    * exact on both engines. */
  val PsiBinEdges: Seq[Int] = Seq(10, 20, 30, 40, 60, 80, 120, 200, 400)
  val PsiBinCase: String =
    PsiBinEdges.zipWithIndex
      .map { case (e, i) => s"WHEN value < $e THEN $i" }
      .mkString("CASE ", " ", s" ELSE ${PsiBinEdges.size} END")

  /** feat_target_encode's per-event rows `(category, cents, is_train)`:
    * the train/val split is the md5-u16 of the salted event id, 80/20,
    * so membership never depends on order or batch boundaries. */
  private[graft] def targetEncodeRows(ev: DataFrame): DataFrame =
    ev.select(concat(col("event_type"), lit("_"),
        pmod(col("user_id"), lit(4))).as("category"),
      floor(col("value") * 100).cast("long").as("cents"),
      (conv(substring(md5(concat(lit("graftte:"),
        col("event_id").cast("string"))), 1, 4), 16, 10)
        .cast("long") % 10 < 8).as("is_train"))

  /** Per-category `(n_train, s_train, n_val, s_val)` over
    * [[targetEncodeRows]] — feat_target_encode's rollup and, over a
    * stream, stream_target_encode's complete-mode aggregate. */
  private[graft] def targetEncodeSums(rows: DataFrame): DataFrame =
    rows.groupBy("category")
      .agg(sum(when(col("is_train"), 1L).otherwise(0L)).as("n_train"),
        sum(when(col("is_train"), col("cents")).otherwise(0L)).as("s_train"),
        sum(when(!col("is_train"), 1L).otherwise(0L)).as("n_val"),
        sum(when(!col("is_train"), col("cents")).otherwise(0L)).as("s_val"))

  /** The published per-feed freshness SLA manifest (r13, VERDICT r12
    * #4 — stated literals, corpus_mix_kl_target's ReleaseMixPpm
    * form): click is a daily batch feed (fresh at 24 h), error a
    * tight poller (stale past 30 min), purchase the uniform default,
    * signup a 2 h feed, view a 15 min stream. Chosen so the gated
    * output itself exercises a decision path the uniform 3600 s gate
    * gets wrong (error at sf0.01: lag 2009 s — stale at its own SLA,
    * "fresh" uniformly) and the spec the other (click at sf0.001:
    * lag 14117 s — fresh at its own SLA, "stale" uniformly). */
  val FeedSlaS: Seq[(String, Long)] = Seq(
    "click" -> 86400L, "error" -> 1800L, "purchase" -> 3600L,
    "signup" -> 7200L, "view" -> 900L)

  /** Per-feed freshness against an explicit SLA manifest —
    * dq_freshness's watermark-anchored lag plan with the uniform
    * literal swapped for a LEFT-joined (feed, sla_s) dimension and
    * the uncovered-feed fence. Factored so the spec can pass a
    * constant manifest and prove dq_freshness the special case,
    * and a truncated one to prove the fence. */
  def freshnessAgainst(spark: org.apache.spark.sql.SparkSession,
      sf: String, manifest: Seq[(String, Long)])
      : org.apache.spark.sql.DataFrame = {
    val session = spark
    import session.implicits._
    val sla = manifest.toDF("event_type", "sla_s")
    val ev = Tables.loadEvents(spark, sf)
      .select(col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"),
        col("ts"))
    val wm = ev.agg(max(col("us")).as("wm"))
    val per = ev.crossJoin(broadcast(wm))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("last_ts"),
        max(col("us")).as("mx"),
        sum(when(col("us") > col("wm") - lit(86400000000L), 1L)
          .otherwise(0L)).as("n_last_24h"),
        max(col("wm")).as("wmx"))
      .join(broadcast(sla), Seq("event_type"), "left")
      .select(col("event_type"), col("n_rows"), col("last_ts"),
        expr("(wmx - mx) div 1000000").as("lag_s"),
        col("n_last_24h"), col("sla_s"))
    val unc = per.agg(
      sum(when(col("sla_s").isNull, 1L).otherwise(0L))
        .as("n_uncovered"))
    per.crossJoin(broadcast(unc))
      .select(col("event_type"), col("n_rows"), col("last_ts"),
        col("lag_s"), col("n_last_24h"), col("sla_s"),
        (col("lag_s") <= col("sla_s")).as("fresh"),
        (col("lag_s") <= 3600L).as("fresh_uniform"),
        col("n_uncovered"),
        (col("n_uncovered") === 0L).as("sla_in_force"))
      .orderBy("event_type")
  }

  /** Per-(corpus doc, eval doc) shingle overlap `(doc_id, eval_id, ni,
    * n_sh)` — the shared containment kernel behind contamination_check
    * and corpus_pipeline's eval_leak stage.
    *
    * The shingle table feeds FOUR consumers (eval side, corpus side,
    * denominators, bloom build) — materialized once (lazily, so
    * plan-only inspections run zero jobs). The bloom prefilter is an
    * EXPLICIT stage: k=3 positions per shingle in an m=64Ki space,
    * aggregated to ONE position-set row and broadcast — MB-scale at
    * any corpus size where the exact eval-shingle broadcast is
    * GB-scale at full eval suites. A corpus shingle probes its 3
    * positions in the broadcast map and is dropped unless all hit;
    * bloom guarantees NO false negatives, so the exact probe's matches
    * — and every downstream oracle — are bit-identical (false
    * positives only waste an exact-probe row each). The bloom is
    * engine-INTERNAL (oracles never see it), so positions use
    * codegen'd xxhash64, not the md5 cross-engine trick the
    * oracle-visible sketches need. Measured at the 10× replica:
    * 9.5 s → 3.7 s for contamination_check. */
  def evalOverlap(docs: org.apache.spark.sql.DataFrame,
      shPre: Option[org.apache.spark.sql.DataFrame] = None): org.apache.spark.sql.DataFrame = {
    // repartition by doc_id AFTER the distinct: the (doc_id, sh)
    // distinct exchange leaves the table partitioned on both columns,
    // so every downstream doc_id aggregation (nSh here; the signature
    // and token-set builds in the pair path) would re-shuffle all
    // shingle rows — one extra narrow-width exchange at build time
    // makes them all partition-local (checkpoint preserves the
    // partitioning, pagerank's LogicalRDD note)
    val sh = shPre.getOrElse(
      NearDup.shingleRows(docs).distinct()
        .repartition(col("doc_id")).localCheckpoint(false))
    // the overlap join keys on the 8-byte xxhash64 of the shingle, not
    // the raw string (ni is an equi-join count, so collisions — odds
    // ~2^-64, the same accepted basis as the verify sets — are the
    // only way counts could differ from the string join): the eval
    // broadcast ships longs, the probe compares longs, and the bloom
    // positions derive from one narrow hash projection
    val ev = sh.filter(col("doc_id") < EvalSetSize)
      .select(col("doc_id").as("eval_id"), xxhash64(col("sh")).as("h"))
    val co = sh.filter(col("doc_id") >= EvalSetSize)
      .select(col("doc_id"), xxhash64(col("sh")).as("h"))
    // denominator BEFORE the prune: containment is ni / ALL of the
    // doc's shingles, not ni / survivors
    val nSh = co.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val M = 65536
    def bpos(s: org.apache.spark.sql.Column, i: Int) =
      pmod(xxhash64(lit(i), s), lit(M))
    val bloom = ev
      .select(explode(array((0 until 3).map(i =>
        bpos(col("h"), i)): _*)).as("p"))
      .distinct()
      .agg(map_from_entries(
        collect_list(struct(col("p"), lit(true)))).as("bloom"))
    val pruned = co
      .crossJoin(broadcast(bloom))
      .filter((0 until 3).map(i =>
        element_at(col("bloom"), bpos(col("h"), i)).isNotNull)
        .reduce(_ && _))
      .select(col("doc_id"), col("h"))
    pruned.join(broadcast(ev), "h")
      .groupBy("doc_id", "eval_id")
      .agg(count(lit(1)).as("ni"))
      .join(nSh, "doc_id")
  }

  /** SCD2 assembly of an event log: change-detection lag → run-ids by
    * cumulative sum → interval assembly (min ts per run, valid_to =
    * next run's valid_from). No final sort — callers order. */
  def scd2(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val byVersion = Window.partitionBy("user_id").orderBy("version")
    events
      .withColumn("chg",
        when(col("event_type") <=> lag(col("event_type"), 1).over(byUser),
          0L).otherwise(1L))
      .withColumn("version", sum(col("chg")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "version", "event_type")
      .agg(min(col("ts")).as("valid_from"), count(lit(1)).as("n_events"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byVersion))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from"), col("valid_to"), col("n_events"),
        col("is_current"))
  }

  /** Incremental SCD2: merge an already-built SCD2 table with the SCD2
    * of a strictly-later event increment, producing EXACTLY the full
    * recompute (hash-proven by merge_scd2_incremental's oracle).
    *
    * Per user: if the increment's first run continues the open
    * version's type, that version absorbs it (valid_from and version
    * number kept, event counts summed); otherwise the open version
    * closes at the increment's first event and the increment's runs
    * renumber on top of the previous maximum.
    */
  def scd2Merge(prev: org.apache.spark.sql.DataFrame,
      increment: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val inc = scd2(increment)
    val open = prev.filter(col("is_current")).select(
      col("user_id"), col("version").as("pv"), col("event_type").as("pt"),
      col("valid_from").as("pf"), col("n_events").as("pn"))
    val wU = Window.partitionBy("user_id")
    val j = inc.join(open, Seq("user_id"), "left")
      // the head-run-continues-the-open-version flag is decided on the
      // version-1 row and broadcast to the user's other rows via max()
      .withColumn("absorb", col("pv").isNotNull &&
        max(when(col("version") === 1 && col("event_type") === col("pt"), 1)
          .otherwise(0)).over(wU) === 1)
      .withColumn("inc_start", min(col("valid_from")).over(wU))
    val adjusted = j.select(
      col("user_id"),
      when(col("pv").isNull, col("version"))
        .when(col("absorb"), col("pv") + col("version") - 1)
        .otherwise(col("pv") + col("version")).as("version"),
      col("event_type"),
      when(col("absorb") && col("version") === 1, col("pf"))
        .otherwise(col("valid_from")).as("valid_from"),
      col("valid_to"),
      when(col("absorb") && col("version") === 1, col("pn") + col("n_events"))
        .otherwise(col("n_events")).as("n_events"),
      col("is_current"))
    // previous open versions: closed by a non-continuing increment,
    // untouched when the user has no new events
    val starts = j.filter(col("version") === 1).select(
      col("user_id"), col("absorb"), col("inc_start"))
    val carried = prev.filter(col("is_current"))
      .join(starts, Seq("user_id"), "left")
      .filter(col("absorb").isNull || !col("absorb"))
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from"),
        coalesce(col("inc_start"), col("valid_to")).as("valid_to"),
        col("n_events"), col("inc_start").isNull.as("is_current"))
    prev.filter(!col("is_current"))
      .unionByName(carried)
      .unionByName(adjusted)
  }

  /** The SCD2 run-assembly CTE chain `o → v → g` — ONE definition
    * (the ShingleCtes pattern) interpolated by every oracle that
    * needs the version table, so the run-detection logic (lag
    * change-detect, (ts, event_id) tie-break, cumsum) can never
    * drift between merge_scd2 / merge_scd2_incremental /
    * join_point_in_time. */
  private val Scd2Ctes =
    "o AS (SELECT user_id, event_type, ts, event_id, CASE WHEN event_type IS NOT DISTINCT FROM lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) THEN 0 ELSE 1 END AS chg FROM events), v AS (SELECT user_id, event_type, ts, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version FROM o), g AS (SELECT user_id, CAST(version AS BIGINT) AS version, event_type, min(ts) AS valid_from, CAST(count(*) AS BIGINT) AS n_events FROM v GROUP BY 1,2,3)"

  /** The full-recompute SCD2 SQL — merge_scd2's oracle, and also
    * merge_scd2_incremental's: the incremental path must reproduce the
    * batch answer bit-for-bit. */
  private val Scd2OracleSql =
    s"WITH $Scd2Ctes SELECT user_id, version, event_type, valid_from, lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to, n_events, (lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) IS NULL) AS is_current FROM g ORDER BY user_id, version"

  def defs: Seq[QueryDef] = Seq(

    // SCD2 (slowly-changing-dimension type 2) state history: collapse
    // an event log into effective-dated versions per user — the
    // point-in-time dimension every feature store / training-label
    // join needs.
    QueryDef(
      "merge_scd2",
      (spark, sf) =>
        scd2(Tables.loadEvents(spark, sf)).orderBy("user_id", "version"),
      Some(Scd2OracleSql),
      scaleNote = "Both windows and the aggregate share ONE partitioning key (user_id), so the whole assembly costs a single hash exchange; within a partition the sort is reused across lag, cumulative sum, and lead. State per key is O(1) (lag/sum are streaming-friendly frames). At 100 TB the event log is date-partitioned: run SCD2 incrementally per day and merge against yesterday's open versions — merge_scd2_incremental IS that path, hash-proven equal. Hot users skew the user_id exchange — the salting fallback (join_skew_salted) applies to the groupBy half; windows need the per-key order so AQE skew-split handles the rest."),

    // The 100 TB SCD2 story made executable: build SCD2 on history
    // (ts < Jan 16), then MERGE the later increment's SCD2 against it
    // — open versions absorb continuing runs or close at the
    // increment's first event — and emit the stitched table. The
    // oracle is the FULL-recompute SQL: hash equality proves the
    // incremental algorithm reproduces the batch answer exactly
    // (the join_skew_salted proof pattern).
    QueryDef(
      "merge_scd2_incremental",
      (spark, sf) => {
        val ev = Tables.loadEvents(spark, sf)
        val boundary = Dsl.tsLit("2024-01-16")
        scd2Merge(scd2(ev.filter(col("ts") < boundary)),
          ev.filter(col("ts") >= boundary))
          .orderBy("user_id", "version")
      },
      Some(Scd2OracleSql),
      scaleNote = "THE scale path for state assembly over an append-only log: yesterday's SCD2 table (|users| × avg-versions rows, already on disk) plus ONE day of events — the full history is never re-scanned. The merge is two equi-joins on user_id against the open-version slice (|users| rows; broadcastable for dimension-sized user sets) plus the increment's own single-exchange SCD2. Every day costs O(day + |open versions|) instead of O(history). The declared query reproduces the full-recompute hash bit-for-bit, so correctness of the stitching (absorb-vs-close, renumbering, interval closure) is driver-gated, not just unit-tested."),

    // The CONSUMER side of SCD2 — the point-in-time join every
    // feature store / label pipeline runs: attach to each event the
    // dimension version that was active AT ITS TIMESTAMP
    // (vf ≤ ts < vt, open version unbounded). Intervals tile each
    // user's timeline, so every event matches exactly one version
    // (asserted in spec); here the probe is a fixed late-January
    // slice of the log itself, playing the role of a label stream.
    QueryDef(
      "join_point_in_time",
      (spark, sf) => {
        val ev = Tables.loadEvents(spark, sf)
        val scd = scd2(ev)
        // both sides descend from the same events scan (scd2(ev) is a
        // self-join by lineage) — explicit aliases make the equi key
        // unambiguous and quiet the "trivially true equals predicate"
        // analyzer WARN (r14 VERDICT #3; plan unchanged)
        val probe = ev.filter(col("ts") >= Dsl.tsLit("2024-01-25"))
          .select(col("event_id"), col("user_id"), col("ts"))
          .alias("p")
        probe.join(scd.select(col("user_id"), col("version"),
            col("event_type").as("state_type"),
            col("valid_from"), col("valid_to")).alias("s"),
          col("p.user_id") === col("s.user_id") &&
            col("ts") >= col("valid_from") &&
            (col("valid_to").isNull || col("ts") < col("valid_to")))
          .select(col("event_id"), col("p.user_id").as("user_id"),
            col("ts"), col("version"), col("state_type"))
          .orderBy("event_id")
      },
      Some(s"WITH $Scd2Ctes, scd AS (SELECT user_id, version, event_type, valid_from, lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to FROM g) SELECT e.event_id, e.user_id, e.ts, s.version, s.event_type AS state_type FROM events e JOIN scd s ON e.user_id = s.user_id AND e.ts >= s.valid_from AND (s.valid_to IS NULL OR e.ts < s.valid_to) WHERE e.ts >= TIMESTAMP '2024-01-25' ORDER BY e.event_id"),
      scaleNote = "Equi join on user_id with the interval predicate as a post-join filter — never a pure range join: the key-group amplification is versions-per-user (small and bounded by run count), not |dim|. At 100 TB bucket BOTH the fact stream and the SCD2 table by user_id (Sinks.writeBucketed) and the join is shuffle-free; when the dim is the bigger side, flip to the as-of formulation (join_asof's window-over-union) which needs no interval materialization. This is deliberately the same plan family as join_range, specialized to tiling intervals so each probe row matches exactly once."),

    // Benchmark decontamination: for every corpus doc, its maximum
    // 3-gram-shingle containment against a FIXED eval holdout —
    // the "is this training doc leaking an eval item" gate run before
    // every corpus release. Emits the best-matching eval doc and the
    // contained fraction; threshold downstream as policy dictates.
    QueryDef(
      "contamination_check",
      (spark, sf) => {
        // tie-break max overlap by LOWEST eval id: max(struct(ni, -id))
        evalOverlap(Tables.documents(spark, sf))
          .groupBy("doc_id")
          .agg(max(struct(col("ni"), (-col("eval_id")).as("nid"))).as("b"),
            max(col("n_sh")).as("n_sh"))
          .select(col("doc_id"),
            (-col("b.nid")).cast("long").as("eval_id"),
            col("b.ni").as("ni"),
            round(col("b.ni").cast("double") / col("n_sh").cast("double"), 4)
              .as("contamination"))
          .orderBy("doc_id")
      },
      Some(s"WITH ${NearDup.ShingleCtes}, ev AS (SELECT doc_id AS eval_id, g FROM s WHERE doc_id < $EvalSetSize), co AS (SELECT doc_id, n, g FROM s WHERE doc_id >= $EvalSetSize), i AS (SELECT doc_id, eval_id, count(*) AS ni, any_value(n) AS n FROM co JOIN ev USING (g) GROUP BY 1,2), b AS (SELECT doc_id, max(struct_pack(ni := ni, nid := -eval_id)) AS mx, any_value(n) AS n FROM i GROUP BY 1) SELECT doc_id, CAST(-(mx.nid) AS BIGINT) AS eval_id, CAST(mx.ni AS BIGINT) AS ni, round(CAST(mx.ni AS DOUBLE) / n, 4) AS contamination FROM b ORDER BY doc_id"),
      scaleNote = "The eval holdout is FIXED-SIZE (a benchmark suite: thousands of docs), so its shingle set broadcasts O(1) in corpus size and the containment join is map-side — the 100 TB corpus is scanned once, no shuffle of corpus shingles against anything growing. The bloom prefilter is now an EXPLICIT stage (not just an optimizer hope): a broadcast position-set map probes 3 hash positions per corpus shingle in the scan and drops the ~99% that cannot match before the exact probe, with zero false negatives by construction. Per-doc rollups shuffle |docs| partials keyed by doc_id. At full scale hash shingles to 8 bytes first (ngram_jaccard's trick) so the broadcast table and join keys are fixed-width."),

    // PII scrubbing: redact digit runs from the free-form props
    // payload and count redactions — the compliance pass before text
    // enters a training corpus. Pure map-side codegen'd regex; the
    // conservative pattern parses identically in Java regex and RE2.
    QueryDef(
      "text_pii_redact",
      (spark, sf) =>
        Tables.loadEvents(spark, sf)
          .select(col("event_id"),
            regexp_replace(col("props"), "[0-9]+", "#").as("redacted"),
            regexp_count(col("props"), lit("[0-9]+")).cast("long")
              .as("n_hits"))
          .orderBy("event_id"),
      Some("SELECT event_id, regexp_replace(props, '[0-9]+', '#', 'g') AS redacted, CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_hits FROM events ORDER BY event_id"),
      scaleNote = "Map-only: one codegen'd regex pass per row, zero shuffle, zero state — scrubbing 100 TB costs exactly one scan+rewrite and parallelizes to any executor count (the orderBy exists only for the deterministic oracle; production writes partition-local). Swap in the full PII pattern bank (emails, phones, SSNs) as additional regexp_replace stages in the same projection — still one pass."),

    // THE pipeline: every corpus-release step composed into ONE
    // declared DAG — near-dup dedup (keep the canonical cluster
    // member), quality floor, eval-set decontamination (gate on
    // contamination_check's containment score), language rebalancing
    // to a uniform mix (deterministic content-hash sampling at
    // corpus_mix's rates), content-hash train/val split. Emits one
    // disposition row per doc: dup | short | eval_leak | sampled_out |
    // train | val. The oracle rebuilds all five stages on the exact
    // cluster fixpoint, so the hash gates the whole composition, not
    // just the pieces.
    QueryDef(
      "corpus_pipeline",
      (spark, sf) => {
        val docs = Tables.documents(spark, sf)
        // ONE shingle scan serves both heavy stages (cluster pass +
        // decontamination): distinct is set-semantics-safe for the
        // minhash/collect_set path and required by the containment
        // counts, so the shared table is the distinct one
        // doc_id-partitioned (see evalOverlap's note): the signature,
        // token-set, and n_sh aggregations all become exchange-free.
        // (r7 plan audit: this whole build compiles to ONE Exchange —
        // the shingle window's — because doc_id partitioning satisfies
        // the (doc_id, sh) distinct's clustering requirement and the
        // planner elides the then-redundant explicit repartition; a
        // repartition+dropDuplicates rewrite and a persist-based
        // clustersAuto variant were both A/B'd at sf0.1 and won
        // nothing — remaining warm variance tracks box state, see
        // NearDup.editNearestNeighbor's r7 drift adjudication.)
        val sh = NearDup.shingleRows(docs).distinct()
          .repartition(col("doc_id")).localCheckpoint(false)
        // size-adaptive components, not the label-propagation loop:
        // below NearDup.LocalClusterEdgeLimit pairs the fixpoint is a
        // driver union-find over the checkpointed edge list (zero
        // iterative jobs — the per-round orchestration dominated the
        // flagship's wall time), above it the O(log n) star
        // contraction (dedup_clusters_star's oracled path) runs
        // unchanged; same min-label fixpoint either way
        // r16 pre-adjudicated: the cluster arm reads the sinked
        // corpus pair table (the shared shingle scan now serves the
        // decontamination stage alone; same fixpoint, same oracle)
        val canon = NearDup.corpusClusters(spark, sf)
          .select(col("doc_id"), col("is_canonical"))
        // decontamination gate: a pool doc with ≥ half its shingles
        // contained in ONE eval doc is an eval leak (shares the
        // bloom-pruned evalOverlap kernel with contamination_check)
        val leak = evalOverlap(docs, Some(sh))
          .filter(col("ni").cast("double") / col("n_sh").cast("double") >= 0.5)
          .select(col("doc_id")).distinct()
          .withColumn("leak", lit(true))
        val d = docs.select(col("doc_id"), col("lang"),
          CorpusOps.splitBucket(col("text")).as("sbucket"),
          (conv(substring(md5(col("text")), 9, 8), 16, 10).cast("long") % 10000)
            .as("lbucket"),
          size(split(col("text"), " ")).as("ntok"))
        val s1 = d.join(canon, Seq("doc_id"), "left")
          .join(leak, Seq("doc_id"), "left")
          // eval_leak FIRST: decontamination trumps dedup bookkeeping
          // (a leak is excluded whatever its cluster role — without
          // this order a near-copy of an eval doc hides under 'dup')
          .withColumn("early",
            when(col("leak"), "eval_leak")
              .when(col("is_canonical") === false, "dup")
              .when(col("ntok") < 25, "short"))
          // s1 feeds THREE subtrees of the final job (the total/rate
          // aggregates via pool, and the emit select): un-checkpointed,
          // each re-runs the ENTIRE upstream DAG — including the
          // bloom-probe decontamination join — once per reference
          // (measured ~2 s of the flagship's 5.2 s warm). One lazy
          // materialization of this |docs|-row, fixed-width table buys
          // three cached-block reads; at 100 TB it is a shuffle-sized
          // write, the price of not scanning the corpus three times
          .localCheckpoint(false)
        val pool = s1.filter(col("early").isNull)
        val t = pool.agg(count(lit(1)).as("total"),
          countDistinct(col("lang")).as("nl"))
        // per-language keep rates on the POST-filter pool (corpus_mix's
        // formula); |langs| is a bounded domain, so the rate table
        // broadcasts by construction, not by luck
        val rr = pool.groupBy("lang").agg(count(lit(1)).as("n_docs"))
          .crossJoin(broadcast(t))
          .withColumn("rate",
            CorpusOps.mixRate(col("total"), col("nl"), col("n_docs")))
          .select("lang", "rate")
        s1.join(broadcast(rr), Seq("lang"), "left")
          .select(col("doc_id"), col("lang"),
            when(col("early").isNotNull, col("early"))
              .when(col("lbucket") < floor(col("rate") * 10000),
                when(col("sbucket") < 90, "train").otherwise("val"))
              .otherwise("sampled_out").as("status"))
          .orderBy("doc_id")
      },
      Some(s"WITH RECURSIVE ${NearDup.ClusterCtes}, ic AS (SELECT co.doc_id, ev.doc_id AS eval_id, count(*) AS ni, any_value(co.n) AS n FROM s co JOIN s ev ON co.g = ev.g AND co.doc_id >= $EvalSetSize AND ev.doc_id < $EvalSetSize GROUP BY 1,2), lk AS (SELECT DISTINCT doc_id FROM ic WHERE CAST(ni AS DOUBLE)/n >= 0.5), d AS (SELECT doc_id, lang, ${CorpusOps.SplitBucketSql} AS sbucket, ('0x'||substr(md5(text),9,8))::BIGINT % 10000 AS lbucket, len(string_split(text,' ')) AS ntok FROM documents), s1 AS (SELECT d.*, CASE WHEN lk.doc_id IS NOT NULL THEN 'eval_leak' WHEN c.is_canonical = FALSE THEN 'dup' WHEN ntok < 25 THEN 'short' END AS early FROM d LEFT JOIN canon c USING (doc_id) LEFT JOIN lk USING (doc_id)), pool AS (SELECT * FROM s1 WHERE early IS NULL), tt AS (SELECT count(*) AS total, count(DISTINCT lang) AS nl FROM pool), r0 AS (SELECT lang, count(*) AS n_docs FROM pool GROUP BY 1), rr AS (SELECT lang, ${CorpusOps.mixRateSql("tt.total", "tt.nl", "n_docs")} AS rate FROM r0 CROSS JOIN tt) SELECT doc_id, s1.lang, CASE WHEN early IS NOT NULL THEN early WHEN lbucket < floor(rate*10000) THEN (CASE WHEN sbucket < 90 THEN 'train' ELSE 'val' END) ELSE 'sampled_out' END AS status FROM s1 LEFT JOIN rr ON s1.lang = rr.lang ORDER BY doc_id"),
      scaleNote = "The full corpus release as one DAG, so Catalyst sees (and the driver gates) the composition: the heavy stages are the LSH cluster pass (dedup_clusters' shape — banded equi-joins, never all-pairs) and the bloom-pruned decontamination probe (evalOverlap: O(1) broadcast, corpus scanned once); everything after is one scan of the doc table with bounded-size broadcast joins (|langs| rate rows, the single-row totals, the |leaks| flag table) and codegen'd hash bucketing. Disposition is pure content hashing — re-running on a re-partitioned 100 TB corpus reproduces byte-identical train/val membership, and near-dup CLUSTERS (not just exact dups) land on one side of the split via the canonical-keep rule. Statuses are emitted (not filtered away) so every downstream consumer shares one audit manifest."),

    // Mergeable heavy-hitters (Misra–Gries) over the language column,
    // verdict-oracled: the sketch SET is merge-order-dependent, so the
    // declared row carries the exact stream stats the oracle recomputes
    // plus the three MG invariants as booleans (est ≤ true,
    // true − est ≤ N/(k+1), every-heavy-term-present, ≤ k kept) that
    // hold for EVERY partition layout — same policy as the HLL and
    // quantile sketch verdicts.
    QueryDef(
      "agg_heavy_hitters",
      (spark, sf) => {
        val docs = Tables.documents(spark, sf)
        import spark.implicits._
        val kept = docs.select(col("lang")).as[String]
          .select(new MisraGries(MgK).toColumn.name("m"))
          .select(explode(col("m")).as(Seq("term", "est")))
        val exact = docs.groupBy(col("lang").as("term"))
          .agg(count(lit(1)).as("freq"))
        val total = docs.agg(count(lit(1)).as("n"))
        val heavy = col("freq") * (MgK + 1) > col("n") // freq > N/(k+1)
        exact.join(kept, Seq("term"), "left")
          .crossJoin(broadcast(total))
          .agg(
            max(col("n")).as("n"),
            sum(when(heavy, 1L).otherwise(0L)).as("n_heavy"),
            bool_and(when(heavy, col("est").isNotNull).otherwise(lit(true)))
              .as("heavy_all_present"),
            bool_and(when(col("est").isNotNull,
              col("est") <= col("freq") &&
                (col("freq") - col("est")) * (MgK + 1) <= col("n"))
              .otherwise(lit(true))).as("bounds_ok"),
            (sum(when(col("est").isNotNull, 1L).otherwise(0L)) <= MgK)
              .as("capacity_ok"))
      },
      Some(s"WITH f AS (SELECT lang, count(*) AS freq FROM documents GROUP BY 1), x AS (SELECT count(*) AS n FROM documents) SELECT max(n) AS n, CAST(sum(CASE WHEN freq * ${MgK + 1} > n THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy, TRUE AS heavy_all_present, TRUE AS bounds_ok, TRUE AS capacity_ok FROM f CROSS JOIN x"),
      scaleNote = "MG partials are ≤ k entries per partition REGARDLESS of rows or vocabulary — the top-terms question over 100 TB ships O(k) bytes per partition through one tiny shuffle, where an exact top-terms must shuffle the whole (term, count) vocabulary. merge subtracts the (k+1)-th largest count, preserving the N/(k+1) error bound (mergeable-summaries result). The exact per-language counts here exist ONLY to oracle the invariants at test scale; production reads the sketch alone. For real corpora run it over tokens (k=10^4): same plan, still KB-size partials."),

    // Incremental aggregate maintenance (materialized-view refresh):
    // the history partition's aggregate STATE (exact decimal sums +
    // counts per group) is merged with a later increment's state by a
    // full-outer join + coalesce-add — never re-reading history — and
    // derived metrics (avg) are computed from the merged state at read
    // time. Oracled against the FULL recompute over all of lineitem,
    // so hash equality proves the merge exact, including groups that
    // exist in only one side. The batch twin of the streaming sinks'
    // state story (merge_scd2_incremental's pattern applied to
    // algebraic aggregates).
    QueryDef(
      "agg_incremental_merge",
      (spark, sf) => {
        import Dsl._
        val cutoff = tsLit("1998-01-01")
        def state(df: org.apache.spark.sql.DataFrame) = df
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sumDec2(col("l_quantity")).as("sq"),
            sumDec2(col("l_extendedprice")).as("sp"),
            count(lit(1)).as("n"))
        val li = Tables.lineitem(spark, sf)
        val hist = state(li.filter(col("l_shipdate") < cutoff))
          .withColumnsRenamed(Map("sq" -> "sq1", "sp" -> "sp1", "n" -> "n1"))
        val incr = state(li.filter(col("l_shipdate") >= cutoff))
          .withColumnsRenamed(Map("sq" -> "sq2", "sp" -> "sp2", "n" -> "n2"))
        hist.join(incr, Seq("l_returnflag", "l_linestatus"), "full_outer")
          .select(col("l_returnflag"), col("l_linestatus"),
            (coalesce(col("sq1"), lit(0).cast(D2)) +
              coalesce(col("sq2"), lit(0).cast(D2))).cast(D2).as("sqm"),
            (coalesce(col("sp1"), lit(0).cast(D2)) +
              coalesce(col("sp2"), lit(0).cast(D2))).cast(D2).as("spm"),
            (coalesce(col("n1"), lit(0L)) + coalesce(col("n2"), lit(0L))).as("n_rows"))
          .select(col("l_returnflag"), col("l_linestatus"),
            col("sqm").cast("double").as("sum_qty"),
            col("spm").cast("double").as("sum_price"),
            col("n_rows"),
            round(col("sqm").cast("double") / col("n_rows"), 4).as("avg_qty"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("SELECT l_returnflag, l_linestatus, CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty, CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price, count(*) AS n_rows, round(CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) / count(*), 4) AS avg_qty FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"),
      scaleNote = "The refresh reads ONLY the increment — history participates as its aggregate state (|groups| rows, not |rows|), so a daily refresh over a 100 TB log costs one pass over the new partition plus a groups-sized outer join, and the state table is itself partitionable by group key. This works because the aggregates are algebraic: SUM/COUNT states merge by addition, AVG derives from merged state at read time (never store avg — it does not merge). DECIMAL state keeps the merge bit-exact on any layout; MIN/MAX merge the same way, and the sketch family (HLL/CMS/MG) extends the pattern to distincts, frequencies and top-k — this query is the glue that turns those mergeable partials into an incrementally-maintained warehouse."),

    // Incremental view maintenance for JOINS — the delta-join algebra
    // agg_incremental_merge's pattern needs once the maintained view
    // contains a join: with both sides split into history ∪ increment
    // (orders by o_orderdate, lineitem by l_shipdate, cutoff
    // 1997-01-01), the refresh is
    //   Δ(A⋈B) = A_hist⋈B_inc ∪ A_inc⋈B_hist ∪ A_inc⋈B_inc
    // merged onto the A_hist⋈B_hist state. This query evaluates all
    // four terms explicitly and merges their partial aggregates; the
    // oracle is the monolithic join+agg over everything, so hash
    // equality PROVES the distributivity the refresh relies on.
    QueryDef(
      "join_incremental",
      (spark, sf) => {
        val cut = lit("1997-01-01").cast("date")
        val o = Tables.orders(spark, sf)
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
        val l = Tables.lineitem(spark, sf)
          .select(col("l_orderkey"), col("l_quantity"), col("l_shipdate"))
        val (oH, oI) = (o.filter(col("o_orderdate") < cut),
          o.filter(col("o_orderdate") >= cut))
        val (lH, lI) = (l.filter(col("l_shipdate") < cut),
          l.filter(col("l_shipdate") >= cut))
        def term(a: org.apache.spark.sql.DataFrame,
            b: org.apache.spark.sql.DataFrame) =
          a.join(b, col("o_orderkey") === col("l_orderkey"))
            .groupBy("o_orderpriority")
            .agg(count(lit(1)).as("n"), Dsl.sumDec2(col("l_quantity")).as("sq"))
        // state ∪ three delta terms, merged by addition (per-group
        // outer union: a group may exist in any subset of terms)
        term(oH, lH).unionByName(term(oH, lI))
          .unionByName(term(oI, lH)).unionByName(term(oI, lI))
          .groupBy("o_orderpriority")
          .agg(sum(col("n")).as("n_items"),
            sum(col("sq")).cast(Dsl.D2).as("sqm"))
          .select(col("o_orderpriority"), col("n_items"),
            col("sqm").cast("double").as("sum_qty"))
          .orderBy("o_orderpriority")
      },
      Some("SELECT o_orderpriority, count(*) AS n_items, " +
        "CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
        "GROUP BY 1 ORDER BY 1"),
      scaleNote = "The production refresh never runs the hist⋈hist " +
        "term — it IS the stored view state — so a daily refresh " +
        "costs |A_inc|⋈B plus A⋈|B_inc| with the increments " +
        "partition-pruned by the cutoff date (both scans here show " +
        "the date filter pushed to parquet). The delta terms shuffle " +
        "on the same join key as the view, so at 100 TB the state, " +
        "both histories, and both increments co-partition and the " +
        "refresh is exchange-free except for increment-sized " +
        "shuffles. Merging partial aggregates by addition is exact " +
        "because the measures are algebraic DECIMAL sums/counts " +
        "(agg_incremental_merge's rule); the monolithic oracle makes " +
        "the distributivity proof a hash equality, not a claim."),

    // MERGE INTO made executable on plain Spark: apply a CDC change
    // feed (insert / update / delete ops, one change per key) to a
    // keyed snapshot — the Type-1 dimension refresh every warehouse
    // runs nightly, and the operation Delta/Iceberg surface as MERGE
    // while this shows the engine-level join it compiles to
    // [P utils_dynamo.py's upsert loop is the row-at-a-time analog].
    // The feed is synthesized deterministically from the snapshot so
    // every branch carries rows at every SF: k≡0 (mod 10) updated,
    // k≡1 deleted, k≡2 spawns an insert under a disjoint key range.
    QueryDef(
      "cdc_apply",
      (spark, sf) => {
        val snap = Tables.customer(spark, sf)
          .select(col("c_custkey").as("k"), col("c_name").as("name"),
            col("c_nationkey").cast("long").as("nat"))
        val upd = snap.filter(col("k") % 10 === 0)
          .select(col("k"), lit("U").as("op"),
            concat(lit("upd_"), col("k").cast("string")).as("new_name"))
        val del = snap.filter(col("k") % 10 === 1)
          .select(col("k"), lit("D").as("op"),
            lit(null).cast("string").as("new_name"))
        val ins = snap.filter(col("k") % 10 === 2)
          .select((col("k") + 10000000L).as("k"),
            concat(lit("new_"), (col("k") + 10000000L).cast("string")).as("name"),
            (col("k") % 25).as("nat"))
        snap.join(upd.unionByName(del), Seq("k"), "left")
          .filter(col("op").isNull || col("op") =!= "D")
          .select(col("k"),
            when(col("op") === "U", col("new_name")).otherwise(col("name"))
              .as("name"),
            col("nat"))
          .unionByName(ins)
          .orderBy("k")
      },
      Some("WITH snap AS (SELECT c_custkey AS k, c_name AS name, CAST(c_nationkey AS BIGINT) AS nat FROM customer), " +
        "upd AS (SELECT k, 'upd_' || CAST(k AS VARCHAR) AS new_name FROM snap WHERE k % 10 = 0), " +
        "del AS (SELECT k FROM snap WHERE k % 10 = 1), " +
        "ins AS (SELECT k + 10000000 AS k, 'new_' || CAST(k + 10000000 AS VARCHAR) AS name, k % 25 AS nat FROM snap WHERE k % 10 = 2) " +
        "SELECT k, name, nat FROM (" +
        "SELECT s.k AS k, CASE WHEN u.k IS NOT NULL THEN u.new_name ELSE s.name END AS name, s.nat AS nat " +
        "FROM snap s LEFT JOIN upd u ON s.k = u.k WHERE s.k NOT IN (SELECT k FROM del) " +
        "UNION ALL SELECT k, name, nat FROM ins) ORDER BY k"),
      scaleNote = "One equi join on the key applies the whole feed: " +
        "updates/deletes ride a broadcast when the daily delta is " +
        "dimension-sized (the common case — the snapshot streams, " +
        "nothing big shuffles), inserts are pure plan concatenation. " +
        "At 100 TB the snapshot is bucketed by key, so the join is " +
        "exchange-free on the big side and the rewrite touches only " +
        "the buckets the delta hits — exactly the file-pruning MERGE " +
        "a table format performs, expressed as the engine plan. " +
        "Type-2 history instead of overwrite is merge_scd2's path; " +
        "a conflicting multi-change-per-key feed first collapses to " +
        "last-wins via last_state's struct-max."),

    // Dual-store reconciliation — the reference writes every cycle to
    // TWO stores (Mongo for history, Dynamo for serving [P
    // utils_mongo.py / utils_dynamo.py]) and silently trusts them to
    // agree; this is the nightly audit that checks. Two synthetic
    // store views of the event log with deterministic planted drift
    // (A misses event_id ≡ 13 mod 97 — dropped writes; B misses
    // ≡ 7 mod 89 AND corrupts value by +0.01 on ≡ 5 mod 101 —
    // partial-failure typo), full-outer-joined on the key, classified
    // per day: present-in-one-only each way, value mismatch, clean.
    QueryDef(
      "store_reconcile",
      (spark, sf) => {
        val ev = Tables.loadEvents(spark, sf)
          .select(col("event_id"), col("ts").cast("date").as("day"),
            Dsl.dec2(col("value")).as("v"))
        val a = ev.filter(col("event_id") % 97 =!= 13)
          .select(col("event_id"), col("day").as("day_a"), col("v").as("va"))
        val b = ev.filter(col("event_id") % 89 =!= 7)
          .select(col("event_id"), col("day").as("day_b"),
            when(col("event_id") % 101 === 5, Dsl.dec2(col("v") + lit(0.01)))
              .otherwise(col("v")).as("vb"))
        a.join(b, Seq("event_id"), "full")
          .select(coalesce(col("day_a"), col("day_b")).as("day"),
            col("va"), col("vb"))
          .groupBy("day")
          .agg(
            sum(when(col("vb").isNull, 1L).otherwise(0L)).as("n_only_a"),
            sum(when(col("va").isNull, 1L).otherwise(0L)).as("n_only_b"),
            sum(when(col("va").isNotNull && col("vb").isNotNull &&
              col("va") =!= col("vb"), 1L).otherwise(0L)).as("n_mismatch"),
            sum(when(col("va") === col("vb"), 1L).otherwise(0L)).as("n_clean"))
          .select(col("day").cast("string").as("day"), col("n_only_a"),
            col("n_only_b"), col("n_mismatch"), col("n_clean"))
          .orderBy("day")
      },
      Some("WITH ev AS (SELECT event_id, CAST(ts AS DATE) AS day, CAST(value AS DECIMAL(18,2)) AS v FROM events), " +
        "a AS (SELECT event_id, day AS day_a, v AS va FROM ev WHERE event_id % 97 <> 13), " +
        "b AS (SELECT event_id, day AS day_b, CASE WHEN event_id % 101 = 5 THEN CAST(v + 0.01 AS DECIMAL(18,2)) ELSE v END AS vb FROM ev WHERE event_id % 89 <> 7) " +
        "SELECT CAST(coalesce(day_a, day_b) AS VARCHAR) AS day, " +
        "CAST(sum(CASE WHEN vb IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_only_a, " +
        "CAST(sum(CASE WHEN va IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_only_b, " +
        "CAST(sum(CASE WHEN va IS NOT NULL AND vb IS NOT NULL AND va <> vb THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch, " +
        "CAST(sum(CASE WHEN va = vb THEN 1 ELSE 0 END) AS BIGINT) AS n_clean " +
        "FROM a FULL JOIN b USING (event_id) GROUP BY 1 ORDER BY 1"),
      scaleNote = "ONE full outer equi join on the primary key + a " +
        "map-side-combined day rollup — the canonical audit shape. " +
        "At 100 TB both store exports are date-partitioned, so the " +
        "join runs per-day-partition-parallel with zero cross-day " +
        "shuffle (the day is IN the key path via coalesce, and " +
        "mismatched-day same-id rows cannot exist when the key " +
        "embeds the day, as the reference's day_train_num does). " +
        "Value comparison in DECIMAL, never float equality. The " +
        "output is |days| rows of four counters — alert thresholds, " +
        "then drill into the mismatching keys with the same join " +
        "un-aggregated (filter pushdown makes the drill cheap)."),

    // The SECOND composed release DAG — dedup in BOTH similarity
    // spaces plus the reproducible holdout, under one hash:
    // corpus_pipeline gates the lexical release (LSH dedup +
    // decontamination + mix-rate sampling); this one gates the
    // r8-completed surfaces composed the way a modern pipeline
    // (SemDeDup + consistent eval slicing) actually chains them.
    // Disposition priority: lexical near-dup loser → semantic
    // (embedding-cluster) loser among survivors → too-short →
    // consistent heldout slice (the sample_consistent rule at a
    // '0a' band ≈ 4.3% — the eval set everyone can reproduce
    // byte-for-byte) → train. Each stage is an already-gated
    // operator; what THIS key gates is the composition and the
    // priority order.
    QueryDef(
      "corpus_release",
      (spark, sf) => {
        val docs = Tables.documents(spark, sf)
        val lex = NearDup.corpusClusters(spark, sf)
          .select(col("doc_id"), col("is_canonical").as("lex_canon"))
        val sem = NearDup.resolveEdges(
          AnnIvf.cosineNearDup(AnnIvf.bucketed(spark, sf, planes = 4), 0.25)
            .select(col("id1").as("u"), col("id2").as("v"))
            .localCheckpoint(false))
          .select(col("doc_id"), col("is_canonical").as("sem_canon"))
        docs
          .join(lex, Seq("doc_id"), "left")
          .join(sem, Seq("doc_id"), "left")
          .select(col("doc_id"), col("lang"),
            when(col("lex_canon") === false, "dup_lexical")
              .when(col("sem_canon") === false, "dup_semantic")
              .when(size(split(col("text"), " ")) < 25, "short")
              .when(substring(md5(concat(lit("graft8:"),
                col("doc_id").cast("string"))), 1, 2) <= "0a", "heldout")
              .otherwise("train").as("status"))
          .orderBy("doc_id")
      },
      Some {
        val cos = "round(CAST(list_sum(list_transform(range(1,65), i -> a.qv[i]*c.qv[i])) AS DOUBLE)/" +
          "(sqrt(CAST(a.n2 AS DOUBLE))*sqrt(CAST(c.n2 AS DOUBLE))),4)"
        s"WITH RECURSIVE ${NearDup.ClusterCtes}, " +
          s"qv0 AS (${AnnIvf.QuantSql}), " +
          s"prv AS (SELECT vec_id, qv, CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS n2, ${AnnIvf.psSql(4)} AS ps FROM qv0), " +
          s"bv AS (SELECT vec_id, qv, n2, ${AnnIvf.bucketSql(4)} AS bucket FROM prv), " +
          s"pv AS (SELECT id1, id2 FROM (SELECT a.vec_id AS id1, c.vec_id AS id2, $cos AS cos " +
          "FROM bv a JOIN bv c ON a.bucket = c.bucket AND a.vec_id < c.vec_id) WHERE cos >= 0.25), " +
          "ev AS (SELECT id1 AS src, id2 AS dst FROM pv UNION ALL SELECT id2, id1 FROM pv), " +
          "vsv AS (SELECT DISTINCT src AS v FROM ev), " +
          "reachv(v, r) AS (SELECT v, v FROM vsv UNION SELECT ev.dst, reachv.r FROM ev JOIN reachv ON ev.src = reachv.v), " +
          "canonv AS (SELECT v AS doc_id, (v = min(r)) AS sem_canon FROM reachv GROUP BY v) " +
          "SELECT d.doc_id, d.lang, CASE " +
          "WHEN cl.is_canonical = FALSE THEN 'dup_lexical' " +
          "WHEN cv.sem_canon = FALSE THEN 'dup_semantic' " +
          "WHEN len(string_split(d.text, ' ')) < 25 THEN 'short' " +
          "WHEN substr(md5('graft8:' || CAST(d.doc_id AS VARCHAR)), 1, 2) <= '0a' THEN 'heldout' " +
          "ELSE 'train' END AS status " +
          "FROM documents d " +
          "LEFT JOIN canon cl ON d.doc_id = cl.doc_id " +
          "LEFT JOIN canonv cv ON d.doc_id = cv.doc_id " +
          "ORDER BY d.doc_id"
      },
      scaleNote = "Two bounded-candidate dedup passes (banded LSH " +
        "equi-joins; SRP-bucket-local cosine pairs) feed two runs of " +
        "the SAME size-adaptive component fixpoint, then ONE scan of " +
        "the doc table with two left joins against cluster-label " +
        "tables (each sized by docs-with-a-partner, ≪ corpus) and " +
        "codegen'd hash bucketing decides every disposition — no " +
        "stage is corpus-quadratic and the statuses are pure content " +
        "functions, so a re-partitioned 100 TB rerun reproduces the " +
        "manifest byte-identically. Priority order is load-bearing " +
        "and gated: lexical before semantic keeps the cheaper " +
        "evidence class authoritative (and the semantic pass in " +
        "production runs on the lexical survivors only — here both " +
        "label tables are full-corpus because each is independently " +
        "oracled). The heldout band composes with " +
        "sample_consistent's: disjoint hex bands = disjoint, " +
        "independently reproducible slices of one corpus."),

    // Declarative data-quality expectation suite (r10) — the
    // Deequ/Great-Expectations contract check every ingest boundary
    // runs before data is allowed downstream: a set of NAMED rules
    // (not-null, key uniqueness, accepted values, numeric range, date
    // bounds, format regex, referential integrity) evaluated together
    // and reported per rule — n_checked, n_failed, pass, fail_ppm —
    // so the gate is auditable rule by rule, never one opaque
    // boolean. The single-pass economics are the point: all six
    // row-local rules + the row count + the key-distinct count
    // compute in ONE aggregate over one scan (conditional integer
    // sums — the Deequ trick), the RI rule is the only join, and the
    // per-rule report is a constant-width stack of the 1-row result.
    // The range rule is deliberately tight enough (< 300k) to FAIL on
    // real rows, proving the counting path, not just the green path.
    QueryDef(
      "dq_expectations",
      (spark, sf) => {
        val o = Tables.orders(spark, sf)
        val a = o.agg(
          count(lit(1)).as("n"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
            .as("f_null"),
          (count(lit(1)) - countDistinct(col("o_orderkey"))).as("f_uniq"),
          sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L)
            .otherwise(0L)).as("f_vals"),
          sum(when(!(col("o_totalprice") > 0 &&
            col("o_totalprice") < 300000), 1L).otherwise(0L)).as("f_range"),
          sum(when(col("o_orderdate") <
              lit("1992-01-01").cast("timestamp") ||
            col("o_orderdate") >= lit("1999-01-01").cast("timestamp"), 1L)
            .otherwise(0L)).as("f_date"),
          sum(when(!col("o_orderpriority").rlike("^[1-5]-"), 1L)
            .otherwise(0L)).as("f_pat"))
        val ri = o.join(Tables.customer(spark, sf).select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("f_ri"))
        a.crossJoin(broadcast(ri))
          .select(col("n"), expr("stack(7, " +
            "'accepted_values:o_orderstatus', f_vals, " +
            "'bounds:o_orderdate', f_date, " +
            "'not_null:o_custkey', f_null, " +
            "'pattern:o_orderpriority', f_pat, " +
            "'range:o_totalprice', f_range, " +
            "'ref:o_custkey_in_customer', f_ri, " +
            "'unique:o_orderkey', f_uniq) AS (rule, n_failed)"))
          .select(col("rule"), col("n").as("n_checked"), col("n_failed"),
            (col("n_failed") === 0).as("pass"),
            expr("(n_failed * 1000000) div n").as("fail_ppm"))
          .orderBy("rule")
      },
      Some("WITH a AS (SELECT count(*) AS n, " +
        "CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS f_null, " +
        "count(*) - count(DISTINCT o_orderkey) AS f_uniq, " +
        "CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS f_vals, " +
        "CAST(sum(CASE WHEN NOT (o_totalprice > 0 AND o_totalprice < 300000) THEN 1 ELSE 0 END) AS BIGINT) AS f_range, " +
        "CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01' OR o_orderdate >= TIMESTAMP '1999-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS f_date, " +
        "CAST(sum(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) AS BIGINT) AS f_pat " +
        "FROM orders), " +
        "r AS (SELECT CAST(count(*) AS BIGINT) AS f_ri FROM orders " +
        "WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)), " +
        "u AS (SELECT 'accepted_values:o_orderstatus' AS rule, n, f_vals AS n_failed FROM a CROSS JOIN r " +
        "UNION ALL SELECT 'bounds:o_orderdate', n, f_date FROM a CROSS JOIN r " +
        "UNION ALL SELECT 'not_null:o_custkey', n, f_null FROM a CROSS JOIN r " +
        "UNION ALL SELECT 'pattern:o_orderpriority', n, f_pat FROM a CROSS JOIN r " +
        "UNION ALL SELECT 'range:o_totalprice', n, f_range FROM a CROSS JOIN r " +
        "UNION ALL SELECT 'ref:o_custkey_in_customer', n, f_ri FROM a CROSS JOIN r " +
        "UNION ALL SELECT 'unique:o_orderkey', n, f_uniq FROM a CROSS JOIN r) " +
        "SELECT rule, n AS n_checked, n_failed, n_failed = 0 AS pass, " +
        "(n_failed * 1000000) // n AS fail_ppm FROM u ORDER BY rule"),
      scaleNote = "One scan computes six rules + the row count + the " +
        "two-phase key-distinct in a single map-side-combined " +
        "aggregate (conditional integer sums ride the same codegen " +
        "stage — adding a rule adds an expression, never a pass: the " +
        "Deequ economics), so the suite's cost is the scan it was " +
        "going to pay anyway. Referential integrity is the only " +
        "join — an anti join that broadcasts when the dimension " +
        "fits and co-partitions on the key when it doesn't (the " +
        "join_anti family's valve); at 100 TB run it against the " +
        "dimension's BLOOM side first (join_bloom_prefilter) so " +
        "only suspect rows shuffle. The per-rule stack is 7 rows " +
        "from two 1-row locals — report size is |rules|, " +
        "independent of data. fail_ppm is an integer floor " +
        "division: bit-stable, and 1 ppm resolution is the right " +
        "unit for gating a petabyte feed (a 0.01% bad-row budget " +
        "is 100 ppm, directly comparable)."),

    // Population Stability Index (r13) — the distribution-drift
    // member beside ts_cusum's level-drift chart: CUSUM catches a
    // feed whose MEAN moves; PSI catches one whose SHAPE moves with
    // the mean intact (mass migrating from mid-range to the tails —
    // the classic upstream-encoding-change signature a mean monitor
    // never sees). Reference window = events before the stream's
    // temporal midpoint (min/max epoch-micros average, exact integer
    // — self-adapting, no calendar literal), current = at/after.
    // Bins are STATED literal value edges matched to the long-tailed
    // fixture (10/20/30/40/60/80/120/200/400 — a production deploy
    // swaps a per-feed edge manifest in like dq_freshness_sla's);
    // the grid is densified (event_type × all 10 bins) so empty
    // bins participate, and +1/+B Laplace smoothing keeps every
    // ratio finite. Each term composes ONE ln of an exact integer
    // cross-ratio, floor-quantized to micro before the per-feed sum
    // (corpus_mix_kl's float fence); verdicts at the standard
    // 0.1/0.25 industry cutoffs.
    QueryDef(
      "dq_drift_psi",
      (spark, sf) => {
        val ev = Tables.loadEvents(spark, sf)
          .select(col("event_type"), col("value"),
            expr("unix_micros(cast(ts as timestamp))").as("us"))
        val mid = ev.agg(
          expr("(min(us) + max(us)) div 2").as("mid_us"))
        val cnt = ev.crossJoin(broadcast(mid))
          .groupBy(col("event_type"), expr(PsiBinCase).as("bin"))
          .agg(
            sum(when(col("us") < col("mid_us"), 1L).otherwise(0L)).as("nr"),
            sum(when(col("us") >= col("mid_us"), 1L).otherwise(0L)).as("nc"))
        val grid = ev.select("event_type").distinct()
          .crossJoin(spark.range(10).select(col("id").as("bin")))
        val wp = Window.partitionBy("event_type")
        grid.join(cnt, Seq("event_type", "bin"), "left")
          .select(col("event_type"), col("bin"),
            coalesce(col("nr"), lit(0L)).as("n_ref"),
            coalesce(col("nc"), lit(0L)).as("n_cur"))
          .withColumn("tr", sum(col("n_ref")).over(wp))
          .withColumn("tc", sum(col("n_cur")).over(wp))
          .withColumn("contrib_micro",
            floor(((col("n_ref") + lit(1L)).cast("double") /
              (col("tr") + lit(10L)).cast("double") -
              (col("n_cur") + lit(1L)).cast("double") /
                (col("tc") + lit(10L)).cast("double")) *
              log(((col("n_ref") + lit(1L)) * (col("tc") + lit(10L)))
                .cast("double") /
                ((col("n_cur") + lit(1L)) * (col("tr") + lit(10L)))
                  .cast("double")) * lit(1000000.0)).cast("long"))
          .withColumn("psi_micro", sum(col("contrib_micro")).over(wp))
          .withColumn("verdict",
            when(col("psi_micro") < 100000L, "stable")
              .when(col("psi_micro") < 250000L, "moderate")
              .otherwise("shifted"))
          .orderBy("event_type", "bin")
      },
      Some("WITH ev AS (SELECT event_type, value, epoch_us(ts) AS us FROM events), " +
        "mid AS (SELECT (min(us) + max(us)) // 2 AS mid_us FROM ev), " +
        s"c AS (SELECT event_type, $PsiBinCase AS bin, " +
        "CAST(sum(CASE WHEN us < mid_us THEN 1 ELSE 0 END) AS BIGINT) AS nr, " +
        "CAST(sum(CASE WHEN us >= mid_us THEN 1 ELSE 0 END) AS BIGINT) AS nc " +
        "FROM ev CROSS JOIN mid GROUP BY 1, 2), " +
        "et AS (SELECT DISTINCT event_type FROM ev), " +
        "b AS (SELECT unnest(generate_series(0, 9)) AS bin), " +
        "g AS (SELECT event_type, bin, CAST(COALESCE(nr, 0) AS BIGINT) AS n_ref, CAST(COALESCE(nc, 0) AS BIGINT) AS n_cur FROM et CROSS JOIN b LEFT JOIN c USING (event_type, bin)), " +
        "t AS (SELECT *, CAST(sum(n_ref) OVER w AS BIGINT) AS tr, CAST(sum(n_cur) OVER w AS BIGINT) AS tc FROM g WINDOW w AS (PARTITION BY event_type)), " +
        "k AS (SELECT *, CAST(floor((CAST(n_ref + 1 AS DOUBLE) / CAST(tr + 10 AS DOUBLE) - CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 10 AS DOUBLE)) * ln(CAST((n_ref + 1) * (tc + 10) AS DOUBLE) / CAST((n_cur + 1) * (tr + 10) AS DOUBLE)) * 1000000.0) AS BIGINT) AS contrib_micro FROM t), " +
        "p AS (SELECT *, CAST(sum(contrib_micro) OVER (PARTITION BY event_type) AS BIGINT) AS psi_micro FROM k) " +
        "SELECT event_type, bin, n_ref, n_cur, tr, tc, contrib_micro, psi_micro, " +
        "CASE WHEN psi_micro < 100000 THEN 'stable' WHEN psi_micro < 250000 THEN 'moderate' ELSE 'shifted' END AS verdict " +
        "FROM p ORDER BY event_type, bin"),
      scaleNote = "One pass over the stream does everything heavy: " +
        "the (feed, bin) aggregate is map-side combinable with BOTH " +
        "window counts as conditional sums sharing the scan (no " +
        "second read for the second window), the 1-row midpoint " +
        "broadcasts, and everything after runs on the densified " +
        "|feeds|·10 grid — window input is grid-sized at any corpus " +
        "scale. Laplace +1/+B smoothing is what makes the dense " +
        "grid safe (an empty bin contributes a finite, correct " +
        "term; unsmoothed PSI is infinite the first time mass " +
        "appears in a previously-empty bin — the failure mode that " +
        "pages at 3am). The ln fence is corpus_mix_kl's: one ln per " +
        "grid cell of an exact integer cross-ratio, floored to " +
        "micro BEFORE summing, so the verdict is bit-stable under " +
        "any partitioning. Per-feed edge manifests and finer grids " +
        "swap in without touching the plan; KL/JS divergence are " +
        "the same grid with a different per-cell formula."),

    // Column profiler — dq_expectations' exploratory sibling: the
    // expectation suite CHECKS declared rules; the profiler DISCOVERS
    // what to declare (the Deequ ColumnProfiler / pandas-profiling
    // report, relationally). One pass over the feed computes, per
    // column: row count, null count, EXACT distinct cardinality, and
    // the typed extrema — numerics as doubles, timestamps format-
    // pinned to strings, strings by byte order. All six columns ride
    // ONE aggregate row (conditional sums + min/max share the scan;
    // the exact distincts are the one genuinely expensive demand —
    // see scaleNote for the Expand cost and the HLL swap), reshaped
    // driver-scale by stack() into the 6-row report. Extrema are
    // min/max — order-independent, no float-sum hazard; NULL cells
    // type-pinned on both engines so the schema hash agrees.
    QueryDef(
      "dq_profile",
      (spark, sf) => {
        val ev = Tables.loadEvents(spark, sf)
        def nn(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L))
        // r16 (guide §2.3/§2.4): six countDistinct in ONE aggregate
        // made Catalyst plan the 7-way Expand — every event row
        // multiplied 7×, then TWO full sorts around a SortAggregate
        // whose grouping key was all six columns at once (the before
        // plan in plans/r16/dq_profile_before.txt). The exact
        // distincts now run as six independent single-column
        // branches (groupBy-the-column hash aggregate, map-side
        // combined, each scan column-pruned to 1 column) crossJoined
        // into the same 1-row frame: no Expand, no sort, and the
        // non-distinct stats keep their one-pass scan. Counts are
        // identical — count(col) over a distinct() skips the NULL
        // group exactly as countDistinct does.
        def nd(c: String) = broadcast(ev.select(col(c)).distinct()
          .agg(count(col(c)).as(s"nd_$c")))
        val agg = ev.agg(
          count(lit(1)).as("n_rows"),
          nn("event_id").as("nn_event_id"),
          min(col("event_id")).cast("double").as("mn_event_id"),
          max(col("event_id")).cast("double").as("mx_event_id"),
          nn("ts").as("nn_ts"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("mn_ts"),
          date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("mx_ts"),
          nn("user_id").as("nn_user_id"),
          min(col("user_id")).cast("double").as("mn_user_id"),
          max(col("user_id")).cast("double").as("mx_user_id"),
          nn("event_type").as("nn_event_type"),
          min(col("event_type")).as("mn_event_type"),
          max(col("event_type")).as("mx_event_type"),
          nn("value").as("nn_value"),
          min(col("value")).as("mn_value"),
          max(col("value")).as("mx_value"),
          nn("props").as("nn_props"),
          min(col("props")).as("mn_props"),
          max(col("props")).as("mx_props"))
          .crossJoin(nd("event_id")).crossJoin(nd("ts"))
          .crossJoin(nd("user_id")).crossJoin(nd("event_type"))
          .crossJoin(nd("value")).crossJoin(nd("props"))
        agg.select(expr("stack(6, " +
          "'event_id', n_rows, nn_event_id, nd_event_id, mn_event_id, mx_event_id, CAST(NULL AS STRING), CAST(NULL AS STRING), " +
          "'event_type', n_rows, nn_event_type, nd_event_type, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn_event_type, mx_event_type, " +
          "'props', n_rows, nn_props, nd_props, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn_props, mx_props, " +
          "'ts', n_rows, nn_ts, nd_ts, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn_ts, mx_ts, " +
          "'user_id', n_rows, nn_user_id, nd_user_id, mn_user_id, mx_user_id, CAST(NULL AS STRING), CAST(NULL AS STRING), " +
          "'value', n_rows, nn_value, nd_value, mn_value, mx_value, CAST(NULL AS STRING), CAST(NULL AS STRING)) " +
          "AS (col_name, n_rows, n_null, n_distinct, min_num, max_num, min_str, max_str)"))
          .orderBy("col_name")
      },
      Some("SELECT 'event_id' AS col_name, count(*) AS n_rows, count(*) - count(event_id) AS n_null, count(DISTINCT event_id) AS n_distinct, CAST(min(event_id) AS DOUBLE) AS min_num, CAST(max(event_id) AS DOUBLE) AS max_num, CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM events " +
        "UNION ALL SELECT 'event_type', count(*), count(*) - count(event_type), count(DISTINCT event_type), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min(event_type), max(event_type) FROM events " +
        "UNION ALL SELECT 'props', count(*), count(*) - count(props), count(DISTINCT props), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min(props), max(props) FROM events " +
        "UNION ALL SELECT 'ts', count(*), count(*) - count(ts), count(DISTINCT epoch_us(ts)), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), strftime(min(ts), '%Y-%m-%d %H:%M:%S'), strftime(max(ts), '%Y-%m-%d %H:%M:%S') FROM events " +
        "UNION ALL SELECT 'user_id', count(*), count(*) - count(user_id), count(DISTINCT user_id), CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM events " +
        "UNION ALL SELECT 'value', count(*), count(*) - count(value), count(DISTINCT value), min(value), max(value), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM events " +
        "ORDER BY col_name"),
      scaleNote = "One scan, one aggregate row, a 6-row driver-scale " +
        "stack — nulls and extrema are free conditional sums/min-max " +
        "riding the same codegen stage (dq_expectations' economics). " +
        "The honest cost is the EXACT multi-column distinct: Spark " +
        "plans k distinct aggregates as an Expand that replicates " +
        "every row k times before the partial agg — acceptable to " +
        "the tens-of-GB feed this profiles per batch, the wrong " +
        "plan at 100 TB. The scale swap is one token: " +
        "approx_count_distinct (the agg_approx_hll sketch) turns " +
        "the profile into a single no-Expand pass with mergeable " +
        "partials, the standard profiler tradeoff (Deequ does " +
        "exactly this), and the sketch answer feeds the SAME report " +
        "schema. Extrema are order-independent min/max — no float " +
        "aggregates anywhere, so the report is bit-stable on any " +
        "partitioning; per-partition profiles (drift monitoring) " +
        "add the partition key to a groupBy, not a pass."),

    // Leak-free target encoding (r11) — the feature-engineering step
    // between the corpus ops and the experiment stats: replace a
    // categorical feature with the smoothed TRAIN-split mean of the
    // target, the classic high-cardinality encoder (CatBoost/
    // entity-embedding precursor), where "leak-free" is the entire
    // point — the encoding must be computed on the train rows ONLY
    // Weight-of-Evidence + Information Value (r13) — the feature-
    // SCREENING member beside feat_target_encode's feature-BUILDING
    // one: before any model trains, IV ranks candidate features by
    // how much each separates the classes (the credit-scoring
    // standard: IV < 0.02 useless, 0.1-0.3 medium, > 0.3 strong),
    // and WoE is the per-bin log-odds contribution the ranking
    // decomposes into. Features = the perceptron's six marker-word
    // PRESENCE bits over documents, label = en-vs-rest — so this
    // table PREDICTS which features text_classifier_perceptron
    // should find useful, the screening→training handshake. The
    // feature grid is densified (6 features × present/absent via a
    // literal VALUES dim) and +1-smoothed so empty cells stay
    // finite; each WoE composes ONE ln of an exact integer
    // cross-ratio floored to micro (corpus_mix_kl's fence), each IV
    // contribution the PSI-shaped (p−q)·WoE floored micro product.
    // On this quasi-random fixture the screen honestly reports
    // near-null IVs (~0.003-0.014 — marker PRESENCE saturates across
    // languages; the perceptron separates on counts), which is the
    // point of screening: weak features get reported, not flattered
    // (graph_embed_link_auc's AUC≈0.50 discipline).
    QueryDef(
      "feat_woe_iv",
      (spark, sf) => {
        val session = spark
        import session.implicits._
        val words = graft.queries.TextVector.PercWords
        val docs = Tables.documents(spark, sf)
          .select(col("doc_id"),
            when(col("lang") === "en", 1L).otherwise(0L).as("y01"))
        val pres = Tables.documents(spark, sf)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .filter(col("w").isin(words: _*))
          .select(col("doc_id"), col("w").as("feature")).distinct()
        val cnt1 = pres.join(docs, "doc_id")
          .groupBy("feature")
          .agg(sum(col("y01")).as("p1"),
            sum(lit(1L) - col("y01")).as("n1"))
        val tot = docs.agg(sum(col("y01")).as("tp"),
          sum(lit(1L) - col("y01")).as("tn"))
        val grid = words.toDF("feature")
          .crossJoin(Seq(1L, 0L).toDF("bin"))
        val cells = grid
          .join(cnt1, Seq("feature"), "left")
          .crossJoin(broadcast(tot))
          .select(col("feature"), col("bin"),
            when(col("bin") === 1L, coalesce(col("p1"), lit(0L)))
              .otherwise(col("tp") - coalesce(col("p1"), lit(0L)))
              .as("n_pos"),
            when(col("bin") === 1L, coalesce(col("n1"), lit(0L)))
              .otherwise(col("tn") - coalesce(col("n1"), lit(0L)))
              .as("n_neg"),
            col("tp"), col("tn"))
        val woe = floor(log(
          ((col("n_pos") + lit(1L)) * (col("tn") + lit(2L))).cast("double") /
            ((col("n_neg") + lit(1L)) * (col("tp") + lit(2L))).cast("double"))
          * lit(1000000.0)).cast("long")
        val wf = Window.partitionBy("feature")
        cells
          .withColumn("woe_micro", woe)
          .withColumn("iv_contrib_micro",
            floor(((col("n_pos") + lit(1L)).cast("double") /
              (col("tp") + lit(2L)).cast("double") -
              (col("n_neg") + lit(1L)).cast("double") /
                (col("tn") + lit(2L)).cast("double")) *
              log(((col("n_pos") + lit(1L)) * (col("tn") + lit(2L)))
                .cast("double") /
                ((col("n_neg") + lit(1L)) * (col("tp") + lit(2L)))
                  .cast("double")) * lit(1000000.0)).cast("long"))
          .withColumn("iv_micro", sum(col("iv_contrib_micro")).over(wf))
          .select(col("feature"), col("bin"), col("n_pos"), col("n_neg"),
            col("woe_micro"), col("iv_contrib_micro"), col("iv_micro"))
          .orderBy("feature", "bin")
      },
      Some {
        val values = graft.queries.TextVector.PercWords
          .map(w => s"('$w')").mkString(", ")
        "WITH d AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y01 FROM documents), " +
          "pr AS (SELECT DISTINCT doc_id, w AS feature FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) " +
          s"WHERE w IN (${graft.queries.TextVector.PercWords.map(w => s"'$w'").mkString(", ")})), " +
          "c1 AS (SELECT feature, CAST(sum(y01) AS BIGINT) AS p1, CAST(sum(1 - y01) AS BIGINT) AS n1 FROM pr JOIN d ON pr.doc_id = d.doc_id GROUP BY 1), " +
          "tt AS (SELECT CAST(sum(y01) AS BIGINT) AS tp, CAST(sum(1 - y01) AS BIGINT) AS tn FROM d), " +
          s"g AS (SELECT f.feature, b.bin FROM (VALUES $values) f(feature) CROSS JOIN (VALUES (CAST(1 AS BIGINT)), (CAST(0 AS BIGINT))) b(bin)), " +
          "ce AS (SELECT g.feature, g.bin, " +
          "CASE WHEN g.bin = 1 THEN COALESCE(p1, 0) ELSE tp - COALESCE(p1, 0) END AS n_pos, " +
          "CASE WHEN g.bin = 1 THEN COALESCE(n1, 0) ELSE tn - COALESCE(n1, 0) END AS n_neg, tp, tn " +
          "FROM g LEFT JOIN c1 ON g.feature = c1.feature CROSS JOIN tt), " +
          "k AS (SELECT feature, bin, n_pos, n_neg, " +
          "CAST(floor(ln(CAST((n_pos + 1) * (tn + 2) AS DOUBLE) / CAST((n_neg + 1) * (tp + 2) AS DOUBLE)) * 1000000.0) AS BIGINT) AS woe_micro, " +
          "CAST(floor((CAST(n_pos + 1 AS DOUBLE) / CAST(tp + 2 AS DOUBLE) - CAST(n_neg + 1 AS DOUBLE) / CAST(tn + 2 AS DOUBLE)) * ln(CAST((n_pos + 1) * (tn + 2) AS DOUBLE) / CAST((n_neg + 1) * (tp + 2) AS DOUBLE)) * 1000000.0) AS BIGINT) AS iv_contrib_micro FROM ce) " +
          "SELECT feature, bin, n_pos, n_neg, woe_micro, iv_contrib_micro, " +
          "CAST(sum(iv_contrib_micro) OVER (PARTITION BY feature) AS BIGINT) AS iv_micro " +
          "FROM k ORDER BY feature, bin"
      },
      scaleNote = "Two map-side-combinable aggregates do the corpus " +
        "work (per-doc distinct feature presence collapses inside " +
        "each split — the text_repetition property — then |features| " +
        "and 1-row class totals), and everything after runs on the " +
        "densified 6×2 literal grid: the screening report costs the " +
        "same at 100 TB as here, per feature, and a thousand " +
        "candidate features just widen the tiny grid. The ln fence " +
        "is corpus_mix_kl's (one ln per cell of an exact integer " +
        "cross-ratio, floored to micro BEFORE the per-feature sum), " +
        "so the IV ranking — the table's entire point — cannot " +
        "reorder with partitioning. Continuous features reuse " +
        "dq_drift_psi's stated bin edges to become categorical " +
        "first; the monotone-WoE binning a credit model wants is " +
        "eval_calibration's value-grouped device on the same " +
        "counts."),

    // and merely APPLIED to validation, or the validation metric is
    // fiction. The split is sample_consistent's portable hash
    // contract (md5-u16 of the salted event id, 80/20), so train
    // membership is bit-identical on both engines and across reruns;
    // the encoding is the m=20 smoothed mean enc = (Σtrain +
    // m·prior)/(n_train + m) in exact cents with the train-global
    // prior broadcast as a 1-row aggregate (the structurally-proven
    // constant); validation rows contribute ONLY their n and raw
    // mean, emitted beside the encoding so the report doubles as the
    // drift check (enc vs val mean per category).
    QueryDef(
      "feat_target_encode",
      (spark, sf) => {
        val ev = targetEncodeRows(Tables.loadEvents(spark, sf))
        val per = targetEncodeSums(ev)
        val prior = ev.filter(col("is_train"))
          .agg(sum(col("cents")).as("gs"), count(lit(1)).as("gn"))
        def d(c: org.apache.spark.sql.Column) = c.cast("double")
        per.crossJoin(broadcast(prior))
          .select(col("category"), col("n_train"), col("n_val"),
            round((d(col("s_train")) +
              lit(20.0) * (d(col("gs")) / d(col("gn")))) /
              (d(col("n_train")) + lit(20.0)), 4).as("enc_cents"),
            when(col("n_val") > 0,
              round(d(col("s_val")) / d(col("n_val")), 4))
              .as("val_mean_cents"))
          .orderBy("category")
      },
      Some("WITH ev AS (SELECT event_type || '_' || CAST(((user_id % 4) + 4) % 4 AS VARCHAR) AS category, " +
        "CAST(floor(value*100) AS BIGINT) AS cents, " +
        "('0x'||substr(md5('graftte:'||CAST(event_id AS VARCHAR)),1,4))::BIGINT % 10 < 8 AS is_train FROM events), " +
        "per AS (SELECT category, " +
        "CAST(sum(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_train, " +
        "CAST(sum(CASE WHEN is_train THEN cents ELSE 0 END) AS BIGINT) AS s_train, " +
        "CAST(sum(CASE WHEN NOT is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_val, " +
        "CAST(sum(CASE WHEN NOT is_train THEN cents ELSE 0 END) AS BIGINT) AS s_val " +
        "FROM ev GROUP BY 1), " +
        "pr AS (SELECT CAST(sum(cents) AS BIGINT) AS gs, count(*) AS gn FROM ev WHERE is_train) " +
        "SELECT category, n_train, n_val, " +
        "round((CAST(s_train AS DOUBLE) + 20.0 * (CAST(gs AS DOUBLE)/CAST(gn AS DOUBLE))) / (CAST(n_train AS DOUBLE) + 20.0), 4) AS enc_cents, " +
        "CASE WHEN n_val > 0 THEN round(CAST(s_val AS DOUBLE)/CAST(n_val AS DOUBLE), 4) END AS val_mean_cents " +
        "FROM per CROSS JOIN pr ORDER BY category"),
      scaleNote = "ONE map-side-combined aggregate over the log (the " +
        "split flag and category are scalar hash/concat expressions " +
        "inside the scan — no join, no second pass for the split), " +
        "a 1-row train prior broadcast back, and the |categories|-" +
        "row report composes two float divisions at the edge. " +
        "Applying the encoding to a feature table is then one " +
        "broadcast equi join of this (small) table — or a " +
        "co-partitioned join at catalog-scale cardinalities, where " +
        "the smoothing term is precisely what keeps thin categories " +
        "from memorizing their few train targets. The hash split " +
        "is the leak-free guarantee AND the reproducibility one: " +
        "any engine recomputes identical train membership, so the " +
        "encoder is auditable end to end (sample_consistent's " +
        "contract, applied to feature engineering)."),

    // Feed FRESHNESS monitor (r12) — the standard DQ dimension the
    // profile/expectation ops don't cover: completeness and validity
    // say the data is RIGHT, freshness says it's CURRENT — the first
    // alert an ingest pipeline actually fires (a feed that silently
    // stops arriving passes every row-level rule). Per feed
    // (event_type): row count, last-arrival timestamp, the LAG
    // against the corpus WATERMARK (max ts across all feeds — the
    // deterministic reference; wall-clock now() would make the gate
    // unreproducible, the reason freshness checks in batch engines
    // anchor to the watermark), trailing-24h liveness count, and the
    // SLA verdict (lag ≤ 1 h, a stated literal). All exact integer
    // microsecond arithmetic — the one-row watermark broadcasts back
    // onto the same scan's aggregate.
    QueryDef(
      "dq_freshness",
      (spark, sf) => {
        val ev = Tables.loadEvents(spark, sf)
          .select(col("event_type"),
            unix_micros(col("ts").cast("timestamp")).as("us"),
            col("ts"))
        val wm = ev.agg(max(col("us")).as("wm"))
        ev.crossJoin(broadcast(wm))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_rows"),
            date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss")
              .as("last_ts"),
            max(col("us")).as("mx"),
            sum(when(col("us") > col("wm") - lit(86400000000L), 1L)
              .otherwise(0L)).as("n_last_24h"),
            max(col("wm")).as("wmx"))
          .select(col("event_type"), col("n_rows"), col("last_ts"),
            expr("(wmx - mx) div 1000000").as("lag_s"),
            col("n_last_24h"),
            (expr("(wmx - mx) div 1000000") <= 3600L).as("fresh"))
          .orderBy("event_type")
      },
      Some("WITH e AS (SELECT event_type, epoch_us(ts) AS us, ts FROM events), " +
        "w AS (SELECT max(us) AS wm FROM e), " +
        "p AS (SELECT event_type, count(*) AS n_rows, " +
        "strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts, max(us) AS mx, " +
        "CAST(sum(CASE WHEN us > (SELECT wm FROM w) - 86400000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_last_24h " +
        "FROM e GROUP BY 1) " +
        "SELECT event_type, n_rows, last_ts, " +
        "((SELECT wm FROM w) - mx) // 1000000 AS lag_s, n_last_24h, " +
        "((SELECT wm FROM w) - mx) // 1000000 <= 3600 AS fresh " +
        "FROM p ORDER BY event_type"),
      scaleNote = "Two passes over the log's (type, ts) projection — " +
        "one for the 1-row watermark (broadcast back, the " +
        "structurally-proven constant pattern), one map-side-" +
        "combined per-feed aggregate — and at 100 TB BOTH collapse " +
        "further: a stats-aware reader answers max(ts) from parquet " +
        "footers / partition names without scanning rows, and a " +
        "date-partitioned lake prunes the trailing-24h count to the " +
        "last partitions. Anchoring lag to the corpus watermark " +
        "(not wall clock) is what makes the gate deterministic and " +
        "replayable — a re-run of yesterday's audit produces " +
        "yesterday's verdicts bit-for-bit. Per-source or per-shard " +
        "freshness adds a group key; the per-feed SLA manifest is " +
        "dq_freshness_sla (r13), which proves this gate the " +
        "constant-manifest special case."),

    // Per-feed SLA freshness gate (r13, VERDICT r12 #4 — the
    // manifest dq_freshness's scaleNote named, GATED): real feeds
    // have different SLAs — a daily batch feed is fresh at 25 h
    // while a poller is stale at 10 min — so the uniform ≤3600 s
    // literal both under- and over-alerts. corpus_mix_kl_target's
    // exact shape: a stated literal VALUES manifest (feed → sla_s)
    // joins in as a broadcast dimension, LEFT so an unmanifested
    // feed cannot silently vanish — it rides in with a NULL SLA,
    // n_uncovered counts it, and sla_in_force fails the whole gate
    // (an uncovered feed has no freshness contract: alert, never
    // skip). Both verdicts emitted side by side so the gated table
    // itself shows the decision paths: at the correctness sf, the
    // error feed FAILS its own 1800 s SLA while passing uniform
    // (the tight-poller path), and the spec shows click PASSING its
    // 86400 s SLA while failing uniform (the daily-batch path) plus
    // the uniform gate as the constant-manifest special case.
    QueryDef(
      "dq_freshness_sla",
      (spark, sf) => freshnessAgainst(spark, sf, FeedSlaS),
      Some {
        val values = FeedSlaS
          .map { case (f, s) => s"('$f', CAST($s AS BIGINT))" }
          .mkString(", ")
        s"WITH q AS (SELECT * FROM (VALUES $values) AS t(event_type, sla_s)), " +
          "e AS (SELECT event_type, epoch_us(ts) AS us, ts FROM events), " +
          "w AS (SELECT max(us) AS wm FROM e), " +
          "p AS (SELECT event_type, count(*) AS n_rows, " +
          "strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts, max(us) AS mx, " +
          "CAST(sum(CASE WHEN us > (SELECT wm FROM w) - 86400000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_last_24h " +
          "FROM e GROUP BY 1), " +
          "j AS (SELECT p.event_type, n_rows, last_ts, n_last_24h, " +
          "((SELECT wm FROM w) - mx) // 1000000 AS lag_s, q.sla_s " +
          "FROM p LEFT JOIN q ON p.event_type = q.event_type), " +
          "u AS (SELECT CAST(sum(CASE WHEN sla_s IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_uncovered FROM j) " +
          "SELECT event_type, n_rows, last_ts, lag_s, n_last_24h, sla_s, " +
          "lag_s <= sla_s AS fresh, lag_s <= 3600 AS fresh_uniform, " +
          "n_uncovered, n_uncovered = 0 AS sla_in_force " +
          "FROM j CROSS JOIN u ORDER BY event_type"
      },
      scaleNote = "dq_freshness's economics verbatim — one 1-row " +
        "watermark broadcast + one map-side-combined per-feed " +
        "aggregate (parquet-footer answerable at 100 TB) — plus ONE " +
        "|feeds|-row broadcast join (an SLA manifest is dimension-" +
        "scale by definition). The LEFT join + n_uncovered fence is " +
        "the scale-safety piece: as ingest grows feeds the gate " +
        "FAILS loudly on any feed without a freshness contract " +
        "(corpus_mix_kl_target's uncovered-language semantics), " +
        "which is exactly what a recurring 100 TB build needs — a " +
        "new feed must be classified, not defaulted. Swapping SLAs " +
        "is a literal-table edit; plan, shuffle count and integer " +
        "discipline are unchanged, and the uniform gate is provably " +
        "this operator with a constant manifest."),

    // dq_profile's 100 TB path, GATED (r11 — the scaleNote named the
    // one-token approx_count_distinct swap; the house precedent —
    // retention_cohort_approx, agg_approx_hll — is to ship the approx
    // twin with a tolerance verdict so the scale path is itself
    // hash-gated, not just documented). The PRODUCTION pass is the
    // first aggregate alone: nulls + extrema + six HLL++ sketches
    // (rsd 0.02) in ONE no-Expand scan with fixed-size mergeable
    // partials — the plan that profiles 100 TB. The six exact
    // single-column distincts exist ONLY to compute the tolerance
    // verdict at test scale (each is a plain two-phase aggregate —
    // a single distinct column never plans an Expand — and their
    // 1-row results broadcast onto the report row, the structurally-
    // proven constant pattern); at 100 TB the verdict scaffolding is
    // dropped and the report reads the sketch column directly. Same
    // tolerance band as retention_cohort_approx: 2 + 10 % absolute+
    // relative (rsd 0.02 ⇒ σ≈2 %; small cardinalities sit in HLL++'s
    // exact sparse mode, covered by the +2).
    QueryDef(
      "dq_profile_approx",
      (spark, sf) => {
        val ev = Tables.loadEvents(spark, sf)
        def nn(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L))
        val agg = ev.agg(
          count(lit(1)).as("n_rows"),
          nn("event_id").as("nn_event_id"),
          approx_count_distinct(col("event_id"), 0.02).as("ae_event_id"),
          min(col("event_id")).cast("double").as("mn_event_id"),
          max(col("event_id")).cast("double").as("mx_event_id"),
          nn("ts").as("nn_ts"),
          approx_count_distinct(col("ts"), 0.02).as("ae_ts"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("mn_ts"),
          date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("mx_ts"),
          nn("user_id").as("nn_user_id"),
          approx_count_distinct(col("user_id"), 0.02).as("ae_user_id"),
          min(col("user_id")).cast("double").as("mn_user_id"),
          max(col("user_id")).cast("double").as("mx_user_id"),
          nn("event_type").as("nn_event_type"),
          approx_count_distinct(col("event_type"), 0.02).as("ae_event_type"),
          min(col("event_type")).as("mn_event_type"),
          max(col("event_type")).as("mx_event_type"),
          nn("value").as("nn_value"),
          approx_count_distinct(col("value"), 0.02).as("ae_value"),
          min(col("value")).as("mn_value"),
          max(col("value")).as("mx_value"),
          nn("props").as("nn_props"),
          approx_count_distinct(col("props"), 0.02).as("ae_props"),
          min(col("props")).as("mn_props"),
          max(col("props")).as("mx_props"))
        // verdict-only exact distincts: six separate single-distinct
        // aggregates (no Expand), 1 row each, broadcast onto the row
        val cols = Seq("event_id", "ts", "user_id", "event_type",
          "value", "props")
        val withExact = cols.foldLeft(agg) { (d, c) =>
          d.crossJoin(broadcast(
            ev.agg(countDistinct(col(c)).as(s"nd_$c"))))
        }
        val withTol = cols.foldLeft(withExact) { (d, c) =>
          d.withColumn(s"tol_$c",
            abs(col(s"ae_$c") - col(s"nd_$c")).cast("double") <=
              lit(2.0) + lit(0.10) * col(s"nd_$c"))
        }
        withTol.select(expr("stack(6, " +
          "'event_id', n_rows, nn_event_id, nd_event_id, tol_event_id, mn_event_id, mx_event_id, CAST(NULL AS STRING), CAST(NULL AS STRING), " +
          "'event_type', n_rows, nn_event_type, nd_event_type, tol_event_type, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn_event_type, mx_event_type, " +
          "'props', n_rows, nn_props, nd_props, tol_props, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn_props, mx_props, " +
          "'ts', n_rows, nn_ts, nd_ts, tol_ts, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn_ts, mx_ts, " +
          "'user_id', n_rows, nn_user_id, nd_user_id, tol_user_id, mn_user_id, mx_user_id, CAST(NULL AS STRING), CAST(NULL AS STRING), " +
          "'value', n_rows, nn_value, nd_value, tol_value, mn_value, mx_value, CAST(NULL AS STRING), CAST(NULL AS STRING)) " +
          "AS (col_name, n_rows, n_null, n_distinct, est_in_tol, min_num, max_num, min_str, max_str)"))
          .orderBy("col_name")
      },
      Some("SELECT 'event_id' AS col_name, count(*) AS n_rows, count(*) - count(event_id) AS n_null, count(DISTINCT event_id) AS n_distinct, TRUE AS est_in_tol, CAST(min(event_id) AS DOUBLE) AS min_num, CAST(max(event_id) AS DOUBLE) AS max_num, CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM events " +
        "UNION ALL SELECT 'event_type', count(*), count(*) - count(event_type), count(DISTINCT event_type), TRUE, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min(event_type), max(event_type) FROM events " +
        "UNION ALL SELECT 'props', count(*), count(*) - count(props), count(DISTINCT props), TRUE, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min(props), max(props) FROM events " +
        "UNION ALL SELECT 'ts', count(*), count(*) - count(ts), count(DISTINCT epoch_us(ts)), TRUE, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), strftime(min(ts), '%Y-%m-%d %H:%M:%S'), strftime(max(ts), '%Y-%m-%d %H:%M:%S') FROM events " +
        "UNION ALL SELECT 'user_id', count(*), count(*) - count(user_id), count(DISTINCT user_id), TRUE, CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM events " +
        "UNION ALL SELECT 'value', count(*), count(*) - count(value), count(DISTINCT value), TRUE, min(value), max(value), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM events " +
        "ORDER BY col_name"),
      scaleNote = "THE production profile plan: one scan, one " +
        "aggregate row, no Expand anywhere (asserted in-spec — " +
        "dq_profile's k-way row replication is gone), every " +
        "distinct a fixed-KB HLL++ sketch with mergeable partials, " +
        "so the pass costs the scan however many columns are " +
        "profiled. The six exact distincts are VERDICT SCAFFOLDING " +
        "at test scale only (each a no-Expand two-phase aggregate, " +
        "1-row broadcast onto the report row — the sweep-proven " +
        "constant pattern); production drops them and reads the " +
        "sketch. est_in_tol gates every column's sketch inside the " +
        "2 + 10 % band — a broken sketch fails the hash loudly, " +
        "retention_cohort_approx's discipline."))
}
