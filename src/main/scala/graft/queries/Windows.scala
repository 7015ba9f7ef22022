package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.{Dsl, QueryDef, QueryGroup, Tables}
import Dsl._

/** Window functions — SURVEY.md §2.1 #27-33.
  *
  * Reference analog: the delay computation (observed − scheduled, a
  * lag/window arithmetic over per-trip ordered passages) and the
  * station-board rankings / next-N departures [P match_ids.py,
  * query.py — SURVEY.md §0].
  *
  * Determinism: every ORDER BY inside a window carries a unique
  * tie-break key (orderkey / event_id) except where tie semantics are
  * themselves deterministic (rank/dense_rank assign equal ranks to
  * peers; RANGE frames include all peers on both engines).
  */
object Windows extends QueryGroup {

  def defs: Seq[QueryDef] = Seq(

    // #27 — ranking trio. rank/dense_rank rank over the (possibly
    // tied) price alone — ties get equal ranks, deterministic;
    // row_number needs the unique orderkey tie-break.
    QueryDef(
      "win_rank",
      (spark, sf) => {
        val byPrice = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc)
        val byPriceKey = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Tables.orders(spark, sf)
          .select(
            col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            row_number().over(byPriceKey).as("rn"),
            rank().over(byPrice).as("rnk"),
            dense_rank().over(byPrice).as("drnk"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn, rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk, dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS drnk FROM orders ORDER BY o_custkey, o_orderkey"),
      scaleNote = "One shuffle on the partition key, in-partition sort, O(n) rank pass. Station-board ordering at 100 TB: partition count scales with |stations|; a single hot key serializes its partition — salt or pre-filter if a key exceeds executor memory."),

    // #28 — top-k per group: the next-N-departures pattern [P query.py].
    QueryDef(
      "win_topk_group",
      (spark, sf) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Tables.orders(spark, sf)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
          .orderBy("o_custkey", "rn")
      },
      Some("SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn"),
      scaleNote = "rank-then-filter is the distributed top-k-per-group: no global sort, no collect. Catalyst pushes the rn<=3 filter into the window via WindowGroupLimit (Spark 3.5+), so each partition only keeps 3 rows during the sort."),

    // #29 — running total: cumulative delay along a trip analog.
    QueryDef(
      "win_running",
      (spark, sf) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.orders(spark, sf)
          .select(
            col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
            sum(dec2(col("o_totalprice"))).over(w)
              .cast(D2).cast("double").as("running_spend"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("SELECT o_custkey, o_orderkey, o_orderdate, CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS DOUBLE) AS running_spend FROM orders ORDER BY o_custkey, o_orderkey"),
      scaleNote = "Running frame is a single O(n) accumulation per partition after the one shuffle+sort. Decimal accumulator keeps every prefix exact, so the frame evaluation order (fixed by the unique sort) is also value-exact."),

    // #30 — lag/lead: THE delay computation analog — delta between an
    // observation and its predecessor [P match_ids.py compute_delay].
    QueryDef(
      "win_lag_lead",
      (spark, sf) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").asc, col("event_id").asc)
        Tables.loadEvents(spark, sf)
          .select(
            col("event_id"), col("user_id"), col("ts"), col("value"),
            lag(col("value"), 1).over(w).as("prev_value"),
            lead(col("value"), 1).over(w).as("next_value"),
            // IEEE subtraction of two stored doubles is exact and
            // engine-independent — no rounding needed.
            (col("value") - lag(col("value"), 1).over(w)).as("delta"),
            // gap in integer µs: every ts has sub-second precision, so
            // whole-second truncation would corrupt the gap
            (unix_micros(col("ts").cast("timestamp")) -
              unix_micros(lag(col("ts"), 1).over(w).cast("timestamp")))
              .as("gap_us"))
          .orderBy("event_id")
      },
      Some("SELECT event_id, user_id, ts, value, lag(value, 1) OVER w AS prev_value, lead(value, 1) OVER w AS next_value, value - lag(value, 1) OVER w AS delta, epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS gap_us FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) ORDER BY event_id"),
      scaleNote = "lag/lead share one window spec → one shuffle on user_id, one sort, all four outputs in a single WindowExec pass. This is delay = observed − previous at scale: no self-join."),

    // #31 — time-RANGE frame: trailing 1h per user. Frame bounds on
    // integer epoch-µs so both engines compare identical keys; RANGE
    // includes all peers, so no tie-break is needed for determinism.
    QueryDef(
      "win_range_time",
      (spark, sf) => {
        val w = Window.partitionBy("user_id")
          .orderBy(unix_micros(col("ts").cast("timestamp")))
          .rangeBetween(-3600000000L, 0L)
        Tables.loadEvents(spark, sf)
          .select(
            col("event_id"), col("user_id"), col("ts"),
            count(lit(1)).over(w).as("n_1h"),
            sum(dec2(col("value"))).over(w)
              .cast(D2).cast("double").as("sum_1h"))
          .orderBy("event_id")
      },
      Some("SELECT event_id, user_id, ts, count(*) OVER w AS n_1h, CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DECIMAL(18,2)) AS DOUBLE) AS sum_1h FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) ORDER BY event_id"),
      scaleNote = "RANGE frame evaluated with a sliding two-pointer over the sorted partition — O(n) amortized, no per-row rescans. The rolling-passage-window analog; decimal accumulator stays exact under incremental add/evict."),

    // #32 — distribution: delay quartiles analog [P notebooks].
    QueryDef(
      "win_ntile",
      (spark, sf) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Tables.orders(spark, sf)
          .select(
            col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
            ntile(4).over(w).as("quartile"))
          .orderBy("o_orderkey")
      },
      Some("SELECT o_orderkey, o_orderpriority, o_totalprice, ntile(4) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS quartile FROM orders ORDER BY o_orderkey"),
      scaleNote = "ntile needs the partition row count before assigning buckets — WindowExec buffers the partition; bounded here by rows-per-priority. For unbounded partitions prefer percent_rank (streaming-computable) or pre-computed quantile cut-points."),

    // Distribution functions: percent_rank/cume_dist over a unique
    // total order — (rank−1)/(n−1) and rank/n are single divisions of
    // identical integers on both engines.
    QueryDef(
      "win_percent",
      (spark, sf) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
        Tables.orders(spark, sf)
          .select(
            col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
            round(percent_rank().over(w), 4).as("pr"),
            round(cume_dist().over(w), 4).as("cd"))
          .orderBy("o_orderkey")
      },
      Some("SELECT o_orderkey, o_orderpriority, o_totalprice, round(percent_rank() OVER w, 4) AS pr, round(cume_dist() OVER w, 4) AS cd FROM orders WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC, o_orderkey ASC) ORDER BY o_orderkey"),
      scaleNote = "Like ntile, distribution functions need the partition count before emitting — WindowExec buffers the partition; for unbounded partitions precompute counts with an agg join instead."),

    // #33 — first/last with explicit full frame: first/last passage of
    // day per station [P query.py]. Default window frame would stop
    // last_value at CURRENT ROW — pin UNBOUNDED FOLLOWING explicitly.
    QueryDef(
      "win_first_last",
      (spark, sf) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.orders(spark, sf)
          .select(
            col("o_custkey"), col("o_orderkey"),
            first(col("o_orderkey")).over(w).as("first_key"),
            last(col("o_orderkey")).over(w).as("last_key"),
            first(col("o_orderdate")).over(w).as("first_date"),
            last(col("o_orderdate")).over(w).as("last_date"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("SELECT o_custkey, o_orderkey, first_value(o_orderkey) OVER w AS first_key, last_value(o_orderkey) OVER w AS last_key, first_value(o_orderdate) OVER w AS first_date, last_value(o_orderdate) OVER w AS last_date FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) ORDER BY o_custkey, o_orderkey"),
      scaleNote = "Full-partition frame: first/last are computed once per partition and broadcast to its rows — O(n), no re-scan per row. Same shuffle profile as win_rank."),

    // Distribution + positional window functions: cume_dist (fraction
    // of partition at-or-below this row) and nth_value over a running
    // frame. The total order (price, unique orderkey tie-break) makes
    // every peer group a single row, so cume_dist is k/n of exact
    // integers — one IEEE division, deterministic cross-engine.
    QueryDef(
      "win_dist",
      (spark, sf) => {
        val ord = Seq(col("o_totalprice").asc, col("o_orderkey").asc)
        val w = Window.partitionBy("o_orderpriority").orderBy(ord: _*)
        val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.orders(spark, sf)
          .select(
            col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
            cume_dist().over(w).as("cdist"),
            nth_value(col("o_orderkey"), 3).over(running).as("third_key"))
          .orderBy("o_orderkey")
      },
      Some("SELECT o_orderkey, o_orderpriority, o_totalprice, cume_dist() OVER w AS cdist, nth_value(o_orderkey, 3) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC, o_orderkey ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_key FROM orders WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC, o_orderkey ASC) ORDER BY o_orderkey"),
      scaleNote = "Both functions ride the same one-shuffle-one-sort window pass as win_rank; cume_dist needs the partition row count (computed in the same pass), nth_value a bounded running frame. No extra exchange over the rest of the window family."),

    // Gaps-and-islands: per user, the longest run of CONSECUTIVE
    // active days (and the streak inventory). The classic rewrite —
    // day_number minus row_number is constant within a consecutive
    // run — turns "find maximal runs" into a plain two-level groupBy
    // with no self-join and no iteration. The engagement-streak /
    // uninterrupted-service-days query class.
    QueryDef(
      "win_streak",
      (spark, sf) => {
        val days = Tables.loadEvents(spark, sf)
          .select(col("user_id"), col("ts").cast("date").as("day"))
          .distinct()
        val w = Window.partitionBy("user_id").orderBy("day")
        days
          .withColumn("grp",
            datediff(col("day"), lit("1992-01-01").cast("date"))
              - row_number().over(w))
          .groupBy("user_id", "grp")
          .agg(count(lit(1)).as("len"))
          .groupBy("user_id")
          .agg(sum(col("len")).as("n_active_days"),
            max(col("len")).as("max_streak"),
            count(lit(1)).as("n_streaks"))
          .orderBy("user_id")
      },
      Some("WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events), " +
        "g AS (SELECT user_id, day, date_diff('day', DATE '1992-01-01', day) " +
        "- row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp FROM days), " +
        "runs AS (SELECT user_id, grp, count(*) AS len FROM g GROUP BY 1, 2) " +
        "SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days, max(len) AS max_streak, " +
        "count(*) AS n_streaks FROM runs GROUP BY user_id ORDER BY user_id"),
      scaleNote = "One shuffle on user_id serves the distinct, the " +
        "window, and both groupBys — Catalyst reuses the exchange, so " +
        "the whole operator is a single hash partition pass plus a " +
        "per-user sort that AQE sizes. State per row is one integer " +
        "subtraction; no self-join, no sequence materialization. A " +
        "pathologically hot user is bounded by |distinct days| " +
        "(≤ a few thousand rows per user after the distinct), so the " +
        "window partition can never exceed the calendar — " +
        "gaps-and-islands is naturally skew-capped, unlike raw-event " +
        "windows which need join_asof_salted's chunking."),

    // Running COUNT(DISTINCT) over a window — a thing Spark's window
    // engine refuses outright (DISTINCT window aggregates are
    // unsupported) and a naive port would fake with collect_set()
    // over an unbounded frame: O(distinct) state PER ROW, the memory
    // killer. The scalable identity: a value is new exactly when
    // row_number over (key, value) = 1, so the running distinct count
    // is a running SUM of first-occurrence flags — two window passes
    // over the SAME user_id exchange, O(1) state each. The oracle
    // runs DuckDB's NATIVE count(DISTINCT ...) OVER — a genuinely
    // independent semantic restatement.
    QueryDef(
      "win_distinct_running",
      (spark, sf) => {
        // repartition on the COARSER key first: hashpartitioning(
        // user_id) satisfies the (user_id, event_type) window's
        // clustering requirement (partition exprs ⊆ clustering keys),
        // so BOTH windows run on this one exchange — without it Spark
        // plans the flag window on (user, type) and must re-shuffle
        // to user_id for the running sum (pinned in PlanPropertiesSpec)
        val ev = Tables.loadEvents(spark, sf).repartition(col("user_id"))
        val wFirst = Window.partitionBy("user_id", "event_type")
          .orderBy("ts", "event_id")
        val wRun = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev.withColumn("is_first",
            when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
          .withColumn("n_distinct_types", sum(col("is_first")).over(wRun))
          .select("user_id", "event_id", "ts", "event_type", "n_distinct_types")
          .orderBy("user_id", "ts", "event_id")
      },
      Some("SELECT user_id, event_id, ts, event_type, count(DISTINCT event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_distinct_types FROM events ORDER BY user_id, ts, event_id"),
      scaleNote = "Both windows hash-partition on user_id — one " +
        "exchange, two sorts (the (user, type) sort for the flag, the " +
        "(user) sort for the running sum), no per-row set state " +
        "anywhere: the flag trick replaces an O(n·distinct) " +
        "collect_set frame with two O(1)-state streaming windows. " +
        "This is the standard rewrite for every 'unique items seen so " +
        "far' product metric; for merely-approximate needs at 100 TB, " +
        "swap the flag sum for an HLL sketch per bucket " +
        "(agg_hll_sketch) and merge along time instead."),

    // Moving MEDIAN over a 7-row trailing window — the robust
    // smoother monitors want where ts_ewma's mean-based smoothing
    // chases every spike (the ts_anomaly_mad argument, applied to
    // smoothing): Spark's window engine has no median, so the frame
    // is materialized per row (collect_list over ROWS BETWEEN 6
    // PRECEDING — bounded, ≤ 7 longs) and the median read off the
    // sorted array exactly. Emitted as med2 = lower middle + upper
    // middle (= 2·median) so even-width frames stay in INTEGER
    // arithmetic — the agg_median_exact discipline; DuckDB's native
    // interpolating median×2 restates it independently.
    QueryDef(
      "win_moving_median",
      (spark, sf) => {
        val daily = Analytics.dailySeries(Tables.loadEvents(spark, sf), "n")
        val w = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(-6, Window.currentRow)
        daily
          .withColumn("sa", array_sort(collect_list(col("n")).over(w)))
          .withColumn("k", size(col("sa")))
          .withColumn("med2",
            element_at(col("sa"), expr("CAST((k + 1) div 2 AS INT)")) +
              element_at(col("sa"), expr("CAST(k div 2 + 1 AS INT)")))
          .select(col("event_type"), col("day").cast("string").as("day"),
            col("n"), col("med2").as("med2_7d"))
          .orderBy("event_type", "day")
      },
      Some(s"WITH ${Analytics.dailySeriesSql("n")} " +
        "SELECT event_type, CAST(day AS VARCHAR) AS day, n, " +
        "CAST(2 * median(n) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS med2_7d " +
        "FROM daily ORDER BY event_type, day"),
      scaleNote = "The window runs on the DAILY rollup (|types|×" +
        "|days| rows — KBs at any corpus size), not raw events: the " +
        "one corpus-sized stage is the map-side-combined count " +
        "upstream. Frame materialization is O(7) per row by the ROWS " +
        "bound, so there is no quadratic frame blowup — the trap is " +
        "an UNBOUNDED frame with collect_list, which this op never " +
        "does. 2·median keeps both engines in exact integers (an " +
        "interpolated .5 would be a float-compare lottery). Wider " +
        "frames stay O(frame); a true streaming percentile at 100 TB " +
        "swaps to a t-digest/CMS sketch per bucket, merged along " +
        "time — agg_cms_sketch's machinery on the time axis."))
}
