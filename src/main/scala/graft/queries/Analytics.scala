package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{Dsl, QueryDef, QueryGroup, Tables}

/** Behavioral / layout analytics over the event stream — the product-
  * analytics queries a passenger-facing transit system (or any
  * clickstream) runs on its observation log: funnel conversion, cohort
  * retention, peak concurrency, and the Z-order data-layout key that
  * makes multi-dimension scans prunable at 100 TB.
  *
  * Reference analog: the dashboard/serving side of the ETL — per-day
  * per-station activity rollups over the passage log [P query.py,
  * notebooks — SURVEY.md §0]; funnel/retention/concurrency are the
  * same first-touch / sweep-line shapes over `events`.
  */
object Analytics extends QueryGroup {

  /** Stratified inverse-normal quantile midpoints Φ⁻¹((i+0.5)/64),
    * floor-quantized to micro-units — ab_bayes_mc's deterministic
    * posterior draw set. STATED literals (computed once offline from
    * the standard normal inverse CDF), shared verbatim by the Spark
    * plan and the oracle's VALUES table; antisymmetric by
    * construction (z_i ≈ −z_{63−i}, off by the floor). */
  val BayesZMicro: Seq[Long] = Seq(
    -2417560L, -1987428L, -1761671L, -1601009L, -1473468L, -1366204L,
    -1272699L, -1189165L, -1113195L, -1043159L, -977898L, -916557L,
    -858485L, -803173L, -750216L, -699284L, -650105L, -602450L,
    -556126L, -510966L, -466826L, -423577L, -381106L, -339312L,
    -298103L, -257394L, -217107L, -177170L, -137514L, -98073L,
    -58783L, -19585L, 19584L, 58782L, 98072L, 137513L, 177169L,
    217106L, 257393L, 298102L, 339311L, 381105L, 423576L, 466825L,
    510965L, 556125L, 602449L, 650104L, 699283L, 750215L, 803172L,
    858484L, 916556L, 977897L, 1043158L, 1113194L, 1189164L,
    1272698L, 1366203L, 1473467L, 1601008L, 1761670L, 1987427L,
    2417559L)

  /** Per-minute net session-edge deltas (m, nd, hour) — the sweep
    * line's input, shared by peak_concurrency and its densified
    * variant. Minute-grid edges: +1 when a session starts, -1 the
    * minute AFTER it ends (inclusive-end semantics; point sessions
    * stay visible in their minute). Net deltas per minute make edge
    * ordering within a minute irrelevant. */
  private def sweepNet(spark: org.apache.spark.sql.SparkSession,
      sf: String): org.apache.spark.sql.DataFrame = {
    val sess = TimeSeriesDedup.sessionBounds(Tables.loadEvents(spark, sf))
    val edges = sess
      .select(date_trunc("minute", col("st")).as("m"), lit(1L).as("d"))
      .unionAll(sess.select(
        (date_trunc("minute", col("en")) + expr("INTERVAL 1 MINUTE")).as("m"),
        lit(-1L).as("d")))
    edges.groupBy("m").agg(sum(col("d")).as("nd"))
      .withColumn("hour", date_trunc("hour", col("m")))
  }

  /** The shared sweep-line CTE prefix (sess/ed/net) in DuckDB. */
  private val SweepNetSql: String =
    "sess AS (SELECT user_id, session_id, min(ts) AS st, max(ts) AS en FROM (" +
      TimeSeriesDedup.SessionIslandsSql + ") GROUP BY 1,2), " +
      "ed AS (SELECT date_trunc('minute', st) AS m, 1 AS d FROM sess " +
      "UNION ALL SELECT date_trunc('minute', en) + INTERVAL 1 MINUTE, -1 FROM sess), " +
      "net AS (SELECT m, sum(d) AS nd FROM ed GROUP BY 1)"

  /** Z-order (Morton) interleave of two 8-bit dimensions into a 16-bit
    * key, expressed as pure integer arithmetic so the SAME formula runs
    * in Spark codegen and DuckDB. Bit b of x lands at position 2b, bit
    * b of y at 2b+1. */
  object ZOrder {
    val Bits = 8

    def zkey(x: Column, y: Column): Column =
      (0 until Bits).map { b =>
        (shiftright(x, b).bitwiseAND(lit(1L)) * lit(1L << (2 * b))) +
          (shiftright(y, b).bitwiseAND(lit(1L)) * lit(1L << (2 * b + 1)))
      }.reduce(_ + _)

    def zkeySql(x: String, y: String): String =
      (0 until Bits).map { b =>
        s"((($x >> $b) & 1) * ${1L << (2 * b)}) + ((($y >> $b) & 1) * ${1L << (2 * b + 1)})"
      }.mkString(" + ")
  }

  /** First qualifying `typ` event per user within `withinHours` after
    * that user's timestamp in `prev(prevTs)` — the funnel-step chain
    * link. Equi-join on user_id + min-aggregate; every stage reuses
    * the same user_id partitioning. */
  private def firstWithin(ev: DataFrame, typ: String, prev: DataFrame,
      prevTs: String, outTs: String, withinHours: Int): DataFrame =
    ev.filter(col("event_type") === typ).select(col("user_id"), col("ts"))
      .join(prev.select(col("user_id"), col(prevTs)), "user_id")
      .filter(col("ts") >= col(prevTs) &&
        col("ts") <= col(prevTs) + expr(s"INTERVAL $withinHours HOURS"))
      .groupBy("user_id")
      .agg(min(col("ts")).as(outTs))

  /** The daily count series `(event_type, day, <n>)`: events per type
    * per calendar day, one map-side-combined agg — the input of every
    * daily ts_* smoother, fit and test and of win_moving_median. */
  def dailySeries(ev: DataFrame, n: String): DataFrame =
    ev.groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as(n))

  /** [[dailySeries]]'s oracle CTE; the caller writes `WITH` or `WITH RECURSIVE`. */
  def dailySeriesSql(n: String): String =
    s"daily AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS $n FROM events GROUP BY 1, 2)"

  /** [[dailySeries]] plus its day index: `d0` = the type's first day, `x` =
    * whole days since it (BIGINT) — the regressor of the trend fits. */
  private def dayIndexed(daily: DataFrame): DataFrame =
    daily.withColumn("d0", min(col("day")).over(Window.partitionBy("event_type")))
      .withColumn("x", datediff(col("day"), col("d0")).cast("long"))

  /** [[dayIndexed]]'s oracle CTEs `d0` and `pts(event_type, x, y)`
    * over `daily(event_type, day, y)`. */
  private val DayIndexSql: String =
    "d0 AS (SELECT event_type, min(day) AS d0 FROM daily GROUP BY 1), " +
      "pts AS (SELECT d.event_type, CAST(date_diff('day', x.d0, d.day) AS BIGINT) AS x, y " +
      "FROM daily d JOIN d0 x ON d.event_type = x.event_type)"

  /** Floor division by 5 of a BIGINT SQL expression, spelled with pmod
    * so the floor holds for negative values too — the Holt keys'
    * α = β = γ = 1/5 step. */
  private def floorDiv5(v: String): String = s"(($v) - pmod($v, 5)) div 5"

  /** The Holt keys' level and trend steps `(l, b)` as `aggregate()`
    * lambda text over `out` (the steps so far) and `x` (the day):
    * `l = x.n·1e6` and `b = 0` on the first day, else `levelNum /₅`
    * and `((l − l') + 4b') /₅` over the previous step. */
  private def holtLevelTrend(levelNum: String): (String, String) = {
    val l = s"CASE WHEN size(out) = 0 THEN x.n * 1000000 " +
      s"ELSE ${floorDiv5(levelNum)} END"
    val b = s"($l) - element_at(out, -1).l + 4 * element_at(out, -1).b"
    (l, s"CASE WHEN size(out) = 0 THEN CAST(0 AS BIGINT) " +
      s"ELSE ${floorDiv5(b)} END")
  }

  /** The Holt keys' Spark fold: per type, the day-sorted daily counts
    * folded by one `aggregate()` that appends each day's BIGINT
    * `fields` (named lambda texts, `l` and `b` first), exploded back to
    * one row per day with the level and trend plus `more` columns. */
  private def holtFold(spark: org.apache.spark.sql.SparkSession, sf: String,
      fields: Seq[(String, String)], more: Column*): DataFrame =
    dailySeries(Tables.loadEvents(spark, sf), "n").groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("day"), col("n")))).as("xs"))
      .select(col("event_type"), explode(expr(
        "aggregate(xs, " +
          "CAST(array() AS ARRAY<STRUCT<day: DATE, n: BIGINT, " +
          fields.map(f => s"${f._1}: BIGINT").mkString(", ") + ">>), " +
          "(out, x) -> array_append(out, named_struct('day', x.day, 'n', x.n, " +
          fields.map { case (k, v) => s"'$k', $v" }.mkString(", ") + ")))")).as("h"))
      .select(Seq(col("event_type"),
        col("h.day").cast("string").as("day"), col("h.n").as("n"),
        col("h.l").as("level_micro"), col("h.b").as("trend_micro")) ++ more: _*)
      .orderBy("event_type", "day")

  /** Pearson r of the lag pairs `(n, prev)` per `keys` group — `k`
    * pairs, every moment an exact BIGINT sum, the double touching only
    * the final (num, var_a, var_b) triple; a zero-variance side gives
    * NULL. Emits `keys, k, <r>` ordered by `keys`. */
  private def lagPearson(pairs: DataFrame, r: String, keys: String*): DataFrame = {
    val g = pairs.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("k"),
        sum(col("n")).as("sx"), sum(col("prev")).as("sy"),
        sum(col("n") * col("prev")).as("sxy"),
        sum(col("n") * col("n")).as("sxx"),
        sum(col("prev") * col("prev")).as("syy"))
    val va = (col("k") * col("sxx") - col("sx") * col("sx")).cast("double")
    val vb = (col("k") * col("syy") - col("sy") * col("sy")).cast("double")
    val num = (col("k") * col("sxy") - col("sx") * col("sy")).cast("double")
    g.select(keys.map(col) :+ col("k") :+
        when(va > 0 && vb > 0, round(num / sqrt(va * vb), 4)).as(r): _*)
      .orderBy(keys.map(col): _*)
  }

  /** [[lagPearson]]'s oracle tail over a CTE `p(keys…, n, prev)`. */
  private def lagPearsonSql(r: String, keys: String*): String = {
    val ks = keys.mkString(", ")
    s"g AS (SELECT $ks, count(*) AS k, CAST(sum(n) AS BIGINT) AS sx, CAST(sum(prev) AS BIGINT) AS sy, " +
      "CAST(sum(n*prev) AS BIGINT) AS sxy, CAST(sum(n*n) AS BIGINT) AS sxx, CAST(sum(prev*prev) AS BIGINT) AS syy " +
      s"FROM p WHERE prev IS NOT NULL GROUP BY ${keys.indices.map(_ + 1).mkString(", ")}) " +
      s"SELECT $ks, k, CASE WHEN k*sxx - sx*sx > 0 AND k*syy - sy*sy > 0 " +
      "THEN round(CAST(k*sxy - sx*sy AS DOUBLE) / sqrt(CAST(k*sxx - sx*sx AS DOUBLE) * CAST(k*syy - sy*sy AS DOUBLE)), 4) " +
      s"END AS $r FROM g ORDER BY $ks"
  }

  /** The moment triple `(n, sv, svv)` = count, Σv, Σv² of an integer
    * metric `v`: associative BIGINT sums, bit-stable on any
    * partitioning — what every mean-metric A/B readout composes from. */
  private val VMoments: Seq[Column] = Seq(count(lit(1)).as("n"),
    sum(col("v")).as("sv"), sum(col("v") * col("v")).as("svv"))
  private val VMomentsSql: String =
    "count(*) AS n, CAST(sum(v) AS BIGINT) AS sv, CAST(sum(v*v) AS BIGINT) AS svv"

  /** Per-arm purchase moments `(variant, n, sv, svv)`: arm = user_id
    * % 2, v = the purchase value in whole cents. Batch readouts pivot
    * it with [[twoArms]]; `Streams.powerMoments` is this aggregate
    * over the stream. */
  def armMoments(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "purchase")
      .select((col("user_id") % 2).as("variant"),
        floor(col("value") * 100).cast("long").as("v"))
      .groupBy("variant").agg(VMoments.head, VMoments.tail: _*)

  /** ab_bootstrap_ci's base rows `(event_id, v)`: each purchase with its
    * value in whole cents. */
  def purchaseCents(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id"),
        floor(col("value") * 100).cast("long").as("v"))

  /** The B = 64 Poisson-bootstrap resamples `(b, swv, sw, m_micro)` of
    * [[purchaseCents]] rows, drawn as ab_bootstrap_ci's comment states;
    * ab_bootstrap_ci ranks these means, and `Streams.bootstrapMeans` is
    * this aggregate over the stream. */
  def poissonMeans(base: DataFrame): DataFrame = {
    val u16 = conv(substring(md5(concat(lit("graftb:"),
      col("event_id").cast("string"), lit(":"),
      col("b").cast("string"))), 1, 4), 16, 10).cast("long")
    val weight = when(col("u16") < 24109, 0L)
      .when(col("u16") < 48218, 1L).when(col("u16") < 60273, 2L)
      .when(col("u16") < 64291, 3L).when(col("u16") < 65296, 4L)
      .when(col("u16") < 65497, 5L).when(col("u16") < 65530, 6L)
      .otherwise(7L)
    base
      .withColumn("b", explode(sequence(lit(0L), lit(63L))))
      .withColumn("u16", u16)
      .withColumn("w", weight)
      .groupBy("b")
      .agg(sum(col("w") * col("v")).as("swv"), sum(col("w")).as("sw"))
      .withColumn("m_micro", expr("(swv * 1000000) div sw"))
  }

  /** ts_cusum's per-(feed, day) counter `(event_type, day, n)`, the
    * day a `date_trunc` timestamp; `Streams.cusumDaily` is this
    * aggregate over the stream. */
  def cusumCounts(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))

  /** [[twoArms]]'s cells (variant, moment, column): variant 0's
    * moments get suffix 1, variant 1's suffix 2. */
  private val ArmCells: Seq[(Int, String, String)] = for {
    (v, i) <- Seq(0 -> 1, 1 -> 2); m <- Seq("n", "sv", "svv")
  } yield (v, m, s"$m$i")

  /** [[armMoments]] on one row: `n1, sv1, svv1, n2, sv2, svv2`. */
  private def twoArms(ev: DataFrame): DataFrame = {
    val cells = ArmCells.map { case (v, m, c) =>
      sum(when(col("variant") === v, col(m))).as(c)
    }
    armMoments(ev).agg(cells.head, cells.tail: _*)
  }

  /** [[twoArms]]'s oracle CTEs `ev`, `per` and `one`. */
  private val TwoArmsSql: String =
    "ev AS (SELECT user_id % 2 AS variant, CAST(floor(value*100) AS BIGINT) AS v FROM events WHERE event_type = 'purchase'), " +
      s"per AS (SELECT variant, $VMomentsSql FROM ev GROUP BY 1), " +
      "one AS (SELECT " + ArmCells.map { case (v, m, c) =>
        s"CAST(sum(CASE WHEN variant = $v THEN $m END) AS BIGINT) AS $c"
      }.mkString(", ") + " FROM per)"

  /** Exposure: each user's first view `t0`, plus the caller's arm
    * column `<arm>` = user_id % `k`. */
  private def exposed(ev: DataFrame, arm: String, k: Int): DataFrame =
    ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
      .withColumn(arm, col("user_id") % k)

  /** [[exposed]]'s oracle CTE `exposed(user_id, t0, <arm>)`. */
  private def exposedSql(arm: String, k: Int): String =
    s"exposed AS (SELECT user_id, min(ts) AS t0, user_id % $k AS $arm FROM events WHERE event_type = 'view' GROUP BY user_id)"

  /** Per arm `(<arm>, n, x)`: n exposed users, x of them converted — a
    * purchase within 24 h of exposure (the windowed contract
    * funnel_steps uses — an unwindowed "ever purchased" saturates to
    * rate 1.0 on any long-lived user base and degenerates the test:
    * se = 0). */
  private def conversions(ev: DataFrame, arm: String, k: Int): DataFrame = {
    val ex = exposed(ev, arm, k)
    val conv = ev.filter(col("event_type") === "purchase")
      .join(ex.select("user_id", "t0"), Seq("user_id"))
      .filter(col("ts") >= col("t0") &&
        col("ts") <= col("t0") + expr("INTERVAL 24 HOUR"))
      .select(col("user_id")).distinct().withColumn("c", lit(1L))
    ex.join(conv, Seq("user_id"), "left")
      .groupBy(arm)
      .agg(count(lit(1)).as("n"),
        sum(coalesce(col("c"), lit(0L))).as("x"))
  }

  /** [[conversions]]' oracle CTEs `exposed`, `conv` and `per`. */
  private def conversionsSql(arm: String, k: Int): String =
    exposedSql(arm, k) + ", " +
      "conv AS (SELECT DISTINCT p.user_id FROM events p JOIN exposed e ON p.user_id = e.user_id " +
      "AND p.ts >= e.t0 AND p.ts <= e.t0 + INTERVAL 24 HOUR WHERE p.event_type = 'purchase'), " +
      s"per AS (SELECT e.$arm, count(*) AS n, CAST(sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS x " +
      "FROM exposed e LEFT JOIN conv c ON e.user_id = c.user_id GROUP BY 1)"

  /** 4-bit popcount of the coalition bitmask `cset`, written as
    * portable arithmetic (Spark div / DuckDB // on the same shifts)
    * so both engines count identically — attribution_shapley's
    * weight selector. */
  val PopCountSql: String = "((cset & 1) + ((cset div 2) & 1) + ((cset div 4) & 1) + ((cset div 8) & 1))"
  val PopCountSqlDuck: String = "((cset & 1) + ((cset // 2) & 1) + ((cset // 4) & 1) + ((cset // 8) & 1))"

  /** Shared survival machinery (surv_kaplan_meier / surv_nelson_aalen):
    * subject = a user's first signup, event = first qualifying
    * purchase (value ≥ 100, stated policy) at or after it, duration in
    * exact integer hours, right-censored at the stream watermark.
    * Returns the risk grid (dur_h, d, c, n_risk) with the
    * deaths-before-censoring tie rule. */
  private def survDurations(spark: org.apache.spark.sql.SparkSession,
      sf: String): DataFrame = {
    val ev = Tables.loadEvents(spark, sf)
    val wm = ev.agg(max(col("ts")).as("wm"))
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("t0"))
    val pu = ev
      .filter(col("event_type") === "purchase" && col("value") >= 100.0)
      .select(col("user_id").as("p_user"), col("ts").as("pts"))
    val conv = su
      .join(pu, col("user_id") === col("p_user") && col("pts") >= col("t0"),
        "left")
      .groupBy(col("user_id"), col("t0"))
      .agg(min(col("pts")).as("t1"))
    conv.crossJoin(broadcast(wm))
      .select(col("user_id"),
        when(col("t1").isNotNull, 1L).otherwise(0L).as("ev"),
        expr("(unix_micros(cast(coalesce(t1, wm) as timestamp)) - " +
          "unix_micros(cast(t0 as timestamp))) div 3600000000")
          .as("dur_h"))
  }

  private def survRiskGrid(spark: org.apache.spark.sql.SparkSession,
      sf: String): DataFrame = {
    val durs = survDurations(spark, sf)
    val grid = durs.groupBy("dur_h")
      .agg(sum(col("ev")).as("d"),
        sum(lit(1L) - col("ev")).as("c"))
    val wseq = Window.orderBy("dur_h")
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = grid.agg(sum(col("d") + col("c")).as("n_sub"))
    grid.crossJoin(broadcast(tot))
      .withColumn("n_risk",
        col("n_sub") - sum(col("d") + col("c")).over(wseq)
          + col("d") + col("c"))
  }

  /** The oracle-side risk grid: CTEs su → wm → cv → du → g → t → r,
    * ending in r(dur_h, d, c, n_risk) — shared verbatim by both
    * survival oracles. */
  private val SurvSqlCtes: String =
    "su AS (SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = 'signup' GROUP BY 1), " +
      "wm AS (SELECT max(ts) AS wm FROM events), " +
      "cv AS (SELECT su.user_id, su.t0, min(e.ts) AS t1 FROM su LEFT JOIN events e ON e.user_id = su.user_id AND e.event_type = 'purchase' AND e.value >= 100 AND e.ts >= su.t0 GROUP BY 1, 2), " +
      "du AS (SELECT user_id, CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS ev, (epoch_us(COALESCE(t1, wm)) - epoch_us(t0)) // 3600000000 AS dur_h FROM cv CROSS JOIN wm), " +
      "g AS (SELECT dur_h, CAST(sum(ev) AS BIGINT) AS d, CAST(sum(1 - ev) AS BIGINT) AS c FROM du GROUP BY 1), " +
      "t AS (SELECT CAST(sum(d + c) AS BIGINT) AS n_sub FROM g), " +
      "r AS (SELECT g.*, n_sub - CAST(sum(d + c) OVER win AS BIGINT) + d + c AS n_risk FROM g CROSS JOIN t WINDOW win AS (ORDER BY dur_h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"

  def defs: Seq[QueryDef] = Seq(

    // Ordered-sequence funnel: view → click → purchase, each step the
    // FIRST qualifying event within 24h of the previous step's time.
    // First-touch attribution made deterministic (min over ts), the
    // conversion report every clickstream pipeline ships.
    QueryDef(
      "funnel_steps",
      (spark, sf) => {
        val ev = Tables.loadEvents(spark, sf)
        val t1 = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts")).as("ts1"))
        val t2 = firstWithin(ev, "click", t1, "ts1", "ts2", 24)
        val t3 = firstWithin(ev, "purchase", t2, "ts2", "ts3", 24)
        def cnt(df: DataFrame, step: Int, stage: String) =
          df.agg(count(lit(1)).as("n_users"))
            .select(lit(step).as("step"), lit(stage).as("stage"), col("n_users"))
        cnt(t1, 1, "view").unionByName(cnt(t2, 2, "click"))
          .unionByName(cnt(t3, 3, "purchase"))
          .orderBy("step")
      },
      Some("WITH t1 AS (SELECT user_id, min(ts) AS ts1 FROM events WHERE event_type='view' GROUP BY 1), t2 AS (SELECT e.user_id, min(e.ts) AS ts2 FROM events e JOIN t1 ON e.user_id=t1.user_id AND e.ts >= t1.ts1 AND e.ts <= t1.ts1 + INTERVAL 24 HOUR WHERE e.event_type='click' GROUP BY 1), t3 AS (SELECT e.user_id, min(e.ts) AS ts3 FROM events e JOIN t2 ON e.user_id=t2.user_id AND e.ts >= t2.ts2 AND e.ts <= t2.ts2 + INTERVAL 24 HOUR WHERE e.event_type='purchase' GROUP BY 1) SELECT 1 AS step, 'view' AS stage, count(*) AS n_users FROM t1 UNION ALL SELECT 2, 'click', count(*) FROM t2 UNION ALL SELECT 3, 'purchase', count(*) FROM t3 ORDER BY step"),
      scaleNote = "Each stage is an equi-join on user_id plus a min-aggregate, and every stage shuffles on the SAME key — one user_id partitioning serves the whole chain, and stage tables shrink monotonically (step N's output is step N+1's small side, broadcastable once conversion bites). The time bound is a residual predicate, never a join key. At 100 TB the event log is date-partitioned, so the first-touch scan prunes to the funnel horizon; a k-step funnel is k-1 such joins, not a per-user sort of the full log."),

    // Cohort retention: users grouped by first-seen day, distinct
    // activity counted per (cohort, day-offset) — the engagement decay
    // matrix behind every retention chart.
    QueryDef(
      "retention_cohort",
      (spark, sf) => {
        val ev = Tables.loadEvents(spark, sf)
        val c = ev.groupBy("user_id")
          .agg(date_trunc("day", min(col("ts"))).as("cohort"))
        ev.select(col("user_id"), date_trunc("day", col("ts")).as("day"))
          .join(c, "user_id")
          .groupBy(col("cohort"),
            datediff(col("day"), col("cohort")).cast("long").as("day_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("cohort", "day_offset")
      },
      Some("WITH c AS (SELECT user_id, date_trunc('day', min(ts)) AS cohort FROM events GROUP BY 1) SELECT CAST(c.cohort AS TIMESTAMP) AS cohort, date_diff('day', c.cohort, date_trunc('day', e.ts)) AS day_offset, count(DISTINCT e.user_id) AS n_users FROM events e JOIN c ON e.user_id = c.user_id GROUP BY 1,2 ORDER BY 1,2"),
      scaleNote = "The cohort table is |users| rows (a dimension, broadcastable or bucketed on user_id alongside the log), and the join back is equi on user_id — the same exchange the cohort aggregate just produced, so AQE reuses it. The distinct-count shuffles (cohort, offset, user) partials; at 100 TB swap countDistinct for an HLL sketch per cell — retention_cohort_approx IS that swap, measured sub-linear in SCALING.md."),

    // Sketch-backed retention matrix: the scale remedy retention_
    // cohort's own scaleNote prescribes, demonstrated as a declared
    // operator. Each cell carries the HLL++ estimate next to the exact
    // distinct; the EMITTED columns are the exact count (hash-checked)
    // plus a Spark-computed tolerance verdict the oracle states as
    // TRUE (agg_approx_hll's pattern) — production drops the exact
    // column and reads the estimate alone.
    QueryDef(
      "retention_cohort_approx",
      (spark, sf) => {
        val ev = Tables.loadEvents(spark, sf)
        val c = ev.groupBy("user_id")
          .agg(date_trunc("day", min(col("ts"))).as("cohort"))
        ev.select(col("user_id"), date_trunc("day", col("ts")).as("day"))
          .join(c, "user_id")
          .groupBy(col("cohort"),
            datediff(col("day"), col("cohort")).cast("long").as("day_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"),
            approx_count_distinct(col("user_id"), 0.02).as("est"))
          // 2 + 10% absolute+relative band: rsd 0.02 gives σ≈2% per
          // cell, and the matrix has HUNDREDS of cells — a pure-2.5σ
          // band would flip a tail cell spuriously; a broken sketch
          // misses by far more than 10%. Small cells sit in HLL++'s
          // exact sparse mode, covered by the +2 term.
          .select(col("cohort"), col("day_offset"), col("n_users"),
            (abs(col("est") - col("n_users")).cast("double") <=
              lit(2.0) + lit(0.10) * col("n_users")).as("est_in_tol"))
          .orderBy("cohort", "day_offset")
      },
      Some("WITH c AS (SELECT user_id, date_trunc('day', min(ts)) AS cohort FROM events GROUP BY 1) SELECT CAST(c.cohort AS TIMESTAMP) AS cohort, date_diff('day', c.cohort, date_trunc('day', e.ts)) AS day_offset, count(DISTINCT e.user_id) AS n_users, TRUE AS est_in_tol FROM events e JOIN c ON e.user_id = c.user_id GROUP BY 1,2 ORDER BY 1,2"),
      scaleNote = "The sketch path is what ships at 100 TB: per-cell HLL partials are FIXED-SIZE (KB) regardless of user count, merge associatively map-side, and the matrix costs one pass — where exact countDistinct shuffles every (cohort, offset, user) triple and carries the worst measured 100×-data slope in SCALING.md (3.8×). The exact column here exists ONLY to oracle the tolerance verdict at test scale; persisting the sketches additionally makes any cohort re-slice a sketch-union, not a rescan (agg_hll_sketch's cube pattern)."),

    // Peak concurrency: 30-min-gap sessions (shared ts_session
    // definition) → sweep line over ±1 session edges → per-hour max of
    // the running active-session count. 'How many trains are on the
    // network right now', computed scalably.
    //
    // CONTRACT: the timeline has a row only for hours containing at
    // least one session start/end EDGE. An hour inside a long session
    // with no edge emits no row even though concurrency is nonzero
    // throughout (its peak equals the carried prefix at the next
    // emitted hour, so no information is lost). Both engines share the
    // contract, so the oracle is edge-hour-aligned by construction; a
    // dense per-hour timeline is one ts_resample-style grid gap-fill
    // away (emit the carried `offset` for edge-free hours).
    QueryDef(
      "peak_concurrency",
      (spark, sf) => {
        val net = sweepNet(spark, sf)
        // two-phase distributed prefix sum (pack_sequences' shape):
        // per-hour subtotals, a cumsum over the tiny |hours| table,
        // then hour-local running sums shifted by the offsets — the
        // global sweep line without a single-partition window.
        val subtot = net.groupBy("hour").agg(sum(col("nd")).as("h_nd"))
        val offsets = subtot.withColumn("offset",
          coalesce(sum(col("h_nd")).over(
            Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
          .select("hour", "offset")
        val wHour = Window.partitionBy("hour").orderBy("m")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // true hourly peak: the carried-in plateau (concurrency at hour
        // start = the hour's prefix-sum offset) can exceed every value
        // at this hour's own edges when the first edge is a departure
        net.join(broadcast(offsets), "hour")
          .withColumn("conc", col("offset") + sum(col("nd")).over(wHour))
          .groupBy("hour")
          .agg(max(col("conc")).as("edge_peak"), max(col("offset")).as("carried"))
          .select(col("hour"),
            greatest(col("edge_peak"), col("carried")).as("peak"))
          .orderBy("hour")
      },
      Some(s"WITH $SweepNetSql, run AS (SELECT m, date_trunc('hour', m) AS hour, sum(nd) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING) AS conc FROM net), hr AS (SELECT hour, max(conc) AS edge_peak, arg_max(conc, m) AS final_conc FROM run GROUP BY 1) SELECT CAST(hour AS TIMESTAMP) AS hour, CAST(greatest(edge_peak, coalesce(lag(final_conc) OVER (ORDER BY hour), 0)) AS BIGINT) AS peak FROM hr ORDER BY hour"),
      scaleNote = "The sweep line compresses sessions to ±1 edges, net-aggregated per minute — wire volume is |active minutes|, not |events| — and the global running sum is the two-phase distributed prefix sum (per-hour subtotals, a |hours|-row cumsum, hour-local windows + broadcast offsets), so no single task ever sees the corpus. The naive formulation (one ORDER BY window over all edges) funnels everything through one partition; this plan's only unpartitioned window is over the bounded hour table, same as pack_sequences. Declared contract: rows exist only for hours WITH edges — an edge-free hour inside a long session is elided (its constant concurrency is the next emitted hour's carried offset); peak_concurrency_dense is the implemented gapless variant."),

    // The gapless timeline peak_concurrency's contract note promises:
    // every hour from the first edge to the last emits a row; an
    // edge-free hour inside a long session emits its carried (and
    // constant) concurrency. Same sweep line + the ts_resample grid.
    QueryDef(
      "peak_concurrency_dense",
      (spark, sf) => {
        val net = sweepNet(spark, sf)
        val subtot = net.groupBy("hour").agg(sum(col("nd")).as("h_nd"))
        val hb = net.agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
        val grid = hb.select(explode(sequence(col("h0"), col("h1"),
          expr("interval 1 hour"))).as("hour"))
        // offset = concurrency at hour START for EVERY grid hour —
        // the cumsum runs over the bounded |hours| grid (0-filled for
        // edge-free hours), pack_sequences' single-partition class
        val gridOff = grid.join(subtot, Seq("hour"), "left")
          .withColumn("offset", coalesce(sum(coalesce(col("h_nd"), lit(0L)))
            .over(Window.orderBy("hour")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("hour", "offset")
        val wHour = Window.partitionBy("hour").orderBy("m")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val edgePeak = net.join(broadcast(gridOff), "hour")
          .withColumn("conc", col("offset") + sum(col("nd")).over(wHour))
          .groupBy("hour").agg(max(col("conc")).as("edge_peak"))
        gridOff.join(edgePeak, Seq("hour"), "left")
          .select(col("hour"),
            greatest(coalesce(col("edge_peak"), col("offset")), col("offset"))
              .as("peak"))
          .orderBy("hour")
      },
      Some(s"WITH $SweepNetSql, " +
        "run AS (SELECT m, date_trunc('hour', m) AS hour, sum(nd) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING) AS conc FROM net), " +
        "hr AS (SELECT hour, max(conc) AS edge_peak, arg_max(conc, m) AS final_conc FROM run GROUP BY 1), " +
        "hb AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM hr), " +
        "g AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM hb), " +
        "j AS (SELECT g.hour, hr.edge_peak, hr.final_conc FROM g LEFT JOIN hr USING (hour)), " +
        "f AS (SELECT hour, edge_peak, coalesce(last_value(final_conc IGNORE NULLS) OVER (ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS carried FROM j) " +
        "SELECT CAST(hour AS TIMESTAMP) AS hour, CAST(greatest(coalesce(edge_peak, carried), carried) AS BIGINT) AS peak FROM f ORDER BY hour"),
      scaleNote = "Identical distributed shape to peak_concurrency " +
        "plus the resample grid: grid size is |hours| — independent " +
        "of event count — so the gap fill adds one bounded explode " +
        "and one |hours|-row cumsum (the same single-partition class " +
        "as pack_sequences' offsets, pinned there). Edge hours reuse " +
        "the hour-local windows; edge-free hours are pure grid rows " +
        "carrying the offset, zero per-event cost. The dense timeline " +
        "is what a monitoring dashboard joins against — emitting it " +
        "here keeps that join an equi merge instead of an as-of."),

    // Rolling z-score anomaly detection over hourly event counts —
    // the monitoring pass a delay pipeline runs on its own output
    // (sudden spikes/droughts in observations). The trailing-24h
    // Mean-shift changepoint detector over the hourly timeline: for
    // each boundary hour, compare the trailing-24h window [-24,-1]
    // against the leading-24h window [0,+23] — both bounded frames
    // over the |hours| rollup. Complements ts_anomaly (a z-score
    // flags one outlier hour; a LEVEL shift moves the mean and stays
    // moved — regime change, schedule change, pipeline breakage).
    // Pure integer: window sums are exact, the relative shift is a
    // floor micro-ratio, detection is an integer cross-multiply.
    QueryDef(
      "ts_changepoint",
      // r8→r9 ledger-drift A/B (house 014b6a3 procedure): the r7→r8
      // in-ledger move 0.155 → 0.245 s (1.58×) adjudicated against
      // the r7 tree (3a93f49) in a scratch worktree, interleaved
      // BenchOne at sf0.1 — r7 warm 0.67/0.52/0.51 s vs current
      // 0.52/0.54 s: identical within noise (the operator's code did
      // not change in r8; the only touched shared file was the SQL
      // function registry). Verdict: box drift, no action.
      (spark, sf) => {
        val h = Tables.loadEvents(spark, sf)
          .groupBy(date_trunc("hour", col("ts")).as("bucket"))
          .agg(count(lit(1)).as("n"))
        val wl = Window.orderBy("bucket").rowsBetween(-24, -1)
        val wr = Window.orderBy("bucket").rowsBetween(0, 23)
        h.withColumn("s_left", sum(col("n")).over(wl))
          .withColumn("k_left", count(lit(1)).over(wl))
          .withColumn("s_right", sum(col("n")).over(wr))
          .withColumn("k_right", count(lit(1)).over(wr))
          .filter(col("k_left") === 24 && col("k_right") === 24)
          .withColumn("shift_micro",
            expr("((s_right - s_left) * 1000000) div greatest(s_left, 1)"))
          // |s_r − s_l| · 4 > s_l  ⇔  relative shift > 25%
          .withColumn("is_shift",
            abs(col("s_right") - col("s_left")) * 4 > col("s_left"))
          .select(col("bucket"), col("n"), col("s_left"), col("s_right"),
            col("shift_micro"), col("is_shift"))
          .orderBy("bucket")
      },
      Some("WITH h AS (SELECT date_trunc('hour', ts) AS bucket, count(*) AS n FROM events GROUP BY 1), " +
        "w AS (SELECT bucket, n, sum(n) OVER (ORDER BY bucket ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS s_left, " +
        "count(*) OVER (ORDER BY bucket ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS k_left, " +
        "sum(n) OVER (ORDER BY bucket ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING) AS s_right, " +
        "count(*) OVER (ORDER BY bucket ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING) AS k_right FROM h) " +
        "SELECT CAST(bucket AS TIMESTAMP) AS bucket, n, CAST(s_left AS BIGINT) AS s_left, " +
        "CAST(s_right AS BIGINT) AS s_right, " +
        "CAST(((s_right - s_left) * 1000000) // greatest(s_left, 1) AS BIGINT) AS shift_micro, " +
        "(abs(s_right - s_left) * 4 > s_left) AS is_shift " +
        "FROM w WHERE k_left = 24 AND k_right = 24 ORDER BY bucket"),
      scaleNote = "Same scale shape as ts_anomaly: the event stream " +
        "collapses to |hours| rows before any window, both frames " +
        "are bounded (24 rows), so at a long timeline the window " +
        "shards by time range with a 24-hour halo on each side — " +
        "bounded-frame windows partition with replication instead of " +
        "a global sort. Integer sums and floor micro-ratios make the " +
        "verdict bit-identical on any layout; the 25% threshold is " +
        "an integer cross-multiply, never a float compare. CUSUM (the " +
        "sequential-recursive detector) is the documented alternative " +
        "when single-hour sensitivity matters — it needs a stateful " +
        "scan (stream_anomaly's fold), not a window."),

    // mean/std come from exact INTEGER window sums (s, ss), so the
    // one float division and sqrt see identical inputs on both
    // engines; zero-variance windows emit NULL z instead of ±inf.
    QueryDef(
      "ts_anomaly",
      (spark, sf) => {
        val h = Tables.loadEvents(spark, sf)
          .groupBy(date_trunc("hour", col("ts")).as("bucket"))
          .agg(count(lit(1)).as("n"))
        val win = Window.orderBy("bucket").rowsBetween(-24, -1)
        val mean = col("s").cast("double") / 24
        val variance = (col("ss").cast("double") -
          col("s").cast("double") * col("s").cast("double") / 24) / 24
        h.withColumn("s", sum(col("n")).over(win))
          .withColumn("ss", sum(col("n") * col("n")).over(win))
          .withColumn("k", count(lit(1)).over(win))
          .filter(col("k") === 24)
          .select(col("bucket"), col("n"),
            when(variance > 0,
              round((col("n").cast("double") - mean) / sqrt(variance), 4))
              .as("z"),
            (variance > 0 &&
              abs(col("n").cast("double") - mean) > lit(3) * sqrt(variance))
              .as("is_anomaly"))
          .orderBy("bucket")
      },
      Some("WITH h AS (SELECT date_trunc('hour', ts) AS bucket, count(*) AS n FROM events GROUP BY 1), w AS (SELECT bucket, n, sum(n) OVER win AS s, sum(n*n) OVER win AS ss, count(*) OVER win AS k FROM h WINDOW win AS (ORDER BY bucket ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)), v AS (SELECT bucket, n, CAST(n AS DOUBLE) - CAST(s AS DOUBLE)/24 AS dev, (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/24)/24 AS var FROM w WHERE k = 24) SELECT CAST(bucket AS TIMESTAMP) AS bucket, n, CASE WHEN var > 0 THEN round(dev / sqrt(var), 4) END AS z, (var > 0 AND abs(dev) > 3 * sqrt(var)) AS is_anomaly FROM v ORDER BY bucket"),
      scaleNote = "The hourly rollup collapses the event stream to |hours| rows before any window touches it — the window input is timeline-sized, not data-sized, at any corpus scale. The trailing frame is bounded (24 rows), so at a long timeline the window shards by time range with a 24-hour halo (each shard also reads the previous day's buckets) — bounded-frame windows are the one window class that partitions with replication instead of a global sort. Integer s/ss sums make the float z bit-identical on any layout; thresholding is a comparison, never a sort key."),

    // Z-order layout key: Morton-interleave (l_partkey, l_orderkey)
    // low bytes into one clustering key. Sorting/range-partitioning the
    // write by zkey bounds BOTH dimensions per file, so parquet min/max
    // stats prune scans filtering on EITHER column — the multi-
    // dimensional data-layout lever (AnalyticsSpec measures the span
    // contraction vs a single-column sort).
    QueryDef(
      "layout_zorder",
      (spark, sf) =>
        Tables.lineitem(spark, sf)
          .select(col("l_orderkey"), col("l_linenumber"),
            (col("l_partkey") % 256).as("x"), (col("l_orderkey") % 256).as("y"))
          .withColumn("zkey", ZOrder.zkey(col("x"), col("y")))
          .orderBy("l_orderkey", "l_linenumber"),
      Some(s"SELECT l_orderkey, l_linenumber, x, y, ${ZOrder.zkeySql("x", "y")} AS zkey FROM (SELECT l_orderkey, l_linenumber, l_partkey % 256 AS x, l_orderkey % 256 AS y FROM lineitem) ORDER BY l_orderkey, l_linenumber"),
      scaleNote = "The key itself is map-only codegen integer math — zero shuffle to compute. Its value is at WRITE time: repartitionByRange(zkey) + sortWithinPartitions(zkey) gives every file a small axis-aligned rectangle of (x,y) space, so min/max row-group stats prune scans on either dimension (a single-column sort leaves the other dimension's span at full width — measured 3-4× span contraction in AnalyticsSpec). At 100 TB this replaces one-dimension partition pruning with multi-dimension file skipping; widen to k dims by interleaving k bit streams."),

    // Exponentially-weighted moving average over the daily event-count
    // series, per event_type — the smoothing stage monitoring stacks
    // run before thresholding (pairs with ts_anomaly's z-score: EWMA
    // tracks level, z-score flags deviation). A true recursive EWMA is
    // order-sequential; the distributed form truncates the tail to 8
    // halving INTEGER weights (2^7 … 2^0, >99% of the mass), so the
    // numerator/denominator are exact BIGINTs from window lags and the
    // single final division is the only float op — deterministic on
    // any partitioning, and the warm-up rows renormalize over the
    // weights actually present instead of emitting NULL.
    QueryDef(
      "ts_ewma",
      (spark, sf) => {
        val daily = dailySeries(Tables.loadEvents(spark, sf), "n")
        val w = Window.partitionBy("event_type").orderBy("day")
        val terms = (0 to 7).map { k =>
          val x = if (k == 0) col("n") else lag(col("n"), k).over(w)
          val wgt = 1L << (7 - k)
          (coalesce(x, lit(0L)) * wgt,
            when(x.isNotNull, lit(wgt)).otherwise(lit(0L)))
        }
        val num = terms.map(_._1).reduce(_ + _)
        val den = terms.map(_._2).reduce(_ + _)
        daily
          .withColumn("ewma", round(num.cast("double") / den, 4))
          .select(col("event_type"), col("day").cast("string").as("day"),
            col("n"), col("ewma"))
          .orderBy("event_type", "day")
      },
      Some {
        val lagDefs = (1 to 7).map(k => s"lag(n,$k) OVER w AS l$k").mkString(", ")
        val numSql = "n*128 + " +
          (1 to 7).map(k => s"coalesce(l$k,0)*${1L << (7 - k)}").mkString(" + ")
        val denSql = "128 + " +
          (1 to 7).map(k => s"(CASE WHEN l$k IS NULL THEN 0 ELSE ${1L << (7 - k)} END)")
            .mkString(" + ")
        s"WITH ${dailySeriesSql("n")}, " +
          s"l AS (SELECT event_type, day, n, $lagDefs FROM daily " +
          "WINDOW w AS (PARTITION BY event_type ORDER BY day)) " +
          s"SELECT event_type, CAST(day AS VARCHAR) AS day, n, round(CAST($numSql AS DOUBLE) / ($denSql), 4) AS ewma " +
          "FROM l ORDER BY event_type, day"
      },
      scaleNote = "The raw log collapses to |types|×|days| rows in one " +
        "map-side-combined agg; the lag window runs over that tiny " +
        "grid on the same event_type exchange — at 100 TB the window " +
        "input is calendar-bounded (years × types), never event-" +
        "bounded. The halving-weight truncation is what makes the op " +
        "distributable AND deterministic: the recursive form " +
        "s_t = αx_t + (1−α)s_{t−1} has an unbounded data dependency " +
        "chain (inherently serial per key), while the 8-term window " +
        "needs only bounded lags, runs in one pass, and its integer " +
        "arithmetic is partitioning-independent. Streaming twin: a " +
        "trailing-8 ring buffer per key in mapGroupsWithState " +
        "(stream_anomaly's O(constant) state pattern)."),

    // Lag-1 autocorrelation of the daily event-count series per type
    // — the monitoring primitive that separates trending/periodic
    // load from white noise (r ≈ 0) before an anomaly detector is
    // tuned against it. Pearson r over (n_t, n_{t-1}) pairs with
    // every moment sum kept in exact BIGINT; the float sees only the
    // final (num, var_a, var_b) triple, so the result is identical
    // on any partitioning. Zero-variance series (constant counts)
    // emit NULL instead of ±inf/NaN.
    QueryDef(
      "ts_autocorr",
      (spark, sf) => {
        val daily = dailySeries(Tables.loadEvents(spark, sf), "n")
        val w = Window.partitionBy("event_type").orderBy("day")
        lagPearson(daily
          .withColumn("prev", lag(col("n"), 1).over(w))
          .filter(col("prev").isNotNull), "r1", "event_type")
      },
      Some(s"WITH ${dailySeriesSql("n")}, " +
        "p AS (SELECT event_type, n, lag(n, 1) OVER (PARTITION BY event_type ORDER BY day) AS prev FROM daily), " +
        lagPearsonSql("r1", "event_type")),
      scaleNote = "The raw log collapses to |types|×|days| rows in one " +
        "map-side-combined agg; the lag window and the moment sums " +
        "ride the SAME event_type exchange (one shuffle total), and " +
        "the window input is calendar-bounded, never event-bounded. " +
        "BIGINT moment sums are associative — at a decade × 1M-events/" +
        "day timeline switch sx/sxx to DECIMAL(38,0) partials (same " +
        "plan, wider cells). Lag-k generalizes by adding lag columns " +
        "over the same window pass; the seasonal twin at lag 7 is " +
        "what ts_seasonal_dow reads directly off the calendar."),

    // Full autocorrelation function, lags 1..7 (r10) — the
    // generalization ts_autocorr's scaleNote promises, delivered:
    // SEVEN lag columns ride ONE window pass over the collapsed
    // daily table, a stack unpivots them to (lag, prev) pairs, and
    // the same exact-BIGINT moment sums give Pearson r per (type,
    // lag). The shape of this table IS the diagnosis: r decaying
    // smoothly = trend (difference before alarming), a spike at
    // lag 7 = weekly seasonality (hand the series to ts_holt_winters
    // / ts_decompose), all-near-zero = white noise (plain z-scores
    // suffice). Each lag's pair count shrinks by one row per series
    // (k = days − lag), measured per row.
    QueryDef(
      "ts_acf",
      (spark, sf) => {
        val daily = dailySeries(Tables.loadEvents(spark, sf), "n")
        val w = Window.partitionBy("event_type").orderBy("day")
        val withLags = (1 to 7).foldLeft(daily) { (d, l) =>
          d.withColumn(s"p$l", lag(col("n"), l).over(w))
        }
        val pairs = withLags.select(col("event_type"), col("n"),
            expr("stack(7, 1, p1, 2, p2, 3, p3, 4, p4, 5, p5, 6, p6, " +
              "7, p7) AS (lag, prev)"))
          .filter(col("prev").isNotNull)
        lagPearson(pairs, "r", "event_type", "lag")
      },
      Some(s"WITH ${dailySeriesSql("n")}, " +
        "p AS (" + (1 to 7).map(l =>
          s"SELECT event_type, n, $l AS lag, lag(n, $l) OVER " +
          "(PARTITION BY event_type ORDER BY day) AS prev FROM daily")
          .mkString(" UNION ALL ") + "), " +
        lagPearsonSql("r", "event_type", "lag")),
      scaleNote = "ts_autocorr's economics × 7 lags at the cost of " +
        "×1: the log collapses to |types|×|days| rows map-side, ONE " +
        "window pass materializes all seven lag columns (the frame " +
        "walks once; each lag is an offset read, not a re-sort), the " +
        "stack is a narrow pipelined unpivot, and the moment rollup " +
        "collapses to |types|×7 cells in the same event_type " +
        "exchange. The oracle's 7-fold UNION restates it as seven " +
        "window passes — correct and 7× the work, exactly the " +
        "rewrite this operator exists to avoid. Lag count scales " +
        "free until ~|days| (the pair count floor); a 365-lag " +
        "periodogram-by-ACF is the same plan with a wider stack, " +
        "still calendar-bounded, never event-bounded."),

    // Day-of-week seasonal index per event type: observed dow count ×
    // 7 / type total — 1.0 means flat, the transit-domain shape
    // (weekday peaks, weekend troughs) reads directly off the index.
    // The profile every schedule-aware monitor normalizes by before
    // comparing a Monday to a Sunday.
    QueryDef(
      "ts_seasonal_dow",
      (spark, sf) => {
        val d = Tables.loadEvents(spark, sf)
          // Spark's DOW extract is 1-based (Sunday=1); DuckDB's
          // dayofweek is 0-based (Sunday=0) — normalize to 0-based.
          .groupBy(col("event_type"),
            (expr("extract(DOW FROM ts)") - 1).cast("long").as("dow"))
          .agg(count(lit(1)).as("n"))
        val byType = Window.partitionBy("event_type")
        d.withColumn("total", sum(col("n")).over(byType))
          .select(col("event_type"), col("dow"), col("n"),
            round(col("n").cast("double") * 7 / col("total"), 4)
              .as("seasonal_idx"))
          .orderBy("event_type", "dow")
      },
      Some("WITH d AS (SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS dow, count(*) AS n FROM events GROUP BY 1, 2) " +
        "SELECT event_type, dow, n, round(CAST(n AS DOUBLE) * 7 / sum(n) OVER (PARTITION BY event_type), 4) AS seasonal_idx " +
        "FROM d ORDER BY event_type, dow"),
      scaleNote = "One combined-count shuffle collapses the log to " +
        "|types|×7 rows; the whole-partition window runs over ≤7 rows " +
        "per type on the same exchange — free at any input scale. " +
        "Integer counts make the index's one division deterministic. " +
        "Hour-of-week (|types|×168) is the same plan; the index table " +
        "broadcast back against live counts is the seasonally-" +
        "adjusted anomaly feed (ts_anomaly's z over n/idx)."),

    // Classical trend/seasonal/residual decomposition (r10) — the
    // moving-average method STL descends from, on the daily series:
    // trend = centered 7-row mean, seasonal = per-day-of-week mean
    // deviation from trend, residual = the rest. ts_seasonal_dow
    // gives the multiplicative INDEX; this is the additive SPLIT —
    // the pair every monitoring stack wants (plot the trend, alarm on
    // the residual). Integer discipline: dev7 = 7n − Σ7 keeps the
    // deviation EXACT (no per-row division), the per-dow aggregate
    // sums integers, and each output composes its float in one
    // rounded expression — so partials merge bit-stable on any
    // partitioning. Edge rows (incomplete 7-window) are excluded
    // rather than padded: a centered MA is undefined there, and both
    // engines agree on the exclusion by construction (cnt7 = 7).
    QueryDef(
      "ts_decompose",
      (spark, sf) => {
        val d = Tables.loadEvents(spark, sf)
          .groupBy(col("event_type"),
            date_format(col("ts").cast("date"), "yyyy-MM-dd").as("day"))
          .agg(count(lit(1)).as("n"))
        val w7 = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(-3, 3)
        val t = d
          .withColumn("sum7", sum(col("n")).over(w7))
          .withColumn("cnt7", count(lit(1)).over(w7))
          .filter(col("cnt7") === 7)
          .withColumn("dev7", col("n") * 7 - col("sum7"))
          .withColumn("dow",
            (expr("extract(DOW FROM CAST(day AS DATE))") - 1).cast("long"))
        val s = t.groupBy("event_type", "dow")
          .agg(sum(col("dev7")).as("sdev"), count(lit(1)).as("k"))
        t.join(s, Seq("event_type", "dow"))
          .select(col("event_type"), col("day"), col("n"),
            round(col("sum7").cast("double") / 7, 4).as("trend"),
            round(col("sdev").cast("double") / (col("k") * 7), 4)
              .as("seasonal"),
            round(col("n").cast("double") - col("sum7").cast("double") / 7 -
              col("sdev").cast("double") / (col("k") * 7), 4).as("residual"))
          .orderBy("event_type", "day")
      },
      Some("WITH daily AS (SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, count(*) AS n FROM events GROUP BY 1, 2), " +
        "w AS (SELECT event_type, day, n, CAST(sum(n) OVER win AS BIGINT) AS sum7, count(*) OVER win AS cnt7 FROM daily " +
        "WINDOW win AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)), " +
        "t AS (SELECT *, n*7 - sum7 AS dev7, CAST(dayofweek(CAST(day AS DATE)) AS BIGINT) AS dow FROM w WHERE cnt7 = 7), " +
        "s AS (SELECT event_type, dow, CAST(sum(dev7) AS BIGINT) AS sdev, count(*) AS k FROM t GROUP BY 1, 2) " +
        "SELECT t.event_type, t.day, t.n, " +
        "round(CAST(sum7 AS DOUBLE)/7, 4) AS trend, " +
        "round(CAST(sdev AS DOUBLE)/(k*7), 4) AS seasonal, " +
        "round(CAST(t.n AS DOUBLE) - CAST(sum7 AS DOUBLE)/7 - CAST(sdev AS DOUBLE)/(k*7), 4) AS residual " +
        "FROM t JOIN s ON t.event_type = s.event_type AND t.dow = s.dow " +
        "ORDER BY t.event_type, day"),
      scaleNote = "The log collapses to |types|×|days| rows in one " +
        "map-side-combined agg; the centered window, the dow " +
        "aggregate, and the final join all run on that calendar-" +
        "bounded table (the ts_autocorr economics — window input is " +
        "|days|, never |events|, and the dow join is |types|×7 rows " +
        "broadcast). Decades of daily data are still only ~3650 rows " +
        "per type, so the decomposition itself is free at any event " +
        "volume; hourly granularity multiplies the collapsed table " +
        "by 24, nothing else. A true STL (loess, robustness weights) " +
        "replaces the two means with weighted regressions over the " +
        "SAME collapsed table — the plan shape, and the integer-" +
        "deviation trick for its partials, carry over unchanged."),

    // Calendar-gap detection: hours with zero events per (type, day)
    // — the missed-poll monitor for an ingestion feed (the reference
    // polls an API on a schedule; an hour with no rows IS the
    // incident). Counting distinct observed hours against the 24-hour
    // grid needs no generated calendar table and no anti-join: the
    // absence count is 24 − |observed|, pure integers.
    QueryDef(
      "ts_calendar_gaps",
      (spark, sf) =>
        Tables.loadEvents(spark, sf)
          .groupBy(col("event_type"), col("ts").cast("date").as("day"))
          .agg(countDistinct(date_trunc("hour", col("ts"))).as("hours_observed"),
            count(lit(1)).as("n_events"))
          .withColumn("hours_missing", lit(24) - col("hours_observed"))
          .withColumn("has_gap", col("hours_observed") < 24)
          .select(col("event_type"), col("day").cast("string").as("day"),
            col("hours_observed"), col("n_events"),
            col("hours_missing"), col("has_gap"))
          .orderBy("event_type", "day"),
      Some("SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day, " +
        "count(DISTINCT date_trunc('hour', ts)) AS hours_observed, count(*) AS n_events, " +
        "24 - count(DISTINCT date_trunc('hour', ts)) AS hours_missing, " +
        "count(DISTINCT date_trunc('hour', ts)) < 24 AS has_gap " +
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
      scaleNote = "countDistinct over a derived hour rewrites to a " +
        "two-level exact agg — both levels map-side combinable, wire " +
        "volume |types|×|days|×24 partials max, so the monitor costs " +
        "the same however many events land per hour. Partial first/" +
        "last days report as gaps by contract (a feed that starts at " +
        "noon DID miss 12 hours of that day). Minute-grain gap " +
        "hunting swaps the truncation unit; per-source feeds add the " +
        "key. The streaming twin is a tumbling-window count with a " +
        "zero-row alarm on watermark close (stream_tumbling's shape)."),

    // Interval-union length per key (the sweep-line "covered time"
    // computation): how many distinct seconds of each user's timeline
    // are covered by at least one of their (possibly overlapping)
    // activity intervals — the complement of peak_concurrency, which
    // counts HOW MANY overlap while this measures the union's
    // measure. The classic exact rewrite: order intervals by start,
    // clamp each start to the running max of all PRIOR ends, sum the
    // clamped positive lengths — one window pass, integer seconds
    // throughout, no per-second expansion. Durations are synthesized
    // deterministically from event_id (the events table carries no
    // end column).
    QueryDef(
      "interval_coverage",
      (spark, sf) => {
        val iv = Tables.loadEvents(spark, sf)
          .select(col("user_id"), col("event_id"),
            expr("unix_micros(cast(ts as timestamp)) div 1000000").as("s"))
          .withColumn("e", col("s") + (col("event_id") % 1800) + 60)
        val w = Window.partitionBy("user_id").orderBy("s", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        iv.withColumn("pm", max(col("e")).over(w))
          .withColumn("contrib",
            greatest(col("e") - greatest(col("s"), coalesce(col("pm"), col("s"))),
              lit(0L)))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_intervals"),
            sum(col("contrib")).as("covered_sec"),
            (max(col("e")) - min(col("s"))).as("span_sec"))
          .select(col("user_id"), col("n_intervals"), col("covered_sec"),
            col("span_sec"),
            round(col("covered_sec").cast("double") * 100 / col("span_sec"), 2)
              .as("coverage_pct"))
          .orderBy("user_id")
      },
      Some("WITH i AS (SELECT user_id, event_id, epoch_us(ts)//1000000 AS s, epoch_us(ts)//1000000 + (event_id % 1800) + 60 AS e FROM events), " +
        "m AS (SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM i), " +
        "c AS (SELECT user_id, greatest(e - greatest(s, coalesce(pm, s)), 0) AS contrib, s, e FROM m) " +
        "SELECT user_id, count(*) AS n_intervals, CAST(sum(contrib) AS BIGINT) AS covered_sec, CAST(max(e) - min(s) AS BIGINT) AS span_sec, " +
        "round(CAST(sum(contrib) AS DOUBLE) * 100 / (max(e) - min(s)), 2) AS coverage_pct " +
        "FROM c GROUP BY 1 ORDER BY 1"),
      scaleNote = "One user_id exchange serves the window AND the " +
        "final agg (same key — AQE reuses it); per-row state in the " +
        "window is one running max, so a hot user costs a sort, never " +
        "memory. The integer sweep replaces the naive per-second " +
        "explode (×86400 row amplification) and the self-join " +
        "formulation (quadratic per key) — this shape is why " +
        "billing/uptime systems can compute covered time over years " +
        "of 100 TB logs. Cross-key union (fleet-wide covered time) " +
        "reruns the same sweep keyless over the pre-merged per-user " +
        "islands; calendar bucketing (covered seconds per day) splits " +
        "intervals at day boundaries map-side first."),

    // Interval MERGE — the third member of the interval family
    // (coverage sums the union's length, gaps lists the holes; this
    // emits the merged islands THEMSELVES — the table downstream
    // joins actually consume: billing periods, outage windows,
    // contiguous-session spans). Same single-window sweep: an
    // interval starts a NEW island iff its start lies strictly after
    // the running max of all prior ends (touching endpoints merge —
    // [a,b)+[b,c) is one contiguous span); the island id is the
    // running sum of those flags, and one groupBy collapses each
    // island to (start, end, size). No self-join, no per-second
    // explode — two windows riding ONE user_id exchange.
    QueryDef(
      "interval_merge",
      (spark, sf) => {
        val iv = Tables.loadEvents(spark, sf)
          .select(col("user_id"), col("event_id"),
            expr("unix_micros(cast(ts as timestamp)) div 1000000").as("s"))
          .withColumn("e", col("s") + (col("event_id") % 1800) + 60)
        val wp = Window.partitionBy("user_id").orderBy("s", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wr = Window.partitionBy("user_id").orderBy("s", "event_id")
          .rowsBetween(Window.unboundedPreceding, 0)
        iv.withColumn("pm", max(col("e")).over(wp))
          .withColumn("new_island",
            when(col("pm").isNull || col("s") > col("pm"), 1L)
              .otherwise(0L))
          .withColumn("island", sum(col("new_island")).over(wr))
          .groupBy("user_id", "island")
          .agg(min(col("s")).as("start_sec"), max(col("e")).as("end_sec"),
            count(lit(1)).as("n_intervals"))
          .select(col("user_id"), col("island").as("island_id"),
            col("start_sec"), col("end_sec"),
            (col("end_sec") - col("start_sec")).as("dur_sec"),
            col("n_intervals"))
          .orderBy("user_id", "island_id")
      },
      Some("WITH i AS (SELECT user_id, event_id, epoch_us(ts)//1000000 AS s, epoch_us(ts)//1000000 + (event_id % 1800) + 60 AS e FROM events), " +
        "m AS (SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM i), " +
        "f AS (SELECT *, CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS ni FROM m), " +
        "g AS (SELECT *, CAST(sum(ni) OVER (PARTITION BY user_id ORDER BY s, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island FROM f) " +
        "SELECT user_id, island AS island_id, min(s) AS start_sec, max(e) AS end_sec, " +
        "CAST(max(e) - min(s) AS BIGINT) AS dur_sec, count(*) AS n_intervals " +
        "FROM g GROUP BY 1, 2 ORDER BY 1, 2"),
      scaleNote = "interval_coverage's exact plan shape — both " +
        "windows and the groupBy ride ONE hashpartitioning(user_id) " +
        "exchange (the island id deliberately stays user-local so " +
        "nothing global orders anything) — and per-row window state " +
        "is one running max + one running sum: a hot user costs a " +
        "sort, never memory. The island table is what makes the " +
        "other two ops incremental at scale: persist it and a new " +
        "day's intervals merge against only the LAST island per " +
        "user (merge_scd2's open-row discipline), instead of " +
        "re-sweeping history; coverage and gaps then both read the " +
        "island table (Σdur, pairwise island gaps) without touching " +
        "raw events again."),

    // Lagged cross-correlation between event-type daily series — the
    // monitoring question ts_autocorr cannot answer: does type A's
    // volume LEAD type B's by k days (cascade/causality screening,
    // the delay-propagation analog: does congestion at one line
    // predict another's)? Pearson r over (a_t, b_{t−k}) day pairs
    // for every ordered type pair and lag 0..7, with agg_corr's
    // exact-integer-moment discipline; zero-variance slices emit
    // NULL, not ±inf.
    QueryDef(
      "ts_cross_correlation",
      (spark, sf) => {
        val daily = Tables.loadEvents(spark, sf)
          .groupBy(col("event_type"),
            datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
              .cast("long").as("di"))
          .agg(count(lit(1)).as("n"))
        val lags = spark.range(0, 8).select(col("id").as("lag"))
        val a = daily.select(col("event_type").as("type_a"),
          col("di"), col("n").as("na"))
        val b = daily.select(col("event_type").as("type_b"),
          col("di").as("dib"), col("n").as("nb"))
        // compute the lagged day on the LEFT before the join: the
        // r10 form joined on di = dib + lag, whose right-hand
        // expression mixes sides, so Catalyst could not extract an
        // equi key and planned a nested loop over the broadcast
        // grid — found by the r11 structural BNLJ sweep. dib = di −
        // lag is the same predicate with the arithmetic one one
        // side, and it hash-joins.
        val pairs = a.crossJoin(broadcast(lags))
          .withColumn("dib", col("di") - col("lag"))
          .join(b, Seq("dib"))
          .filter(col("type_a") =!= col("type_b"))
        val m = pairs.groupBy("type_a", "type_b", "lag")
          .agg(count(lit(1)).as("nd"),
            sum(col("na")).as("sa"), sum(col("nb")).as("sb"),
            sum(col("na") * col("nb")).as("sab"),
            sum(col("na") * col("na")).as("saa"),
            sum(col("nb") * col("nb")).as("sbb"))
        val d1 = m("nd") * m("saa") - m("sa") * m("sa")
        val d2 = m("nd") * m("sbb") - m("sb") * m("sb")
        m.select(col("type_a"), col("type_b"), col("lag"), col("nd"),
            when(d1 > 0 && d2 > 0,
              round((m("nd") * m("sab") - m("sa") * m("sb")).cast("double") /
                (sqrt(d1.cast("double")) * sqrt(d2.cast("double"))), 4))
              .as("r"))
          .orderBy("type_a", "type_b", "lag")
      },
      Some("WITH daily AS (SELECT event_type, date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS di, count(*) AS n FROM events GROUP BY 1, 2), " +
        "p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag AS lag, a.n AS na, b.n AS nb " +
        "FROM daily a CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS lag) l " +
        "JOIN daily b ON a.di = b.di + l.lag AND a.event_type <> b.event_type), " +
        "m AS (SELECT type_a, type_b, lag, count(*) AS nd, sum(na) AS sa, sum(nb) AS sb, sum(na*nb) AS sab, sum(na*na) AS saa, sum(nb*nb) AS sbb FROM p GROUP BY 1, 2, 3) " +
        "SELECT type_a, type_b, CAST(lag AS BIGINT) AS lag, nd, " +
        "CASE WHEN nd*saa - sa*sa > 0 AND nd*sbb - sb*sb > 0 THEN " +
        "round(CAST(nd*sab - sa*sb AS DOUBLE) / (sqrt(CAST(nd*saa - sa*sa AS DOUBLE)) * sqrt(CAST(nd*sbb - sb*sb AS DOUBLE))), 4) END AS r " +
        "FROM m ORDER BY type_a, type_b, lag"),
      scaleNote = "The raw log collapses to the |types|×|days| daily " +
        "grid in one map-side-combined agg (ts_ewma's first stage — " +
        "shareable when both run); the lag expansion is ×8 on that " +
        "GRID, not the corpus, and the moment agg outputs " +
        "|types|²×8 rows however much data flowed. The day-integer " +
        "equi join replaces date arithmetic in the join condition so " +
        "it hash-joins; at years×hundreds-of-types scale the grid is " +
        "still MBs — cross-correlation of a trillion events is " +
        "arithmetic on a broadcast table. Moments are exact BIGINT " +
        "sums (agg_corr's rule), so r is partitioning-independent."),

    // Market-basket co-occurrence with lift — the set-valued sibling
    // of text_collocations' sequence bigrams: which part PAIRS appear
    // in the same order more often than independence predicts
    // (affinity analysis / complementary-products; the corpus analog
    // is doc-level tag co-occurrence). Pair generation is the classic
    // within-group self-join with x < y — bounded by items-per-order
    // (≤ 13 here, a physical constant in retail), NOT by catalog
    // size. lift = P(xy)/(P(x)·P(y)) composed from exact integer
    // counts in one identically-associated float expression.
    QueryDef(
      "basket_pairs",
      (spark, sf) => {
        // the distinct item table feeds FOUR consumers (the order
        // total, item frequencies, and both self-join sides):
        // checkpoint it once so the scan+distinct runs once, not four
        // times (r17 — graph_neighbor_jaccard's cs pattern)
        val i = Tables.lineitem(spark, sf)
          .select(col("l_orderkey"), col("l_partkey")).distinct()
          .localCheckpoint(false)
        val tot = i.agg(countDistinct(col("l_orderkey")).as("n_orders"))
        val freq = i.groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
        val a = i.select(col("l_orderkey"), col("l_partkey").as("x"))
        val b = i.select(col("l_orderkey"), col("l_partkey").as("y"))
        val fx = freq.select(col("l_partkey").as("x"), col("n").as("n_x"))
        val fy = freq.select(col("l_partkey").as("y"), col("n").as("n_y"))
        a.join(b, Seq("l_orderkey")).filter(col("x") < col("y"))
          .groupBy("x", "y").agg(count(lit(1)).as("n_xy"))
          .filter(col("n_xy") >= 2)
          .join(broadcast(fx), "x").join(broadcast(fy), "y")
          .crossJoin(broadcast(tot))
          .select(col("x"), col("y"), col("n_xy"),
            round((col("n_xy").cast("double") * col("n_orders")) /
              (col("n_x").cast("double") * col("n_y")), 4).as("lift"))
          .orderBy(col("lift").desc, col("x"), col("y"))
          .limit(100)
      },
      Some("WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
        "tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM i), " +
        "freq AS (SELECT l_partkey, count(*) AS n FROM i GROUP BY 1), " +
        "p AS (SELECT a.l_partkey AS x, b.l_partkey AS y, count(*) AS n_xy FROM i a JOIN i b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey GROUP BY 1, 2 HAVING count(*) >= 2) " +
        "SELECT x, y, n_xy, round((CAST(n_xy AS DOUBLE) * n_orders) / (CAST(fx.n AS DOUBLE) * fy.n), 4) AS lift " +
        "FROM p CROSS JOIN tot JOIN freq fx ON p.x = fx.l_partkey JOIN freq fy ON p.y = fy.l_partkey " +
        "ORDER BY lift DESC, x, y LIMIT 100"),
      scaleNote = "The self-join shuffles on l_orderkey ONCE and " +
        "expands n·(n−1)/2 pairs per order map-side — with basket " +
        "size a physical constant, pair volume is linear in orders, " +
        "never quadratic in catalog. The min-support filter runs " +
        "BEFORE the scoring joins (pair vocabulary collapses first), " +
        "item frequencies broadcast, top-100 compiles to " +
        "TakeOrderedAndProject. At real-retail scale the standard " +
        "escalation applies: hash-prune candidate pairs with " +
        "agg_cms_sketch (A-Priori's counting pass) so the exact agg " +
        "sees only above-support survivors — same plan, pre-filtered."),

    // Last-touch attribution — the marketing question every event log
    // answers first: which channel gets credit for each purchase? Per
    // purchase, the LATEST view/click by the same user in the 7 days
    // up to (and including) the purchase instant wins; purchases with
    // no touch in the window land in 'unattributed'. The per-purchase
    // argmax is the associative struct-max (join_asof's fold), never a
    // per-user sort; (t_ts, touch) in the struct makes a same-instant
    // view/click tie break deterministically on the type string.
    QueryDef(
      "attribution_last_touch",
      (spark, sf) => {
        val ev = Tables.loadEvents(spark, sf)
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"), col("value"))
        val t = ev.filter(col("event_type").isin("view", "click"))
          .select(col("user_id").as("t_user"), col("ts").as("t_ts"),
            col("event_type").as("touch"))
        val m = p.join(t, col("p_user") === col("t_user") &&
            col("t_ts") <= col("p_ts") &&
            col("t_ts") >= col("p_ts") - expr("INTERVAL 7 DAY"))
          .groupBy("p_id")
          .agg(max(struct(col("t_ts").as("ts"), col("touch").as("ch"))).as("s"))
          .select(col("p_id"), col("s.ch").as("channel"))
        p.join(m, Seq("p_id"), "left")
          .groupBy(coalesce(col("channel"), lit("unattributed")).as("channel"))
          .agg(count(lit(1)).as("n_purchases"),
            graft.engine.Dsl.sumDec2(col("value")).cast("double").as("revenue"))
          .orderBy("channel")
      },
      Some("WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts, value FROM events WHERE event_type = 'purchase'), " +
        "t AS (SELECT user_id, ts AS t_ts, event_type AS touch FROM events WHERE event_type IN ('view', 'click')), " +
        "m AS (SELECT p_id, touch FROM (SELECT p.p_id, t.touch, row_number() OVER (PARTITION BY p.p_id ORDER BY t.t_ts DESC, t.touch DESC) AS rn " +
        "FROM p JOIN t ON p.user_id = t.user_id AND t.t_ts <= p.p_ts AND t.t_ts >= p.p_ts - INTERVAL 7 DAY) WHERE rn = 1) " +
        "SELECT coalesce(m.touch, 'unattributed') AS channel, count(*) AS n_purchases, " +
        "CAST(sum(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
        "FROM p LEFT JOIN m ON p.p_id = m.p_id GROUP BY 1 ORDER BY 1"),
      scaleNote = "One equi join on user_id (the same partitioning " +
        "funnel_steps and sessionization already pay — exchange " +
        "reuse applies when they share a DAG), with the 7-day bound " +
        "a residual predicate, never a join key; candidate fan-out " +
        "per purchase is touches-per-user-week, bounded by human " +
        "behavior. The argmax folds map-side (struct-max is " +
        "associative — no per-user window sort), the final rollup is " +
        "|channels| rows, and revenue rides the exact-DECIMAL money " +
        "discipline. At 100 TB the event log is date-partitioned, so " +
        "the touch scan prunes to the attribution horizon; multi-" +
        "touch models (linear/time-decay) reuse the same join and " +
        "replace the argmax with a weighted agg."),

    // Position-based multi-touch attribution (r10) — the weighted-agg
    // sibling attribution_last_touch's scaleNote promises: the same
    // user-key join and 7-day residual window, but credit SPLITS
    // across every touch in the path (U-shaped: 40% first touch, 40%
    // last, middles share 20% — the industry-standard position model;
    // n=1 → 100%, n=2 → 50/50). Weights are integer MICRO-credits
    // (200000 div (n−2) floors identically on both engines — positive
    // operands, no ts_holt_linear hazard), so credit and revenue
    // totals are exact integer sums composed to float once at the
    // edge. Path order is total: (t_ts, touch, t_id) — event_id
    // breaks same-instant same-type ties deterministically.
    QueryDef(
      "attribution_position",
      (spark, sf) => {
        val ev = Tables.loadEvents(spark, sf)
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"),
            floor(col("value") * 100).cast("long").as("cents"))
        val t = ev.filter(col("event_type").isin("view", "click"))
          .select(col("user_id").as("t_user"), col("ts").as("t_ts"),
            col("event_type").as("touch"), col("event_id").as("t_id"))
        val cond = col("p_user") === col("t_user") &&
          col("t_ts") <= col("p_ts") &&
          col("t_ts") >= col("p_ts") - expr("INTERVAL 7 DAY")
        val w = Window.partitionBy("p_id").orderBy("t_ts", "touch", "t_id")
        val wAll = Window.partitionBy("p_id")
        val attributed = p.join(t, cond)
          .withColumn("rn", row_number().over(w))
          .withColumn("nt", count(lit(1)).over(wAll))
          .withColumn("w_micro",
            when(col("nt") === 1, 1000000L)
              .when(col("nt") === 2, 500000L)
              .when(col("rn") === 1 || col("rn") === col("nt"), 400000L)
              .otherwise(expr("200000 div (nt - 2)")))
          .select(col("touch").as("channel"), col("cents"), col("w_micro"))
        val unattributed = p.join(t, cond, "left_anti")
          .select(lit("unattributed").as("channel"), col("cents"),
            lit(1000000L).as("w_micro"))
        attributed.unionAll(unattributed)
          .groupBy("channel")
          .agg(count(lit(1)).as("n_touches"),
            round(sum(col("w_micro")).cast("double") / 1e6, 4).as("credit"),
            round(sum(col("cents") * col("w_micro")).cast("double") / 1e8, 4)
              .as("revenue_credit"))
          .orderBy("channel")
      },
      Some("WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts, " +
        "CAST(floor(value*100) AS BIGINT) AS cents FROM events WHERE event_type = 'purchase'), " +
        "t AS (SELECT user_id, ts AS t_ts, event_type AS touch, event_id AS t_id FROM events WHERE event_type IN ('view', 'click')), " +
        "j AS (SELECT p.p_id, p.cents, t.touch, t.t_ts, t.t_id FROM p JOIN t ON p.user_id = t.user_id " +
        "AND t.t_ts <= p.p_ts AND t.t_ts >= p.p_ts - INTERVAL 7 DAY), " +
        "a AS (SELECT touch AS channel, cents, CASE WHEN nt = 1 THEN 1000000 WHEN nt = 2 THEN 500000 " +
        "WHEN rn = 1 OR rn = nt THEN 400000 ELSE 200000 // (nt - 2) END AS w_micro " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY p_id ORDER BY t_ts, touch, t_id) AS rn, " +
        "count(*) OVER (PARTITION BY p_id) AS nt FROM j)), " +
        "u AS (SELECT 'unattributed' AS channel, cents, 1000000 AS w_micro " +
        "FROM p WHERE p_id NOT IN (SELECT p_id FROM j)) " +
        "SELECT channel, count(*) AS n_touches, " +
        "round(CAST(sum(w_micro) AS DOUBLE)/1e6, 4) AS credit, " +
        "round(CAST(sum(cents*w_micro) AS DOUBLE)/1e8, 4) AS revenue_credit " +
        "FROM (SELECT * FROM a UNION ALL SELECT * FROM u) GROUP BY 1 ORDER BY 1"),
      scaleNote = "Same join economics as last-touch (ONE user_id " +
        "equi join, 7-day residual bound, fan-out capped by touches-" +
        "per-user-week), plus one p_id window pass whose partitions " +
        "are path-sized (≤ dozens of rows) — WindowGroupLimit-free " +
        "but trivially memory-safe. Credits are integer micro-units: " +
        "the weighted rollup's partials merge exactly on any " +
        "partitioning, and Σ(cents·w_micro) stays within Long past " +
        "10¹⁰ purchase-touch rows (DECIMAL(38,0) partials beyond, " +
        "agg_corr's escalation). Time-decay attribution is this plan " +
        "with w_micro = f(p_ts − t_ts); the credit column summing to " +
        "exactly |purchases| (×10⁶) is the model's built-in audit " +
        "invariant, checkable per shard."),

    // Time-to-convert — the funnel's latency dimension: for each user
    // who converted (first view → first purchase at/after it), the
    // conversion lag bucketed into whole hours, as a distribution.
    // funnel_steps counts WHO converts; this measures HOW FAST —
    // together they are the product-analytics pair. Integer epoch
    // subtraction and `div` bucketing keep every cell exact.
    QueryDef(
      "funnel_time_to_convert",
      (spark, sf) => {
        val ev = Tables.loadEvents(spark, sf)
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts")).as("ts_v"))
        val c = ev.filter(col("event_type") === "purchase")
          .join(v, Seq("user_id"))
          .filter(col("ts") >= col("ts_v"))
          .groupBy("user_id", "ts_v").agg(min(col("ts")).as("ts_p"))
        // microsecond integers end-to-end: unix_timestamp would drop
        // sub-second precision and shift boundary rows by one bucket.
        // unix_micros takes TIMESTAMP (not NTZ) — the cast is identity
        // in the UTC sessions every main/test pins, and the DIFFERENCE
        // is zone-independent regardless
        c.select((unix_micros(col("ts_p").cast("timestamp")) -
            unix_micros(col("ts_v").cast("timestamp"))).as("lag_us"))
          .select(expr("lag_us div 3600000000").as("lag_hours"))
          .groupBy("lag_hours").agg(count(lit(1)).as("n_users"))
          .orderBy("lag_hours")
      },
      Some("WITH v AS (SELECT user_id, min(ts) AS ts_v FROM events WHERE event_type = 'view' GROUP BY 1), " +
        "c AS (SELECT e.user_id, min(e.ts) AS ts_p, any_value(v.ts_v) AS ts_v FROM events e JOIN v ON e.user_id = v.user_id " +
        "AND e.ts >= v.ts_v WHERE e.event_type = 'purchase' GROUP BY e.user_id) " +
        "SELECT (epoch_us(ts_p) - epoch_us(ts_v)) // 3600000000 AS lag_hours, count(*) AS n_users " +
        "FROM c GROUP BY 1 ORDER BY 1"),
      scaleNote = "Two min-aggregates and one equi join, all keyed on " +
        "user_id — one partitioning serves the chain (funnel_steps' " +
        "shape), and both aggs combine map-side so the shuffle " +
        "carries |users| partials, not events. The histogram rollup " +
        "is |buckets|-bounded output from integer-exact cells — " +
        "re-partitioning cannot move a count. At 100 TB, date-prune " +
        "the view scan to the cohort window and the purchase scan to " +
        "window + max-horizon; the same DAG with avg/percentile over " +
        "lag_sec (agg_percentile_cont's exact-interpolation " +
        "discipline) yields the latency summary stats."),

    // Markov removal-effect attribution (r13) — the data-driven
    // member closing the attribution family: last-touch and
    // position-based are HEURISTICS (they credit by rule);
    // removal-effect credits each channel by how much conversion
    // actually DROPS when journeys can no longer pass through it
    // (Anderl et al. 2014 — the model every "data-driven
    // attribution" product implements). The journey chain rides
    // markov_transitions' collapsed grid: states = the four stated
    // touch channels + start/conv/null (journeys restart after each
    // purchase, end at the stream edge), transition probabilities
    // exact integer micro floor divisions. Absorption P(conv|start)
    // is the matrix power M^64 computed by SIX SQUARINGS of the
    // ≤37-cell matrix (graph_walk_embed's integer-iteration
    // discipline: every product sums exactly in BIGINT, ONE
    // truncating division per cell per squaring — bit-identical on
    // both engines; the 64-step horizon is stated and exceeds every
    // fixture journey). Removing channel c = its row becomes
    // null-absorbing; credit share = each channel's conversion drop
    // over the total drop, clamped at 0 and fenced against the
    // all-zero case.
    QueryDef(
      "attribution_markov",
      (spark, sf) => {
        val session = spark
        import session.implicits._
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val sq = Tables.loadEvents(spark, sf)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("prev", lag(col("event_type"), 1).over(w))
          .withColumn("nxt", lead(col("event_type"), 1).over(w))
        // r16 (guide §2.4): the r13 form read `sq` twice (a steps
        // branch and an ends branch unioned below the aggregate), so
        // the per-user lag/lead window — the only corpus-scale stage
        // in the query — sorted the event stream TWICE per
        // invocation. One pass now emits both rows per event via a
        // 2-slot array (the end slot NULL unless this is a journey's
        // last non-purchase event) compacted and exploded; the
        // resulting (s, t) multiset is identical, and the aggregate
        // collapses it map-side as before.
        val stepRow = struct(
          when(col("prev").isNull || col("prev") === "purchase",
            lit("start")).otherwise(col("prev")).as("s"),
          when(col("event_type") === "purchase", lit("conv"))
            .otherwise(col("event_type")).as("t"))
        val endRow = when(col("nxt").isNull &&
            col("event_type") =!= "purchase",
          struct(col("event_type").as("s"), lit("null").as("t")))
        val tc = sq
          .select(explode(array_compact(array(stepRow, endRow))).as("r"))
          .select(col("r.s").as("s"), col("r.t").as("t"))
          .groupBy("s", "t")
          .agg(count(lit(1)).as("n"))
        // r17 (guide §1.2/§2.4, the ann_pq driver-local-Lloyd
        // precedent): everything below the tc grid is BOUNDED model
        // state — ≤37 exact integer cells, ≤185 rows across the five
        // scenarios — yet the r16 form ran it as six distributed
        // join+groupBy squarings with a localCheckpoint each (~20
        // sub-second stages of <200 rows, the dominant share of the
        // query's 3.8 s steady state; the corpus window itself costs
        // ~1 s). The grid now collects ONCE (the bounded-model-state
        // collect ann_pq's codebook training established) and the
        // squarings run as exact Long arithmetic on the driver —
        // bit-identical by construction: same (n·1e6) div ns cells,
        // same sum(pa·pb) div 1e6 per squaring (products ≤1e12, ≤37
        // terms — no overflow), same ≥0 clamp and zero-total fence.
        // The ONLY corpus-scale stage left is the one window pass.
        // the grid's bound, enforced: one row past it fails fast
        // instead of collecting an unbounded grid to the driver
        val grid = tc.limit(65).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        require(grid.length <= 64,
          "attribution_markov: transition grid exceeds 64 cells")
        val ns = grid.groupBy(_._1).map { case (s, rs) =>
          s -> rs.map(_._3).sum }
        val bm = grid.map { case (s, t, n) => (s, t, n * 1000000L / ns(s)) } ++
          Seq(("conv", "conv", 1000000L), ("null", "null", 1000000L))
        val channels = Seq("view", "click", "signup", "error")
        val scenarios: Map[String, Seq[(String, String, Long)]] =
          (("base" -> bm.toSeq) +: channels.map(c =>
            c -> (bm.toSeq.filter(_._1 != c) :+ ((c, "null", 1000000L))))).toMap
        def square(m: Seq[(String, String, Long)]): Seq[(String, String, Long)] = {
          val byMid = m.groupBy(_._1)
          m.flatMap { case (s, mid, pa) =>
            byMid.getOrElse(mid, Seq.empty).map { case (_, t, pb) =>
              ((s, t), pa * pb) }
          }.groupBy(_._1).toSeq.map { case ((s, t), ps) =>
            (s, t, ps.map(_._2).sum / 1000000L) }
        }
        val m6 = scenarios.map { case (k, m0) =>
          k -> (1 to 6).foldLeft(m0.toSeq)((m, _) => square(m)) }
        val res = m6.map { case (k, m) =>
          k -> m.collectFirst { case ("start", "conv", p) => p } }
        // a channel whose removed matrix has NO start→conv cell after
        // 64 steps emits no row — exactly the original inner-join
        // semantics (res only carries existing cells, and the oracle's
        // res CTE likewise)
        val out = res.get("base").flatten match {
          case None => Seq.empty[(String, Long, Long, Long)]
          case Some(pBase) =>
            channels.flatMap { ch =>
              res.get(ch).flatten.map(pRem =>
                (ch, pBase, pRem, math.max(pBase - pRem, 0L)))
            }
        }
        val te = out.map(_._4).sum
        out.map { case (ch, pBase, pRem, re) =>
          (ch, pBase, pRem, re,
            if (te > 0L) re * 1000000L / te else 0L, 64L)
        }.toDF("channel", "p_base_micro", "p_removed_micro",
            "removal_effect_micro", "attribution_ppm", "horizon_steps")
          .orderBy("channel")
      },
      Some("WITH sq AS (SELECT user_id, event_type, lag(event_type) OVER w AS prev, lead(event_type) OVER w AS nxt FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "tr AS (SELECT CASE WHEN prev IS NULL OR prev = 'purchase' THEN 'start' ELSE prev END AS s, CASE WHEN event_type = 'purchase' THEN 'conv' ELSE event_type END AS t FROM sq " +
        "UNION ALL SELECT event_type AS s, 'null' AS t FROM sq WHERE nxt IS NULL AND event_type <> 'purchase'), " +
        "tc AS (SELECT s, t, count(*) AS n FROM tr GROUP BY 1, 2), " +
        "tn AS (SELECT s, CAST(sum(n) AS BIGINT) AS ns FROM tc GROUP BY 1), " +
        "bm AS (SELECT tc.s, tc.t, (n * 1000000) // ns AS p FROM tc JOIN tn ON tc.s = tn.s " +
        "UNION ALL SELECT 'conv', 'conv', 1000000 UNION ALL SELECT 'null', 'null', 1000000), " +
        "sc AS MATERIALIZED (SELECT 'base' AS k, s, t, p FROM bm " +
        "UNION ALL SELECT c.c AS k, bm.s, bm.t, bm.p FROM bm CROSS JOIN (VALUES ('view'), ('click'), ('signup'), ('error')) c(c) WHERE bm.s <> c.c " +
        "UNION ALL SELECT c.c AS k, c.c AS s, 'null' AS t, 1000000 AS p FROM (VALUES ('view'), ('click'), ('signup'), ('error')) c(c)), " +
        "m1 AS (SELECT a.k, a.s, b.t, CAST(sum(a.p * b.p) AS BIGINT) // 1000000 AS p FROM sc a JOIN sc b ON a.k = b.k AND a.t = b.s GROUP BY 1, 2, 3), m2 AS (SELECT a.k, a.s, b.t, CAST(sum(a.p * b.p) AS BIGINT) // 1000000 AS p FROM m1 a JOIN m1 b ON a.k = b.k AND a.t = b.s GROUP BY 1, 2, 3), m3 AS (SELECT a.k, a.s, b.t, CAST(sum(a.p * b.p) AS BIGINT) // 1000000 AS p FROM m2 a JOIN m2 b ON a.k = b.k AND a.t = b.s GROUP BY 1, 2, 3), m4 AS (SELECT a.k, a.s, b.t, CAST(sum(a.p * b.p) AS BIGINT) // 1000000 AS p FROM m3 a JOIN m3 b ON a.k = b.k AND a.t = b.s GROUP BY 1, 2, 3), m5 AS (SELECT a.k, a.s, b.t, CAST(sum(a.p * b.p) AS BIGINT) // 1000000 AS p FROM m4 a JOIN m4 b ON a.k = b.k AND a.t = b.s GROUP BY 1, 2, 3), m6 AS (SELECT a.k, a.s, b.t, CAST(sum(a.p * b.p) AS BIGINT) // 1000000 AS p FROM m5 a JOIN m5 b ON a.k = b.k AND a.t = b.s GROUP BY 1, 2, 3)" + ", " +
        "res AS (SELECT k, p FROM m6 WHERE s = 'start' AND t = 'conv'), " +
        "bs AS (SELECT p AS p_base_micro FROM res WHERE k = 'base'), " +
        "eff AS (SELECT k AS channel, p_base_micro, p AS p_removed_micro, greatest(p_base_micro - p, 0) AS removal_effect_micro FROM res CROSS JOIN bs WHERE k <> 'base'), " +
        "tot AS (SELECT CAST(sum(removal_effect_micro) AS BIGINT) AS te FROM eff) " +
        "SELECT channel, p_base_micro, p_removed_micro, removal_effect_micro, " +
        "CASE WHEN te > 0 THEN (removal_effect_micro * 1000000) // te ELSE 0 END AS attribution_ppm, " +
        "CAST(64 AS BIGINT) AS horizon_steps FROM eff CROSS JOIN tot ORDER BY channel"),
      scaleNote = "The ONLY corpus-scale work is markov_transitions' " +
        "pass: one per-user window (the sessionization partitioning " +
        "every behavioral op here shares) collapsing the stream to a " +
        "≤37-cell transition grid — everything after runs on ≤185 " +
        "constant rows across the five scenarios, so the model phase " +
        "costs the same at 100 TB as at 100 MB. Matrix SQUARING is " +
        "the scale trick: 64 absorption steps cost six 37-cell " +
        "equi-joins instead of 64 value iterations (and each " +
        "squaring localCheckpoints, so the plan stays O(1) deep — " +
        "the GraphOps device). Every cell is exact-integer micro " +
        "arithmetic (products ≤ 1e12 sum over ≤7 terms, one " +
        "truncating division per cell per squaring) — both engines " +
        "walk the identical lattice, and the per-squaring floor " +
        "loss (≤ 6·7 micro end to end, stated) cannot flip a credit " +
        "ordering fenced by the ≥0 clamp and the zero-total guard. " +
        "More channels grow the grid quadratically but it stays " +
        "driver-trivial up to thousands; per-segment attribution " +
        "adds the segment key to every grid stage."),

    // Shapley-value attribution (r13) — the OTHER data-driven
    // standard beside attribution_markov's removal effect: Markov
    // credits by path dynamics, Shapley by cooperative game theory —
    // each channel's credit is its average marginal lift across all
    // orderings of the coalition it joined (the unique allocation
    // satisfying efficiency/symmetry/dummy — why ad platforms ship
    // it). Journeys = per-user segments split at each purchase (the
    // Markov op's restart rule as a window cumsum), coalition = the
    // journey's channel-presence bitmask, characteristic value
    // v(S) = conversion rate of exactly-S journeys in exact ppm.
    // With 4 channels the sum is EXACT: 8 marginals per channel,
    // weights |S|!·(3−|S|)! ∈ {6,2,2,6} as integer numerators over
    // the common 4! = 24, so φ numerators are exact BIGINTs and the
    // efficiency identity Σφ_units = 24·(v(full) − v(∅)) holds to
    // the unit BEFORE the one truncating division — emitted as a
    // self-audit column that must be zero. MEASURED VERDICT CAVEAT
    // (the graph_embed_link_auc precedent): under the restart
    // segmentation an exactly-∅ journey is a purchase-only segment,
    // so v(∅) = 1e6 by construction and the quasi-random fixture
    // yields NEGATIVE channel credits (touches "delay" the next
    // purchase here) — the op reports the fixture's truth instead
    // of flattering it; on funnel-shaped data v(∅) ≈ 0 and credits
    // turn positive with the same arithmetic.
    QueryDef(
      "attribution_shapley",
      (spark, sf) => {
        val session = spark
        import session.implicits._
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val seg = Tables.loadEvents(spark, sf)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("seg", coalesce(
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .over(w), lit(0L)))
        val j = seg.groupBy("user_id", "seg")
          .agg(max(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("conv"),
            (max(when(col("event_type") === "view", 1L).otherwise(0L)) +
              max(when(col("event_type") === "click", 2L).otherwise(0L)) +
              max(when(col("event_type") === "signup", 4L).otherwise(0L)) +
              max(when(col("event_type") === "error", 8L).otherwise(0L)))
              .as("cset"))
        val ct = j.groupBy("cset")
          .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
        val grid = spark.range(16).select(col("id").as("cset"))
          .join(ct, Seq("cset"), "left")
          .select(col("cset"),
            coalesce(col("n"), lit(0L)).as("n"),
            when(coalesce(col("n"), lit(0L)) > 0L,
              expr("(c * 1000000) div n")).otherwise(0L).as("v_ppm"))
          .localCheckpoint(false)
        val unc = grid.agg(
          sum(when(col("n") === 0L, 1L).otherwise(0L)).as("n_uncovered"),
          max(when(col("cset") === 0L, col("v_ppm"))).as("v_empty_ppm"),
          max(when(col("cset") === 15L, col("v_ppm"))).as("v_full_ppm"))
        val ch = Seq(("view", 1L), ("click", 2L), ("signup", 4L),
          ("error", 8L)).toDF("channel", "bit")
        val pairs = grid.join(broadcast(ch),
            expr("(cset & bit) = 0"))
          .join(grid.select(col("cset").as("cs2"),
            col("v_ppm").as("v2_ppm")), expr("cs2 = (cset | bit)"))
          .withColumn("wnum", expr(
            s"CASE $PopCountSql WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END"))
        val phi = pairs.groupBy("channel")
          .agg(sum(col("wnum") * (col("v2_ppm") - col("v_ppm")))
            .as("phi_units"))
        val tot = phi.agg(sum(col("phi_units")).as("sum_units"))
        phi.crossJoin(broadcast(unc)).crossJoin(broadcast(tot))
          .select(col("channel"), col("phi_units"),
            // phi_units is NEGATIVE for drag channels; plain signed
            // div is safe because integer-division truncation parity
            // (Spark div ≡ DuckDB // toward zero) is the measured
            // house contract, pinned every round by fn_math's
            // neg_div_trunc gate column (r13 ADVICE #2).
            expr("phi_units div 24").as("phi_micro"),
            col("v_empty_ppm"), col("v_full_ppm"), col("n_uncovered"),
            (col("sum_units") -
              lit(24L) * (col("v_full_ppm") - col("v_empty_ppm")))
              .as("efficiency_gap_units"))
          .orderBy("channel")
      },
      Some("WITH e AS (SELECT user_id, ts, event_id, event_type, " +
        "COALESCE(CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS seg FROM events), " +
        "j AS (SELECT user_id, seg, CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS conv, " +
        "CAST(max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) + max(CASE WHEN event_type = 'click' THEN 2 ELSE 0 END) + max(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END) + max(CASE WHEN event_type = 'error' THEN 8 ELSE 0 END) AS BIGINT) AS cset FROM e GROUP BY 1, 2), " +
        "ct AS (SELECT cset, count(*) AS n, CAST(sum(conv) AS BIGINT) AS c FROM j GROUP BY 1), " +
        "g AS (SELECT b.cset, COALESCE(n, 0) AS n, CASE WHEN COALESCE(n, 0) > 0 THEN (c * 1000000) // n ELSE 0 END AS v_ppm FROM (SELECT unnest(generate_series(0, 15)) AS cset) b LEFT JOIN ct ON b.cset = ct.cset), " +
        "un AS (SELECT CAST(sum(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_uncovered, CAST(max(CASE WHEN cset = 0 THEN v_ppm END) AS BIGINT) AS v_empty_ppm, CAST(max(CASE WHEN cset = 15 THEN v_ppm END) AS BIGINT) AS v_full_ppm FROM g), " +
        "pr AS (SELECT ch.channel, g.cset, g.v_ppm, g2.v_ppm AS v2_ppm, " +
        s"CASE ${PopCountSqlDuck.replace("cset", "g.cset")} WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END AS wnum " +
        "FROM g CROSS JOIN (VALUES ('view', 1), ('click', 2), ('signup', 4), ('error', 8)) ch(channel, bit) " +
        "JOIN g g2 ON g2.cset = (g.cset | ch.bit) WHERE (g.cset & ch.bit) = 0), " +
        "ph AS (SELECT channel, CAST(sum(wnum * (v2_ppm - v_ppm)) AS BIGINT) AS phi_units FROM pr GROUP BY 1), " +
        "tt AS (SELECT CAST(sum(phi_units) AS BIGINT) AS sum_units FROM ph) " +
        "SELECT channel, phi_units, phi_units // 24 AS phi_micro, v_empty_ppm, v_full_ppm, n_uncovered, " +
        "sum_units - 24 * (v_full_ppm - v_empty_ppm) AS efficiency_gap_units " +
        "FROM ph CROSS JOIN un CROSS JOIN tt ORDER BY channel"),
      scaleNote = "attribution_markov's economics exactly: one " +
        "per-user window pass (the shared sessionization " +
        "partitioning) collapses the stream to journeys map-side, " +
        "then a 16-row coalition grid — the game-theory phase costs " +
        "the same at any corpus size. Exactness is the design " +
        "point: 4 channels make the Shapley sum closed-form (8 " +
        "integer marginals × integer weight numerators over the " +
        "common 24), so the efficiency identity is checkable to the " +
        "UNIT and emitted as a must-be-zero audit column — sampled-" +
        "permutation Shapley (the k-channel escalation, k! blows up " +
        "past ~10) would swap the exact grid for ab_bayes_mc-style " +
        "deterministic stratified orderings on the same journey " +
        "table. Exactly-S value estimation needs every coalition " +
        "populated — n_uncovered fences sparse-coalition corpora " +
        "(corpus_mix_kl_target's alert-never-skip rule)."),

    // The complement of interval_coverage: the HOLES — per key, the
    // uncovered stretches inside the activity span (the downtime /
    // silence / idle-capacity metric; coverage asks "how much ran",
    // gaps ask "where did nothing run, and for how long at worst").
    // Same intervals, same sweep: a gap opens where an interval's
    // start exceeds the running max end of everything before it.
    // Spec-pinned invariant: covered_sec + gap_sec = span_sec exactly,
    // per key, against interval_coverage's own output.
    QueryDef(
      "interval_gaps",
      (spark, sf) => {
        val iv = Tables.loadEvents(spark, sf)
          .select(col("user_id"), col("event_id"),
            expr("unix_micros(cast(ts as timestamp)) div 1000000").as("s"))
          .withColumn("e", col("s") + (col("event_id") % 1800) + 60)
        val w = Window.partitionBy("user_id").orderBy("s", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        iv.withColumn("pm", max(col("e")).over(w))
          .withColumn("gap",
            greatest(col("s") - coalesce(col("pm"), col("s")), lit(0L)))
          .groupBy("user_id")
          .agg(sum(when(col("gap") > 0, 1L).otherwise(0L)).as("n_gaps"),
            sum(col("gap")).as("gap_sec"),
            max(col("gap")).as("max_gap_sec"),
            (max(col("e")) - min(col("s"))).as("span_sec"))
          .select(col("user_id"), col("n_gaps"), col("gap_sec"),
            col("max_gap_sec"), col("span_sec"),
            round(col("gap_sec").cast("double") * 100 / col("span_sec"), 2)
              .as("idle_pct"))
          .orderBy("user_id")
      },
      Some("WITH i AS (SELECT user_id, event_id, epoch_us(ts)//1000000 AS s, epoch_us(ts)//1000000 + (event_id % 1800) + 60 AS e FROM events), " +
        "m AS (SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM i), " +
        "g AS (SELECT user_id, greatest(s - coalesce(pm, s), 0) AS gap, s, e FROM m) " +
        "SELECT user_id, CAST(sum(CASE WHEN gap > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps, " +
        "CAST(sum(gap) AS BIGINT) AS gap_sec, CAST(max(gap) AS BIGINT) AS max_gap_sec, " +
        "CAST(max(e) - min(s) AS BIGINT) AS span_sec, " +
        "round(CAST(sum(gap) AS DOUBLE) * 100 / (max(e) - min(s)), 2) AS idle_pct " +
        "FROM g GROUP BY 1 ORDER BY 1"),
      scaleNote = "Identical cost profile to interval_coverage — one " +
        "user_id exchange feeds both the sweep window (O(1) running-" +
        "max state) and the rollup, and when both run in one DAG the " +
        "sweep itself is shared (same window, two derived columns). " +
        "The covered+gaps=span identity is the free end-to-end audit: " +
        "compute both, assert the sum, and any interval mangled " +
        "upstream surfaces as an identity violation rather than a " +
        "silently-wrong SLA number. Fleet-wide downtime re-runs the " +
        "sweep over per-key merged islands; a 'longest gap per day' " +
        "variant splits at day boundaries map-side first."),

    // Per-series linear trend + short-horizon forecast from EXACT
    // integer moments — the monitoring question after ts_ewma
    // smooths and ts_anomaly flags: where is each series HEADED?
    // OLS slope/intercept over (day-index, daily count) computed from
    // five integer sums (n, Σx, Σy, Σxy, Σx²) — associative,
    // mergeable, skew-immune, the agg_corr discipline — with the only
    // float ops two divisions and the h-step extrapolation, composed
    // identically on both engines and rounded to 4.
    QueryDef(
      "ts_linear_forecast",
      (spark, sf) => {
        val session = spark
        import session.implicits._
        val daily = dailySeries(Tables.loadEvents(spark, sf), "y")
        val pts = dayIndexed(daily)
        val s = pts.groupBy("event_type").agg(
          count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"), max(col("x")).as("mx"))
        val den = (col("n") * col("sxx") - col("sx") * col("sx"))
        val fit = s
          .withColumn("slope",
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              nullif(den, lit(0L)).cast("double"))
          .withColumn("intercept",
            (col("sy").cast("double") - col("slope") * col("sx").cast("double")) /
              col("n").cast("double"))
        val h = Seq(1, 2, 3).toDF("h")
        fit.crossJoin(broadcast(h))
          .select(col("event_type"), col("h"),
            round(col("slope"), 4).as("slope"),
            round(col("intercept"), 4).as("intercept"),
            round(col("intercept") +
              col("slope") * (col("mx") + col("h")).cast("double"), 4)
              .as("forecast"))
          .orderBy("event_type", "h")
      },
      Some(s"WITH ${dailySeriesSql("y")}, $DayIndexSql, " +
        "s AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy, sum(x*x) AS sxx, max(x) AS mx FROM pts GROUP BY 1), " +
        "fit AS (SELECT *, CAST(n*sxy - sx*sy AS DOUBLE) / nullif(CAST(n*sxx - sx*sx AS DOUBLE), 0) AS slope FROM s), " +
        "fi AS (SELECT *, (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept FROM fit) " +
        "SELECT event_type, h, round(slope, 4) AS slope, round(intercept, 4) AS intercept, " +
        "round(intercept + slope * CAST(mx + h AS DOUBLE), 4) AS forecast " +
        "FROM fi CROSS JOIN (VALUES (1), (2), (3)) AS hz(h) ORDER BY event_type, h"),
      scaleNote = "The five moments are one map-side-combined integer " +
        "agg over the daily rollup (itself map-side-combined over the " +
        "raw log) — the shuffle carries |types|×|days| then |types| " +
        "rows; the fit and extrapolation are per-group scalar math on " +
        "a dimension-sized table. Because raw moments are mergeable " +
        "partials, any date-range's fit recomposes in constant time " +
        "from pre-aggregated per-day moment tables (the agg_skew_" +
        "kurtosis property) — a year of trend dashboards never " +
        "rescans the log. Per-key trends (user, station, shard) scale " +
        "the same way: the group key changes, the plan does not; " +
        "seasonal-adjust first via ts_seasonal_dow's index when the " +
        "residual trend is the question."),

    // AR(1) — the AUTOREGRESSIVE member of the forecasting family
    // (ts_linear_forecast regresses on TIME and sees only trend;
    // ts_ewma/holt smooth but don't model; AR(1) regresses today's
    // count on YESTERDAY's, capturing mean-reversion/persistence —
    // φ near 1 = momentum, near 0 = noise around the mean, negative
    // = oscillation, and |φ| ≥ 1 = non-stationary, emitted as a
    // gate flag). Lag pairs come from ONE equi self-join of the
    // |types|×|days| daily grid on (type, day − 1) — never the raw
    // log — and the fit is the standard five exact BIGINT moments
    // over (x = y_{t−1}, y = y_t); φ, intercept c, R², and the
    // 1-step forecast c + φ·y_last compose once at the edge.
    // y_last is max_by(y, day) — exact, tie-free (one row per day).
    QueryDef(
      "ts_ar1",
      (spark, sf) => {
        val daily = dailySeries(Tables.loadEvents(spark, sf), "y")
        val pairs = daily.select(col("event_type"), col("day"),
            col("y").as("yt"))
          .join(daily.select(col("event_type"),
            date_add(col("day"), 1).as("day"), col("y").as("ym1")),
            Seq("event_type", "day"))
        val s = pairs.groupBy("event_type").agg(
          count(lit(1)).as("n"), sum(col("ym1")).as("sx"),
          sum(col("yt")).as("sy"),
          sum(col("ym1") * col("yt")).as("sxy"),
          sum(col("ym1") * col("ym1")).as("sxx"),
          sum(col("yt") * col("yt")).as("syy"))
        val last = daily.groupBy("event_type")
          .agg(max_by(col("y"), col("day")).as("y_last"))
        def d(c: Column) = c.cast("double")
        val vx = d(col("n") * col("sxx") - col("sx") * col("sx"))
        val vy = d(col("n") * col("syy") - col("sy") * col("sy"))
        val cxy = d(col("n") * col("sxy") - col("sx") * col("sy"))
        val phi = cxy / nullif(vx, lit(0.0))
        val c0 = (d(col("sy")) - phi * d(col("sx"))) / d(col("n"))
        s.join(last, Seq("event_type"))
          .select(col("event_type"), col("n").as("n_pairs"),
            round(phi, 4).as("phi"),
            round(c0, 4).as("intercept"),
            round(cxy * cxy / nullif(vx * vy, lit(0.0)), 4).as("r2"),
            col("y_last"),
            round(c0 + phi * d(col("y_last")), 4).as("forecast_next"),
            (abs(phi) < 1.0).as("stationary"))
          .orderBy("event_type")
      },
      Some(s"WITH ${dailySeriesSql("y")}, " +
        "pairs AS (SELECT a.event_type, a.y AS yt, b.y AS ym1 FROM daily a " +
        "JOIN daily b ON a.event_type = b.event_type AND a.day = b.day + INTERVAL 1 DAY), " +
        "s AS (SELECT event_type, count(*) AS n, sum(ym1) AS sx, sum(yt) AS sy, " +
        "sum(ym1*yt) AS sxy, sum(ym1*ym1) AS sxx, sum(yt*yt) AS syy FROM pairs GROUP BY 1), " +
        "lst AS (SELECT event_type, max_by(y, day) AS y_last FROM daily GROUP BY 1), " +
        "f AS (SELECT s.*, lst.y_last, " +
        "CAST(n*sxx - sx*sx AS DOUBLE) AS vx, CAST(n*syy - sy*sy AS DOUBLE) AS vy, " +
        "CAST(n*sxy - sx*sy AS DOUBLE) AS cxy FROM s JOIN lst ON s.event_type = lst.event_type), " +
        "g AS (SELECT *, cxy / nullif(vx, 0.0) AS phi FROM f), " +
        "h AS (SELECT *, (CAST(sy AS DOUBLE) - phi * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS c0 FROM g) " +
        "SELECT event_type, n AS n_pairs, round(phi, 4) AS phi, round(c0, 4) AS intercept, " +
        "round(cxy*cxy / nullif(vx*vy, 0.0), 4) AS r2, y_last, " +
        "round(c0 + phi * CAST(y_last AS DOUBLE), 4) AS forecast_next, " +
        "abs(phi) < 1.0 AS stationary " +
        "FROM h ORDER BY event_type"),
      scaleNote = "Everything happens on the aggregate-collapsed " +
        "daily grid: the lag join is |types|×|days| against itself " +
        "on an equi key (day − 1 computed on one side — the " +
        "ts_cross_correlation lesson: arithmetic on ONE side keeps " +
        "the join hashable), the moments are one map-side-combined " +
        "integer agg to |types| rows, and the fit is edge math. A " +
        "trillion-event log prices identically to a million-event " +
        "one past the first rollup. AR(p) is p lag joins (or one " +
        "window with p lags) widening the same moment vector; the " +
        "stationarity flag (|φ| < 1) is the gate a forecasting " +
        "pipeline checks before trusting the extrapolation — " +
        "non-stationary series route to differencing (ARIMA's d) " +
        "instead."),

    // Theil–Sen ROBUST trend (r12) — the missing robustness member
    // of the forecasting family: ts_linear_forecast's OLS slope is a
    // least-squares mean, so one logging outage or backfill spike
    // drags the whole trend (exactly the contamination ts_anomaly_mad
    // exists to flag — MAD is the robust LOCATION member, Theil–Sen
    // is its robust SLOPE sibling, breakdown point 29%). Estimator =
    // the exact MEDIAN of all pairwise slopes over the aggregate-
    // collapsed daily grid: slopes quantize to integer basis points
    // by one truncating division each ((dy·10⁴) div dx — div and //
    // both truncate toward zero, probed), the median is the exact
    // order statistic (row_number window, two-middle mean for even
    // counts — agg_median_exact's contract), and the OLS slope rides
    // along from the same grid so the report IS the robustness diff
    // a dashboard wants (sen ≈ ols ⇒ clean series; gap ⇒ outliers
    // are steering OLS).
    QueryDef(
      "ts_theil_sen",
      (spark, sf) => {
        val daily = dailySeries(Tables.loadEvents(spark, sf), "y")
        val pts = dayIndexed(daily).select(col("event_type"), col("x"), col("y"))
        val l = pts.select(col("event_type"), col("x").as("xa"),
          col("y").as("ya"))
        val r = pts.select(col("event_type"), col("x").as("xb"),
          col("y").as("yb"))
        val pairs = l.join(r, Seq("event_type"))
          .filter(col("xa") < col("xb"))
          .select(col("event_type"),
            expr("((yb - ya) * 10000) div (xb - xa)").as("slope_q"))
        val w = Window.partitionBy("event_type").orderBy("slope_q")
        val cw = Window.partitionBy("event_type")
        val med = pairs
          .withColumn("rn", row_number().over(w))
          .withColumn("cnt", count(lit(1)).over(cw))
          .filter(col("rn") === expr("(cnt + 1) div 2") ||
            col("rn") === expr("cnt div 2 + 1"))
          .groupBy("event_type")
          .agg(round(avg(col("slope_q")), 4).as("sen_bp"),
            max(col("cnt")).as("n_pairs"))
        val s = pts.groupBy("event_type").agg(
          count(lit(1)).as("n_days"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        def d(c: Column) = c.cast("double")
        s.join(med, Seq("event_type"))
          .select(col("event_type"), col("n_days"), col("n_pairs"),
            col("sen_bp"),
            round(d((col("n_days") * col("sxy") -
                col("sx") * col("sy")) * lit(10000L)) /
              nullif(d(col("n_days") * col("sxx") -
                col("sx") * col("sx")), lit(0.0)), 4).as("ols_bp"))
          .orderBy("event_type")
      },
      Some(s"WITH ${dailySeriesSql("y")}, $DayIndexSql, " +
        "pr AS (SELECT a.event_type, ((b.y - a.y) * 10000) // (b.x - a.x) AS slope_q " +
        "FROM pts a JOIN pts b ON a.event_type = b.event_type AND a.x < b.x), " +
        "rk AS (SELECT event_type, slope_q, row_number() OVER (PARTITION BY event_type ORDER BY slope_q) AS rn, " +
        "count(*) OVER (PARTITION BY event_type) AS cnt FROM pr), " +
        "md AS (SELECT event_type, round(avg(slope_q), 4) AS sen_bp, CAST(max(cnt) AS BIGINT) AS n_pairs " +
        "FROM rk WHERE rn = (cnt + 1) // 2 OR rn = cnt // 2 + 1 GROUP BY 1), " +
        "s AS (SELECT event_type, count(*) AS n_days, sum(x) AS sx, sum(y) AS sy, " +
        "sum(x*y) AS sxy, sum(x*x) AS sxx FROM pts GROUP BY 1) " +
        "SELECT s.event_type, n_days, n_pairs, sen_bp, " +
        "round(CAST((n_days*sxy - sx*sy) * 10000 AS DOUBLE) / nullif(CAST(n_days*sxx - sx*sx AS DOUBLE), 0), 4) AS ols_bp " +
        "FROM s JOIN md ON s.event_type = md.event_type ORDER BY s.event_type"),
      scaleNote = "Everything runs on the aggregate-collapsed daily " +
        "grid (|types|×|days| rows), so the pairwise stage is the " +
        "textbook O(d²) per series — ~5k pairs at d=100, trivially " +
        "partition-parallel because the self-join is an equi join on " +
        "the series key with the slope computed in the join output; " +
        "the raw log is never touched past the first rollup. Long " +
        "series (d in the tens of thousands) switch to the standard " +
        "k-pair SUBSAMPLE estimator: sample_consistent's hash picks " +
        "k deterministic pairs per series and the same median window " +
        "runs on k rows — accuracy ∝ 1/√k, plan unchanged. The " +
        "slope quantization (one truncating integer division per " +
        "pair, identical both engines) is what makes the MEDIAN " +
        "hash-stable: order statistics over exact integers cannot " +
        "drift with partitioning, where a float-slope median could " +
        "tie-break differently per layout. OLS rides the same grid " +
        "for free — the sen-vs-ols gap IS the outlier alarm."),

    // Mann–Kendall trend test (r16) — the SIGNIFICANCE half of the
    // robust-trend pair ts_theil_sen started (the two are the
    // textbook combo: Sen estimates HOW STEEP, Mann–Kendall answers
    // IS IT REAL — a monitoring pipeline alerts on the second and
    // reports the first). Distribution-free: S = Σ_{i<j}
    // sign(y_j − y_i) over the daily grid's ordered pairs — an
    // exact integer, computed on the SAME equi-self-join the Sen
    // slope already runs. The tie-corrected variance is exact too:
    // var18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) (18·Var(S), kept in
    // integer units so no engine ever divides early), with the tie
    // groups read off a |distinct y| aggregate of the grid. Only
    // the final z composes in floats — one sqrt of exact-integer
    // inputs, IEEE-identical on both engines, rounded at the edge
    // (ts_theil_sen's discipline) — and the ±1.96 alert fires on
    // the ROUNDED value so both engines gate identically.
    QueryDef(
      "ts_mann_kendall",
      (spark, sf) => {
        val daily = dailySeries(Tables.loadEvents(spark, sf), "y")
        val pts = dayIndexed(daily).select(col("event_type"), col("x"), col("y"))
        val l = pts.select(col("event_type"), col("x").as("xa"),
          col("y").as("ya"))
        val r = pts.select(col("event_type"), col("x").as("xb"),
          col("y").as("yb"))
        val ps = l.join(r, Seq("event_type"))
          .filter(col("xa") < col("xb"))
          .select(col("event_type"),
            when(col("yb") > col("ya"), 1L)
              .when(col("yb") < col("ya"), -1L)
              .otherwise(0L).as("sgn"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("sgn")).as("s_stat"),
            sum(when(col("sgn") === 0L, 1L).otherwise(0L))
              .as("n_tie_pairs"))
        val ties = pts.groupBy(col("event_type"), col("y"))
          .agg(count(lit(1)).as("t"))
          .groupBy("event_type")
          .agg(sum(col("t")).as("n_days"),
            sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_term"))
        ps.join(ties, Seq("event_type"))
          .withColumn("var18", expr(
            "n_days * (n_days - 1) * (2 * n_days + 5) - tie_term"))
          .withColumn("s_adj",
            when(col("s_stat") > 0, col("s_stat") - 1)
              .when(col("s_stat") < 0, col("s_stat") + 1)
              .otherwise(0L))
          .withColumn("z_score",
            round(col("s_adj").cast("double") /
              when(col("var18") <= 0, lit(null).cast("double"))
                .otherwise(sqrt(col("var18").cast("double") / 18.0)), 4))
          .select(col("event_type"), col("n_days"), col("n_pairs"),
            col("s_stat"), col("n_tie_pairs"), col("var18"),
            col("z_score"),
            coalesce(abs(col("z_score")) > 1.96, lit(false))
              .as("trending"))
          .orderBy("event_type")
      },
      Some(s"WITH ${dailySeriesSql("y")}, $DayIndexSql, " +
        "pr AS (SELECT a.event_type, CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn " +
        "FROM pts a JOIN pts b ON a.event_type = b.event_type AND a.x < b.x), " +
        "ps AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs, CAST(sum(sgn) AS BIGINT) AS s_stat, " +
        "CAST(sum(CASE WHEN sgn = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tie_pairs FROM pr GROUP BY 1), " +
        "tg AS (SELECT event_type, y, count(*) AS t FROM pts GROUP BY 1, 2), " +
        "ti AS (SELECT event_type, CAST(sum(t) AS BIGINT) AS n_days, CAST(sum(t*(t-1)*(2*t+5)) AS BIGINT) AS tie_term FROM tg GROUP BY 1), " +
        "j AS (SELECT ps.event_type, n_days, n_pairs, s_stat, n_tie_pairs, " +
        "n_days*(n_days-1)*(2*n_days+5) - tie_term AS var18, " +
        "CASE WHEN s_stat > 0 THEN s_stat - 1 WHEN s_stat < 0 THEN s_stat + 1 ELSE 0 END AS s_adj " +
        "FROM ps JOIN ti ON ps.event_type = ti.event_type), " +
        "z AS (SELECT *, round(CAST(s_adj AS DOUBLE) / " +
        "CASE WHEN var18 <= 0 THEN NULL ELSE sqrt(CAST(var18 AS DOUBLE) / 18.0) END, 4) AS z_score FROM j) " +
        "SELECT event_type, n_days, n_pairs, s_stat, n_tie_pairs, CAST(var18 AS BIGINT) AS var18, z_score, " +
        "COALESCE(abs(z_score) > 1.96, FALSE) AS trending " +
        "FROM z ORDER BY event_type"),
      scaleNote = "ts_theil_sen's economics verbatim — the pairwise " +
        "stage runs on the aggregate-collapsed daily grid " +
        "(|types|×|days| rows; ~5k pairs at d=100, an equi self-join " +
        "on the series key with the sign computed in the join " +
        "output), the raw log is touched once by the first rollup, " +
        "and long series switch to the same deterministic k-pair " +
        "subsample (S/n_pairs is a mean of bounded terms — accuracy " +
        "∝ 1/√k, plan unchanged). S, the pair census, and the " +
        "tie-corrected 18·Var(S) are EXACT BIGINTs (var18's leading " +
        "term n³ overflows past n ≈ 2e6 days — five thousand years " +
        "of daily data; DECIMAL(38,0) past it, the house fence), so " +
        "the only float is the final z — one sqrt over exact " +
        "integers, rounded at the edge, with the ±1.96 alert firing " +
        "on the rounded value so both engines gate identically. " +
        "Paired with ts_theil_sen this is the complete robust-trend " +
        "monitor: alert on MK significance, report the Sen slope."),

    // Rolling-origin forecast BACKTEST (r11) — the evaluation step
    // the forecasting family was missing: ts_linear_forecast and
    // ts_ar1 each emit a forecast, but which model should a
    // monitoring pipeline trust? Expanding-window backtest: at every
    // cutoff day t (≥ 5 observations), fit on days ≤ t ONLY and
    // forecast the next observed day, for three models — naive
    // persistence (ŷ = y_t, the baseline every paper forgets),
    // linear trend (ts_linear_forecast's OLS on day index), and
    // AR(1) (ts_ar1's lag regression) — then score against the
    // actual. All fits come from CUMULATIVE exact integer moments
    // (one window pass per type over the daily grid: the expanding
    // window IS a prefix sum, so t fits cost one pass, not t
    // passes); each fold's error floor-quantizes to integer basis
    // points immediately (dedup_minhash_accuracy's discipline — raw
    // float SUMS would be partition-order-dependent), so the
    // per-model score card (n_folds, Σ|err|, Σerr, max|err|) is
    // exact BIGINTs and the model ranking is bit-stable anywhere.
    QueryDef(
      "ts_forecast_backtest",
      (spark, sf) => {
        val daily = dailySeries(Tables.loadEvents(spark, sf), "y")
        val wAll = Window.partitionBy("event_type").orderBy("day")
        val wCum = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)
        val base = dayIndexed(daily)
          .withColumn("yl", lag(col("y"), 1).over(wAll))
          .withColumn("xn", lead(col("x"), 1).over(wAll))
          .withColumn("yn", lead(col("y"), 1).over(wAll))
        def cum(c: Column, name: String) = sum(c).over(wCum).as(name)
        val m = base.select(col("event_type"), col("x"), col("y"),
          col("xn"), col("yn"),
          cum(lit(1L), "cn"), cum(col("x"), "sx"), cum(col("y"), "sy"),
          cum(col("x") * col("y"), "sxy"),
          cum(col("x") * col("x"), "sxx"),
          cum(when(col("yl").isNotNull, 1L).otherwise(0L), "pn"),
          cum(when(col("yl").isNotNull, col("yl")).otherwise(0L), "psx"),
          cum(when(col("yl").isNotNull, col("y")).otherwise(0L), "psy"),
          cum(when(col("yl").isNotNull, col("yl") * col("y"))
            .otherwise(0L), "psxy"),
          cum(when(col("yl").isNotNull, col("yl") * col("yl"))
            .otherwise(0L), "psxx"))
        def d(c: Column) = c.cast("double")
        val denL = d(col("cn") * col("sxx") - col("sx") * col("sx"))
        val bL = d(col("cn") * col("sxy") - col("sx") * col("sy")) / denL
        val aL = (d(col("sy")) - bL * d(col("sx"))) / d(col("cn"))
        val denA = d(col("pn") * col("psxx") - col("psx") * col("psx"))
        val phi = d(col("pn") * col("psxy") - col("psx") * col("psy")) / denA
        val cA = (d(col("psy")) - phi * d(col("psx"))) / d(col("pn"))
        val folds = m
          .filter(col("yn").isNotNull && col("cn") >= 5 &&
            col("pn") >= 3 && denL > 0.0 && denA > 0.0)
          .select(col("event_type"),
            floor((d(col("y")) - d(col("yn"))) * 10000)
              .cast("long").as("e_naive"),
            floor((aL + bL * d(col("xn")) - d(col("yn"))) * 10000)
              .cast("long").as("e_linear"),
            floor((cA + phi * d(col("y")) - d(col("yn"))) * 10000)
              .cast("long").as("e_ar1"))
        folds.select(col("event_type"), expr(
            "stack(3, 'ar1', e_ar1, 'linear', e_linear, 'naive', e_naive) " +
              "AS (model, err_bp)"))
          .groupBy("event_type", "model")
          .agg(count(lit(1)).as("n_folds"),
            sum(abs(col("err_bp"))).as("sum_abs_err_bp"),
            sum(col("err_bp")).as("sum_err_bp"),
            max(abs(col("err_bp"))).as("max_abs_err_bp"))
          .orderBy("event_type", "model")
      },
      Some(s"WITH ${dailySeriesSql("y")}, " +
        "dx AS (SELECT event_type, day, y, " +
        "CAST(date_diff('day', min(day) OVER (PARTITION BY event_type), day) AS BIGINT) AS x FROM daily), " +
        "base AS (SELECT event_type, day, y, x, " +
        "lag(y) OVER tw AS yl, lead(x) OVER tw AS xn, lead(y) OVER tw AS yn " +
        "FROM dx WINDOW tw AS (PARTITION BY event_type ORDER BY day)), " +
        "m AS (SELECT event_type, x, y, xn, yn, " +
        "CAST(count(*) OVER cw AS BIGINT) AS cn, CAST(sum(x) OVER cw AS BIGINT) AS sx, CAST(sum(y) OVER cw AS BIGINT) AS sy, " +
        "CAST(sum(x*y) OVER cw AS BIGINT) AS sxy, CAST(sum(x*x) OVER cw AS BIGINT) AS sxx, " +
        "CAST(sum(CASE WHEN yl IS NOT NULL THEN 1 ELSE 0 END) OVER cw AS BIGINT) AS pn, " +
        "CAST(sum(CASE WHEN yl IS NOT NULL THEN yl ELSE 0 END) OVER cw AS BIGINT) AS psx, " +
        "CAST(sum(CASE WHEN yl IS NOT NULL THEN y ELSE 0 END) OVER cw AS BIGINT) AS psy, " +
        "CAST(sum(CASE WHEN yl IS NOT NULL THEN yl*y ELSE 0 END) OVER cw AS BIGINT) AS psxy, " +
        "CAST(sum(CASE WHEN yl IS NOT NULL THEN yl*yl ELSE 0 END) OVER cw AS BIGINT) AS psxx " +
        "FROM base WINDOW cw AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
        "f AS (SELECT *, CAST(cn*sxx - sx*sx AS DOUBLE) AS denl, CAST(pn*psxx - psx*psx AS DOUBLE) AS dena FROM m " +
        "WHERE yn IS NOT NULL AND cn >= 5 AND pn >= 3), " +
        "g AS (SELECT *, CAST(cn*sxy - sx*sy AS DOUBLE)/denl AS bl, " +
        "CAST(pn*psxy - psx*psy AS DOUBLE)/dena AS phi FROM f WHERE denl > 0.0 AND dena > 0.0), " +
        "h AS (SELECT event_type, " +
        "CAST(floor((CAST(y AS DOUBLE) - CAST(yn AS DOUBLE)) * 10000) AS BIGINT) AS e_naive, " +
        "CAST(floor(((CAST(sy AS DOUBLE) - bl*CAST(sx AS DOUBLE))/CAST(cn AS DOUBLE) + bl*CAST(xn AS DOUBLE) - CAST(yn AS DOUBLE)) * 10000) AS BIGINT) AS e_linear, " +
        "CAST(floor(((CAST(psy AS DOUBLE) - phi*CAST(psx AS DOUBLE))/CAST(pn AS DOUBLE) + phi*CAST(y AS DOUBLE) - CAST(yn AS DOUBLE)) * 10000) AS BIGINT) AS e_ar1 FROM g), " +
        "u AS (SELECT event_type, 'naive' AS model, e_naive AS err_bp FROM h " +
        "UNION ALL SELECT event_type, 'linear', e_linear FROM h " +
        "UNION ALL SELECT event_type, 'ar1', e_ar1 FROM h) " +
        "SELECT event_type, model, count(*) AS n_folds, " +
        "CAST(sum(abs(err_bp)) AS BIGINT) AS sum_abs_err_bp, " +
        "CAST(sum(err_bp) AS BIGINT) AS sum_err_bp, " +
        "CAST(max(abs(err_bp)) AS BIGINT) AS max_abs_err_bp " +
        "FROM u GROUP BY 1, 2 ORDER BY 1, 2"),
      scaleNote = "The expanding window IS a prefix sum: every " +
        "cutoff's fit moments come from ONE cumulative window pass " +
        "per type over the |types|×|days| daily grid (never a " +
        "refit-per-fold loop, never the raw log — t folds cost one " +
        "pass), and the per-fold fits are row-local edge " +
        "expressions. Errors quantize to integer basis points " +
        "BEFORE aggregation, so the score card is exact-sum " +
        "arithmetic — the model ranking cannot flip with " +
        "partitioning, which matters because this operator's " +
        "output IS a decision (which forecaster the alerting " +
        "pipeline trusts per series). Walk-forward with a sliding " +
        "(not expanding) window is the same plan with bounded-" +
        "preceding frames; h-step-ahead backtests swap lead(1) for " +
        "lead(h)."),

    // Robust anomaly detection: the MAD (median-absolute-deviation)
    // sibling of ts_anomaly's z-score — medians don't move when the
    // anomaly itself inflates the baseline, which is exactly when a
    // mean/stddev monitor goes blind (one 10× spike day drags the
    // mean toward itself; the median ignores it). All medians are
    // EXACT and kept in scaled integers: med2 = 2·median(y) and
    // mad4 = 4·MAD are integers by construction (rank-sum middle
    // pairs — agg_median_exact's device, applied twice), so the only
    // floats are the final ×0.6745 modified-z compose and two display
    // divisions, all correctly rounded.
    // Kaplan-Meier conversion survival (r13) — the time-to-event
    // member the funnel family was missing: funnel_time_to_convert
    // averages over users who DID convert, which is survivorship bias
    // by construction (the slowest convertors are exactly the ones
    // still pending when the window closes). KM handles them as
    // right-censored observations: subject = a user's FIRST signup,
    // event = their first qualifying purchase (value ≥ 100 — a stated
    // policy literal) at or after it, duration in exact integer hours
    // (epoch-micros difference, one floor division — never
    // date_diff, whose hour-BOUNDARY counting differs from elapsed
    // time). A user with no qualifying purchase is censored at the
    // stream watermark, NOT dropped (34/150 at sf0.01 — both paths
    // live). The curve: at each distinct duration t, risk set n_t =
    // subjects with duration ≥ t (censored-at-t kept at risk for
    // deaths at t — the standard deaths-before-censoring tie rule),
    // d_t conversions, step ln((n_t−d_t)/n_t) floor-quantized to
    // micro-nats (corpus_mix_kl's discipline: one ln of an exact
    // integer ratio, floored BEFORE the cumulative sum), and
    // log-survival = the running sum of steps — ln S(t), exact
    // integers end to end once each step is quantized. The dashboard
    // exponentiates for display; the engine never needs exp().
    QueryDef(
      "surv_kaplan_meier",
      (spark, sf) => {
        val wseq = Window.orderBy("dur_h")
          .rowsBetween(Window.unboundedPreceding, 0)
        // the d = n_risk branch (terminal step, S(t) hits 0) must be
        // an EXPLICIT stated NULL (r13 ADVICE #1): Spark log(0)
        // returns NULL which the running sum silently skips, but
        // DuckDB ln(0) throws a hard Out of Range error — so without
        // the guard the all-deaths terminal row is a latent oracle
        // crash on one engine and a silent skip on the other. The
        // surv_zero column already flags the row; the NULL step makes
        // both engines' running sums skip it identically by contract.
        survRiskGrid(spark, sf)
          .withColumn("step_micro",
            when(col("d") === 0L, lit(0L))
              .when(col("d") === col("n_risk"), lit(null).cast("long"))
              .otherwise(
              floor(log((col("n_risk") - col("d")).cast("double") /
                col("n_risk").cast("double")) * lit(1000000.0))
                .cast("long")))
          .withColumn("log_surv_micro",
            sum(col("step_micro")).over(wseq))
          .select(col("dur_h"), col("n_risk"), col("d").as("d_conv"),
            col("c").as("c_cens"), col("step_micro"),
            col("log_surv_micro"),
            (col("d") === col("n_risk")).as("surv_zero"))
          .orderBy("dur_h")
      },
      Some(s"WITH $SurvSqlCtes, " +
        "s AS (SELECT *, CASE WHEN d = 0 THEN 0 WHEN d = n_risk THEN NULL ELSE CAST(floor(ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE)) * 1000000.0) AS BIGINT) END AS step_micro FROM r) " +
        "SELECT dur_h, n_risk, d AS d_conv, c AS c_cens, step_micro, " +
        "CAST(sum(step_micro) OVER (ORDER BY dur_h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS log_surv_micro, " +
        "d = n_risk AS surv_zero FROM s ORDER BY dur_h"),
      scaleNote = "Three aggregates collapse the stream before any " +
        "window: per-user first-signup and first-qualifying-purchase " +
        "(both map-side combinable min's keyed by user), then the " +
        "duration grid keyed by integer hour — so the global window " +
        "(the adjudicated aggregate-collapsed-grid pattern) sees " +
        "|distinct durations| rows (≤ observation hours: ~700 here, " +
        "~2k for a 90-day window), never |users|, whatever the " +
        "corpus size. The signup⋈purchase join shuffles on user_id " +
        "once — co-partitioned with the groupBy that follows. The " +
        "float fence is corpus_mix_kl's: each KM factor composes ONE " +
        "ln from an exact integer ratio and floors to micro-nats " +
        "BEFORE the cumulative sum, so the curve is bit-identical " +
        "under any partitioning; exp() never runs in-engine. " +
        "Stratified KM (per cohort/segment) adds the stratum to " +
        "every key and the window partition — same plan. The " +
        "value ≥ 100 qualifier and the censoring-at-watermark rule " +
        "are stated policy; a (segment, threshold) manifest joins in " +
        "like dq_freshness_sla's."),

    // Nelson-Aalen cumulative hazard (r13) — Kaplan-Meier's exact-
    // integer sibling on the SAME risk grid: where KM multiplies
    // survival factors (one ln per step under the micro-nat fence),
    // NA sums hazard increments d_t/n_t directly — and because each
    // increment is ONE integer floor division (d·1e6 div n), the
    // whole curve is exact integer arithmetic with NO transcendental
    // anywhere, the strongest determinism class in the house. The
    // two estimators bracket each other (−ln S(t) ≥ H(t), Jensen on
    // the step level: −ln(1−x) ≥ x), which makes the PAIR a built-in
    // cross-check a survival dashboard gets for free; NA is also the
    // estimator of choice when risk sets are small (its increments
    // stay defined at d = n, exactly where KM's ln(0) dies).
    QueryDef(
      "surv_nelson_aalen",
      (spark, sf) => {
        val wseq = Window.orderBy("dur_h")
          .rowsBetween(Window.unboundedPreceding, 0)
        survRiskGrid(spark, sf)
          .withColumn("haz_step_micro", expr("(d * 1000000) div n_risk"))
          .withColumn("cum_haz_micro",
            sum(col("haz_step_micro")).over(wseq))
          .withColumn("var_step_pico",
            expr("(d * 1000000000000) div (n_risk * n_risk)"))
          .withColumn("cum_var_pico",
            sum(col("var_step_pico")).over(wseq))
          .select(col("dur_h"), col("n_risk"), col("d").as("d_conv"),
            col("c").as("c_cens"), col("haz_step_micro"),
            col("cum_haz_micro"), col("cum_var_pico"))
          .orderBy("dur_h")
      },
      Some(s"WITH $SurvSqlCtes, " +
        "h AS (SELECT *, (d * 1000000) // n_risk AS haz_step_micro, (d * 1000000000000) // (n_risk * n_risk) AS var_step_pico FROM r) " +
        "SELECT dur_h, n_risk, d AS d_conv, c AS c_cens, haz_step_micro, " +
        "CAST(sum(haz_step_micro) OVER win AS BIGINT) AS cum_haz_micro, " +
        "CAST(sum(var_step_pico) OVER win AS BIGINT) AS cum_var_pico " +
        "FROM h WINDOW win AS (ORDER BY dur_h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ORDER BY dur_h"),
      scaleNote = "Identical economics to surv_kaplan_meier (the two " +
        "share [[survRiskGrid]] verbatim — three map-side aggregates " +
        "collapse the stream to the duration grid, the global window " +
        "runs on |distinct durations| rows), but a strictly stronger " +
        "determinism class: every hazard increment is an integer " +
        "floor division and the curve a running BIGINT sum — no ln, " +
        "no float multiply, nothing transcendental, so the 100 TB " +
        "curve is bit-identical by construction rather than by the " +
        "micro-nat fence argument. The Aalen variance rides the same " +
        "window in pico units (d·1e12 div n² — n ≥ 1 keeps terms " +
        "≤ 1e12, sums ≪ 2^63 up to 9e6 grid rows). Greenwood bands " +
        "for KM compose from the same var column; stratified curves " +
        "add the stratum key to grid and window as in KM."),

    // Log-rank test (r13) — the TEST completing the survival family
    // (KM/NA estimate one curve; the log-rank decides whether TWO
    // differ — "does variant B convert faster?", the survival
    // family's A/B readout): groups = the house user_id % 2 split
    // over the same signup→purchase framing, and at each distinct
    // duration the hypergeometric machinery runs in exact integers —
    // expected group-0 deaths e0 = d·n0 div n and variance
    // v = d·n0·n1·(n−d) div (n²·(n−1)), both floor-quantized to
    // micro BEFORE the sums (the corpus_mix_kl discipline), so the
    // χ² = (Σ(o−e))²/Σv composes from two exact BIGINTs with floats
    // only in the final edge expression. Emits the full per-time
    // log-rank table (the audit trail a biostatistics reviewer
    // expects), with the test row constants riding every row.
    QueryDef(
      "surv_logrank",
      (spark, sf) => {
        val durs = survDurations(spark, sf)
          .withColumn("g", col("user_id") % 2)
        val grid = durs.groupBy("dur_h")
          .agg(sum(when(col("g") === 0, col("ev")).otherwise(0L)).as("d0"),
            sum(when(col("g") === 0, lit(1L) - col("ev")).otherwise(0L))
              .as("c0"),
            sum(when(col("g") === 1, col("ev")).otherwise(0L)).as("d1"),
            sum(when(col("g") === 1, lit(1L) - col("ev")).otherwise(0L))
              .as("c1"))
        val wseq = Window.orderBy("dur_h")
          .rowsBetween(Window.unboundedPreceding, 0)
        val tot = grid.agg(sum(col("d0") + col("c0")).as("t0"),
          sum(col("d1") + col("c1")).as("t1"))
        val r = grid.crossJoin(broadcast(tot))
          .withColumn("n0", col("t0") -
            sum(col("d0") + col("c0")).over(wseq) + col("d0") + col("c0"))
          .withColumn("n1", col("t1") -
            sum(col("d1") + col("c1")).over(wseq) + col("d1") + col("c1"))
          .withColumn("n", col("n0") + col("n1"))
          .withColumn("d", col("d0") + col("d1"))
          .withColumn("e0_micro", expr("(d * n0 * 1000000) div n"))
          // TWO truncating steps (r13 ADVICE #4): the single-division
          // spelling d·n0·n1·(n−d)·1e6 div n²(n−1) overflows 2^63 at
          // ~13k subjects under the d-scales-with-n worst case of
          // this hour-granular grid (d ≈ n/700 ⇒ product ~n⁴·357) —
          // and on overflow Spark BIGINT wraps silently while DuckDB
          // errors. Splitting after the first ÷n caps the largest
          // intermediate at ~n³·357 (boundary ~300k subjects, a 20×
          // raise) and costs at most 1 micro-unit per grid row
          // (the dropped remainder r < n contributes r(n−d)/(n²(n−1))
          // < 1/(n−1) to the true quotient), identical on both
          // engines by the fn_math-pinned truncation-parity contract.
          .withColumn("v_micro",
            when(col("n") > 1L,
              expr("(((d * n0 * n1 * 1000000) div n) * (n - d)) div (n * (n - 1))"))
              .otherwise(0L))
        val test = r.agg(
          sum(col("d0") * lit(1000000L) - col("e0_micro")).as("oe_micro"),
          sum(col("v_micro")).as("var_micro"))
        val chi2raw = (col("oe_micro").cast("double") / lit(1000000.0)) *
          (col("oe_micro").cast("double") / lit(1000000.0)) /
          (col("var_micro").cast("double") / lit(1000000.0))
        r.crossJoin(broadcast(test))
          .select(col("dur_h"), col("n0"), col("n1"), col("d0"),
            col("d1"), col("e0_micro"), col("v_micro"),
            col("oe_micro"), col("var_micro"),
            when(col("var_micro") > 0L, round(chi2raw, 4)).as("chi2"),
            // significant compares the UNROUNDED chi2 on both engines
            // (a rounded compare can flip at the 3.841 boundary)
            coalesce(when(col("var_micro") > 0L, chi2raw > lit(3.841)),
              lit(false)).as("significant"))
          .orderBy("dur_h")
      },
      Some(s"WITH $SurvSqlCtes, " +
        "dg AS (SELECT dur_h, " +
        "CAST(sum(CASE WHEN user_id % 2 = 0 THEN ev ELSE 0 END) AS BIGINT) AS d0, " +
        "CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 - ev ELSE 0 END) AS BIGINT) AS c0, " +
        "CAST(sum(CASE WHEN user_id % 2 = 1 THEN ev ELSE 0 END) AS BIGINT) AS d1, " +
        "CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 - ev ELSE 0 END) AS BIGINT) AS c1 FROM du GROUP BY 1), " +
        "tt AS (SELECT CAST(sum(d0 + c0) AS BIGINT) AS t0, CAST(sum(d1 + c1) AS BIGINT) AS t1 FROM dg), " +
        "rk AS (SELECT dg.*, t0 - CAST(sum(d0 + c0) OVER win AS BIGINT) + d0 + c0 AS n0, t1 - CAST(sum(d1 + c1) OVER win AS BIGINT) + d1 + c1 AS n1 FROM dg CROSS JOIN tt WINDOW win AS (ORDER BY dur_h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
        "rr AS (SELECT *, n0 + n1 AS n, d0 + d1 AS d FROM rk), " +
        "rm AS (SELECT *, (d * n0 * 1000000) // n AS e0_micro, CASE WHEN n > 1 THEN (((d * n0 * n1 * 1000000) // n) * (n - d)) // (n * (n - 1)) ELSE 0 END AS v_micro FROM rr), " +
        "ts AS (SELECT CAST(sum(d0 * 1000000 - e0_micro) AS BIGINT) AS oe_micro, CAST(sum(v_micro) AS BIGINT) AS var_micro FROM rm) " +
        "SELECT dur_h, n0, n1, d0, d1, e0_micro, v_micro, oe_micro, var_micro, " +
        "CASE WHEN var_micro > 0 THEN round((CAST(oe_micro AS DOUBLE) / 1000000.0) * (CAST(oe_micro AS DOUBLE) / 1000000.0) / (CAST(var_micro AS DOUBLE) / 1000000.0), 4) END AS chi2, " +
        "COALESCE(CASE WHEN var_micro > 0 THEN (CAST(oe_micro AS DOUBLE) / 1000000.0) * (CAST(oe_micro AS DOUBLE) / 1000000.0) / (CAST(var_micro AS DOUBLE) / 1000000.0) > 3.841 END, FALSE) AS significant " +
        "FROM rm CROSS JOIN ts ORDER BY dur_h"),
      scaleNote = "survRiskGrid's economics with a group key: the " +
        "per-user collapse and the duration-grid aggregate are the " +
        "same map-side passes (4 conditional cells per grid row " +
        "instead of 2), and both risk-set windows run on the " +
        "|distinct durations| grid, never on users. The " +
        "hypergeometric terms are the overflow-watched part, and the " +
        "variance division runs in TWO truncating steps (÷n first, " +
        "then ÷n(n−1)) so the largest intermediate is ~d·n²·1e6: " +
        "under the d-scales-with-n worst case of an hour-granular " +
        "grid (d ≈ n/700) that holds under 2^63 to ~300k subjects " +
        "at risk — the single-division spelling wrapped silently at " +
        "~13k, a 20× raise for ≤1 micro-unit of stated truncation " +
        "bias per grid row. Past 300k, escalate to DECIMAL(38,0) " +
        "partials (agg_corr's escalation), stated not silent. " +
        "O−E and V floor to micro BEFORE summing, so the χ² " +
        "inputs are two exact BIGINTs and the verdict cannot flip " +
        "with partitioning. Stratified log-rank (by segment) adds " +
        "the stratum to every key and sums the same two columns " +
        "across strata; the Wilcoxon-Gehan variant just weights " +
        "each row by n before the same sums."),

    // CUSUM drift monitor (r13) — the control-chart member the
    // monitoring family was missing: z-scores (ts_anomaly) and MAD
    // (ts_anomaly_mad) catch SPIKES, but a feed that drifts 10%
    // above target never trips a per-point threshold — cumulative
    // sums do, by accumulating small deviations until they cross h
    // (Page's CUSUM, the classic SPC chart). The sequential
    // recursion S_t = max(0, S_{t-1} + d_t) is NOT computed as a
    // loop: it has the exact closed form S_t = P_t − min(0,
    // min_{i≤t} P_i) over the deviation prefix sums P — two window
    // passes (prefix sum, then prefix min), no recursion, no
    // per-row state, the expanding-window-backtest lesson applied
    // to SPC. Everything is exact micro-unit integers: the target
    // is the feed's own mean (tot·1e6 div days), allowance k =
    // mu/20 (5%), alarm threshold h = 2·mu — stated policy
    // literals; both the high-side and low-side charts ride the
    // same two windows.
    QueryDef(
      "ts_cusum",
      (spark, sf) => {
        val d = cusumCounts(Tables.loadEvents(spark, sf))
        val stats = d.groupBy("event_type")
          .agg(sum(col("n")).as("tot"), count(lit(1)).as("nd"))
          .select(col("event_type"),
            expr("(tot * 1000000) div nd").as("mu_micro"))
        val wseq = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)
        d.join(broadcast(stats), "event_type")
          .withColumn("k", expr("mu_micro div 20"))
          .withColumn("p_hi",
            sum(col("n") * lit(1000000L) - col("mu_micro") - col("k"))
              .over(wseq))
          .withColumn("p_lo",
            sum(col("mu_micro") - col("k") - col("n") * lit(1000000L))
              .over(wseq))
          .withColumn("m_hi", least(lit(0L), min(col("p_hi")).over(wseq)))
          .withColumn("m_lo", least(lit(0L), min(col("p_lo")).over(wseq)))
          .select(col("event_type"), col("day"), col("n"),
            col("mu_micro"),
            (col("p_hi") - col("m_hi")).as("cusum_hi_micro"),
            (col("p_lo") - col("m_lo")).as("cusum_lo_micro"),
            ((col("p_hi") - col("m_hi")) > lit(2L) * col("mu_micro"))
              .as("alarm_hi"),
            ((col("p_lo") - col("m_lo")) > lit(2L) * col("mu_micro"))
              .as("alarm_lo"))
          .orderBy("event_type", "day")
      },
      Some("WITH d AS (SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n FROM events GROUP BY 1, 2), " +
        "st AS (SELECT event_type, (CAST(sum(n) AS BIGINT) * 1000000) // count(*) AS mu_micro FROM d GROUP BY 1), " +
        "j AS (SELECT d.event_type, day, n, mu_micro, mu_micro // 20 AS k FROM d JOIN st ON d.event_type = st.event_type), " +
        "p AS (SELECT *, CAST(sum(n*1000000 - mu_micro - k) OVER win AS BIGINT) AS p_hi, " +
        "CAST(sum(mu_micro - k - n*1000000) OVER win AS BIGINT) AS p_lo FROM j " +
        "WINDOW win AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
        "m AS (SELECT *, least(0, min(p_hi) OVER win) AS m_hi, least(0, min(p_lo) OVER win) AS m_lo FROM p " +
        "WINDOW win AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
        "SELECT event_type, CAST(day AS TIMESTAMP) AS day, n, mu_micro, " +
        "p_hi - m_hi AS cusum_hi_micro, p_lo - m_lo AS cusum_lo_micro, " +
        "(p_hi - m_hi) > 2 * mu_micro AS alarm_hi, " +
        "(p_lo - m_lo) > 2 * mu_micro AS alarm_lo " +
        "FROM m ORDER BY event_type, day"),
      scaleNote = "The daily rollup collapses the stream to " +
        "|feeds|·|days| rows before any window touches it — window " +
        "input is timeline-sized at any corpus scale, and both " +
        "windows partition by feed (ts_anomaly's economics with the " +
        "per-feed key). The closed form is the scale point: Page's " +
        "recursion looks inherently sequential, but prefix-sum-" +
        "minus-running-min is two one-pass window frames, so the " +
        "chart distributes exactly like any cumulative metric — no " +
        "mapGroups state, no driver loop. Exact integer micro-units " +
        "end to end (sums bounded by days·daily-count·1e6 ≪ 2^63); " +
        "the mean/allowance/threshold are stated policy literals a " +
        "production chart replaces with its own target table — a " +
        "(feed, mu, k, h) manifest joins in exactly like " +
        "dq_freshness_sla's."),

    QueryDef(
      "ts_anomaly_mad",
      (spark, sf) => {
        val daily = Tables.loadEvents(spark, sf)
          .groupBy(col("event_type"),
            date_format(col("ts"), "yyyy-MM-dd").as("day"))
          .agg(count(lit(1)).as("y"))
        val w1 = Window.partitionBy("event_type").orderBy("y", "day")
        val ww = Window.partitionBy("event_type")
        val med = daily
          .withColumn("rn", row_number().over(w1))
          .withColumn("n", count(lit(1)).over(ww))
          .groupBy("event_type")
          .agg(max(col("n")).as("n_days"),
            (sum(when(col("rn") === expr("(n + 1) div 2") ||
                col("rn") === expr("(n + 2) div 2"), col("y"))) *
              when(max(col("n")) % 2 === 1, 2).otherwise(1)).as("med2"))
        val dev = daily.join(med, "event_type")
          .withColumn("dev2s", col("y") * 2 - col("med2"))
          .withColumn("dev2", abs(col("dev2s")))
        val w2 = Window.partitionBy("event_type").orderBy("dev2", "day")
        val mad = dev
          .withColumn("rn2", row_number().over(w2))
          .groupBy("event_type")
          .agg((sum(when(col("rn2") === expr("(n_days + 1) div 2") ||
              col("rn2") === expr("(n_days + 2) div 2"), col("dev2"))) *
            when(max(col("n_days")) % 2 === 1, 2).otherwise(1)).as("mad4"))
        dev.join(mad, "event_type")
          .withColumn("robust_z",
            when(col("mad4") > 0,
              round(lit(0.6745) * (col("dev2s") * 2).cast("double") /
                col("mad4").cast("double"), 4)))
          .select(col("event_type"), col("day"), col("y"),
            (col("med2").cast("double") / 2).as("median_y"),
            (col("mad4").cast("double") / 4).as("mad_y"),
            col("robust_z"),
            coalesce(abs(col("robust_z")) > 3.5, lit(false)).as("is_outlier"))
          .orderBy("event_type", "day")
      },
      Some("WITH daily AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, count(*) AS y FROM events GROUP BY 1, 2), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY y, day) AS rn, count(*) OVER (PARTITION BY event_type) AS n FROM daily), " +
        "med AS (SELECT event_type, max(n) AS n_days, CAST(sum(CASE WHEN rn = (n + 1) // 2 OR rn = (n + 2) // 2 THEN y END) * (CASE WHEN max(n) % 2 = 1 THEN 2 ELSE 1 END) AS BIGINT) AS med2 FROM r GROUP BY 1), " +
        "dev AS (SELECT d.event_type, d.day, d.y, m.n_days, m.med2, d.y * 2 - m.med2 AS dev2s, abs(d.y * 2 - m.med2) AS dev2 FROM daily d JOIN med m ON d.event_type = m.event_type), " +
        "r2 AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY dev2, day) AS rn2 FROM dev), " +
        "mad AS (SELECT event_type, CAST(sum(CASE WHEN rn2 = (n_days + 1) // 2 OR rn2 = (n_days + 2) // 2 THEN dev2 END) * (CASE WHEN max(n_days) % 2 = 1 THEN 2 ELSE 1 END) AS BIGINT) AS mad4 FROM r2 GROUP BY 1) " +
        "SELECT d.event_type, d.day, d.y, CAST(d.med2 AS DOUBLE) / 2 AS median_y, CAST(a.mad4 AS DOUBLE) / 4 AS mad_y, " +
        "CASE WHEN a.mad4 > 0 THEN round(0.6745 * CAST(d.dev2s * 2 AS DOUBLE) / CAST(a.mad4 AS DOUBLE), 4) END AS robust_z, " +
        "coalesce(abs(CASE WHEN a.mad4 > 0 THEN round(0.6745 * CAST(d.dev2s * 2 AS DOUBLE) / CAST(a.mad4 AS DOUBLE), 4) END) > 3.5, FALSE) AS is_outlier " +
        "FROM dev d JOIN mad a ON d.event_type = a.event_type ORDER BY d.event_type, d.day"),
      scaleNote = "Everything shuffles on event_type once: both " +
        "rank windows and both rollups reuse the same hash " +
        "partitioning (AQE exchange reuse), and partitions are " +
        "|days|-sized — bounded by the calendar, never by event " +
        "volume, since the raw log collapsed to daily counts in the " +
        "first map-side-combined agg. Exact medians at 100 TB: over " +
        "a bounded day count the rank window IS the scalable form " +
        "(a year = 365 rows per key); for unbounded-cardinality " +
        "medians switch to approx_percentile partials " +
        "(agg_approx_quantile's verdict pattern). MAD's robustness " +
        "is the operational point — the spike that pages you is the " +
        "spike a mean-based monitor just absorbed into its own " +
        "baseline."),

    // A/B test readout with the two-proportion z-test — the decision
    // statistic behind every experiment dashboard: variant by hash
    // (user_id parity — the deterministic assignment an experiment
    // platform derives from hash(user, experiment)), exposure =
    // viewed, conversion = purchased among exposed. Counts are exact
    // integers; the z compose (pooled rate, standard error, ratio)
    // is one fixed float expression mirrored verbatim in the oracle.
    QueryDef(
      "ab_test_zscore",
      (spark, sf) => {
        val per = conversions(Tables.loadEvents(spark, sf), "variant", 2)
        val one = per.agg(
          sum(when(col("variant") === 0, col("n"))).as("n_a"),
          sum(when(col("variant") === 0, col("x"))).as("x_a"),
          sum(when(col("variant") === 1, col("n"))).as("n_b"),
          sum(when(col("variant") === 1, col("x"))).as("x_b"))
        val ra = col("x_a").cast("double") / col("n_a").cast("double")
        val rb = col("x_b").cast("double") / col("n_b").cast("double")
        val p = (col("x_a") + col("x_b")).cast("double") /
          (col("n_a") + col("n_b")).cast("double")
        val se = sqrt(p * (lit(1.0) - p) *
          (lit(1.0) / col("n_a").cast("double") +
            lit(1.0) / col("n_b").cast("double")))
        // se > 0 guard (r8, ADVICE): a degenerate split (one variant
        // empty, or pooled rate exactly 0/1) gives se = 0 — the raw
        // ratio is then NaN, which Spark orders ABOVE every double,
        // so 'significant' could read true on a meaningless test.
        // Guarded, z is NULL and significance coalesces to false on
        // both engines (ts_anomaly_mad's mad4 > 0 discipline).
        val z = when(se > lit(0.0), round((ra - rb) / se, 4))
        one.select(col("n_a"), col("x_a"), round(ra, 4).as("rate_a"),
          col("n_b"), col("x_b"), round(rb, 4).as("rate_b"),
          z.as("z_score"),
          coalesce(abs(z) > 1.96, lit(false)).as("significant"))
      },
      Some(s"WITH ${conversionsSql("variant", 2)}, " +
        "o AS (SELECT CAST(sum(CASE WHEN variant = 0 THEN n END) AS BIGINT) AS n_a, CAST(sum(CASE WHEN variant = 0 THEN x END) AS BIGINT) AS x_a, " +
        "CAST(sum(CASE WHEN variant = 1 THEN n END) AS BIGINT) AS n_b, CAST(sum(CASE WHEN variant = 1 THEN x END) AS BIGINT) AS x_b FROM per), " +
        "s AS (SELECT n_a, x_a, n_b, x_b, CAST(x_a AS DOUBLE)/CAST(n_a AS DOUBLE) AS ra, CAST(x_b AS DOUBLE)/CAST(n_b AS DOUBLE) AS rb, " +
        "sqrt((CAST(x_a + x_b AS DOUBLE)/CAST(n_a + n_b AS DOUBLE)) * (1.0 - CAST(x_a + x_b AS DOUBLE)/CAST(n_a + n_b AS DOUBLE)) * (1.0/CAST(n_a AS DOUBLE) + 1.0/CAST(n_b AS DOUBLE))) AS se FROM o) " +
        "SELECT n_a, x_a, round(ra, 4) AS rate_a, n_b, x_b, round(rb, 4) AS rate_b, " +
        "CASE WHEN se > 0 THEN round((ra - rb) / se, 4) END AS z_score, " +
        "coalesce(abs(CASE WHEN se > 0 THEN round((ra - rb) / se, 4) END) > 1.96, false) AS significant " +
        "FROM s"),
      scaleNote = "Exposure and conversion collapse to distinct-user " +
        "sets in one map-side-combined pass each (the wire carries " +
        "users, not events), the variant rollup is 2 rows, and the " +
        "test statistic is driver-scale arithmetic — a billion-user " +
        "experiment reads as one pruned scan + two tiny aggs. Real " +
        "platforms swap the parity for murmur(user, experiment_id) % " +
        "buckets (same plan), run MANY experiments in one pass by " +
        "adding experiment_id to the group keys, and correct for " +
        "peeking with sequential bounds — all reshapes of the same " +
        "exact-count substrate. CUPED/stratification = the same agg " +
        "with covariate moments added (agg_corr's partials)."),

    // Hilbert-curve layout key — ZOrder's sibling with strictly
    // adjacent steps (no axis-crossing jumps), as a NATIVE codegen'd
    // Expression (plans.HilbertIndex — the fourth custom expression
    // beside LongArrayDot / SortedIntersectCount / QuantizeVec). The
    // oracle replays the 8-iteration xy2d bit walk relationally: a
    // recursive CTE carries (s, x, y, d) per row and halves s each
    // step — the same reflect/transpose rotation in SQL CASEs.
    // AnalyticsSpec pins the space-filling BIJECTION on the full
    // 256×256 grid and the locality win over Z-order.
    QueryDef(
      "layout_hilbert",
      (spark, sf) =>
        Tables.lineitem(spark, sf)
          .select(col("l_orderkey"), col("l_linenumber"),
            (col("l_partkey") % 256).as("x"), (col("l_orderkey") % 256).as("y"))
          .withColumn("hkey",
            graft.plans.HilbertIndex.key(col("x"), col("y")))
          .orderBy("l_orderkey", "l_linenumber"),
      Some("WITH RECURSIVE base AS (SELECT l_orderkey, l_linenumber, l_partkey % 256 AS x, l_orderkey % 256 AS y FROM lineitem), " +
        "h(l_orderkey, l_linenumber, x0, y0, s, x, y, d) AS (" +
        "SELECT l_orderkey, l_linenumber, x, y, CAST(128 AS BIGINT), x, y, CAST(0 AS BIGINT) FROM base " +
        "UNION ALL SELECT l_orderkey, l_linenumber, x0, y0, s // 2, " +
        "CASE WHEN (y & s) = 0 THEN (CASE WHEN (x & s) > 0 THEN s - 1 - y ELSE y END) ELSE x END, " +
        "CASE WHEN (y & s) = 0 THEN (CASE WHEN (x & s) > 0 THEN s - 1 - x ELSE x END) ELSE y END, " +
        "d + s * s * xor(3 * (CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END), CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END) " +
        "FROM h WHERE s > 0) " +
        "SELECT l_orderkey, l_linenumber, x0 AS x, y0 AS y, d AS hkey " +
        "FROM h WHERE s = 0 ORDER BY l_orderkey, l_linenumber"),
      scaleNote = "Key computation is branch-light integer codegen " +
        "inside the scan — zero shuffle, same cost class as ZOrder's " +
        "interleave. The payoff is at write time: repartitionByRange" +
        "(hkey) + sortWithinPartitions gives every file ONE " +
        "contiguous curve segment, and because consecutive Hilbert " +
        "cells are always grid-adjacent, that segment is one compact " +
        "blob — no Z-jump means no file whose min/max box spans two " +
        "distant rectangles, so range predicates prune strictly " +
        "fewer row groups (AnalyticsSpec measures the span " +
        "contraction vs Z-order). Wider grids grow the loop " +
        "logarithmically (16 bits = 16 iterations); k dims use the " +
        "Butz generalization, same fixed-iteration codegen shape."),

    // Two-sample Kolmogorov–Smirnov — the DISTRIBUTIONAL readout
    // ab_test_zscore's rate compare cannot give (same conversion
    // rate, shifted spend distribution = invisible to z): D =
    // max |F1 − F2| over the pooled purchase-value ECDF, computed
    // ENTIRELY in integers — values floor-quantized to whole units,
    // per-value variant counts, cumulative sums, and the statistic
    // as max|cum1·n2 − cum2·n1| (≤ n1·n2 ≈ 9e8, Long-safe; its
    // square ≤ 8e17, still Long-safe for the significance compare).
    // The only floats are the two emitted compositions, identical
    // text on both engines. Rejection at α=0.05 via the asymptotic
    // c=1.358 bound: D² > 1.358²·(n1+n2)·n1·n2 / (n1·n2)² — cleared
    // of division so the compare runs on exact products.
    QueryDef(
      "ab_test_ks",
      (spark, sf) => {
        val ev = Tables.loadEvents(spark, sf)
          .filter(col("event_type") === "purchase")
          .select((col("user_id") % 2).as("variant"),
            floor(col("value")).cast("long").as("v"))
        val per = ev.groupBy("v").agg(
          sum(when(col("variant") === 0, 1L).otherwise(0L)).as("c1"),
          sum(when(col("variant") === 1, 1L).otherwise(0L)).as("c2"))
        val w = org.apache.spark.sql.expressions.Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = per
          .withColumn("cum1", sum(col("c1")).over(w))
          .withColumn("cum2", sum(col("c2")).over(w))
        val tot = per.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
        cum.crossJoin(broadcast(tot))
          .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
            max(abs(col("cum1") * col("n2") - col("cum2") * col("n1")))
              .as("d_num"))
          .select(col("n1"), col("n2"), col("d_num"),
            // n1 > 0 AND n2 > 0 guard (r9, ADVICE): a one-sided
            // purchase split gives n1·n2 = 0 — Spark's double
            // division then emits NaN where DuckDB emits NULL, a
            // cross-engine hash divergence (ab_test_zscore's se > 0
            // discipline). Guarded, ks is NULL and significance is
            // false identically on both engines.
            when(col("n1") > 0 && col("n2") > 0,
              round(col("d_num").cast("double") /
                (col("n1") * col("n2")).cast("double"), 4)).as("ks"),
            (col("n1") > 0 && col("n2") > 0 &&
              col("d_num").cast("double") * col("d_num") >
              lit(1.8442) * (col("n1") + col("n2")) * col("n1") * col("n2"))
              .as("significant"))
      },
      Some("WITH ev AS (SELECT user_id % 2 AS variant, CAST(floor(value) AS BIGINT) AS v FROM events WHERE event_type = 'purchase'), " +
        "per AS (SELECT v, CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1, " +
        "CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2 FROM ev GROUP BY v), " +
        "cum AS (SELECT v, sum(c1) OVER w AS cum1, sum(c2) OVER w AS cum2 FROM per WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
        "t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM per) " +
        "SELECT n1, n2, CAST(max(abs(cum1*n2 - cum2*n1)) AS BIGINT) AS d_num, " +
        "CASE WHEN n1 > 0 AND n2 > 0 THEN round(CAST(max(abs(cum1*n2 - cum2*n1)) AS DOUBLE) / (n1*n2), 4) END AS ks, " +
        "n1 > 0 AND n2 > 0 AND CAST(max(abs(cum1*n2 - cum2*n1)) AS DOUBLE) * max(abs(cum1*n2 - cum2*n1)) > 1.8442 * (n1+n2) * n1 * n2 AS significant " +
        "FROM cum CROSS JOIN t GROUP BY n1, n2"),
      scaleNote = "The corpus collapses to the per-value count table " +
        "in one map-side-combined agg (|distinct quantized values| " +
        "rows — the floor-to-units quantization IS the scale lever: " +
        "a bounded price domain keeps the ECDF table KBs at any " +
        "event volume; finer grids trade table size for resolution " +
        "exactly like histogram binning). The global cumulative " +
        "window runs on that bounded table, never on events — the " +
        "same aggregate-collapse-then-window discipline every global " +
        "window here follows. Statistic and rejection are integer " +
        "products Long-bounds-checked by construction; many " +
        "experiments run in one pass by adding experiment_id to " +
        "every group key, turning the window into a per-experiment " +
        "partition."),

    // Mann–Whitney U — the RANK-based two-sample test completing the
    // A/B family (z-test: rates; KS: distribution shape; U: median
    // shift with outlier robustness — the test of record when spend
    // is heavy-tailed and means lie). Computed ENTIRELY in integers
    // on the same per-value count table as ab_test_ks: for each
    // value, group-1 occurrences beat 2·(group-2 values below) and
    // tie (group-2 values equal), so U₁ in HALF-units is
    // Σ c1·(2·cum2_before + c2) — exact, order-free, Long-bounded by
    // 2·n1·n2. The normal approximation composes from exact integers
    // in one fixed float expression (tie correction omitted and
    // documented: with unit-quantized values its effect is below the
    // round(4) emit precision here).
    QueryDef(
      "ab_test_mannwhitney",
      (spark, sf) => {
        val ev = Tables.loadEvents(spark, sf)
          .filter(col("event_type") === "purchase")
          .select((col("user_id") % 2).as("variant"),
            floor(col("value")).cast("long").as("v"))
        val per = ev.groupBy("v").agg(
          sum(when(col("variant") === 0, 1L).otherwise(0L)).as("c1"),
          sum(when(col("variant") === 1, 1L).otherwise(0L)).as("c2"))
        val w = org.apache.spark.sql.expressions.Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = per.withColumn("cum2", sum(col("c2")).over(w))
        val n1c = col("n1").cast("double")
        val n2c = col("n2").cast("double")
        val z = (col("u1_x2").cast("double") - n1c * n2c) / 2.0 /
          sqrt(n1c * n2c * (n1c + n2c + 1.0) / 12.0)
        cum.agg(
            sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
            sum(col("c1") * (lit(2) * (col("cum2") - col("c2")) + col("c2")))
              .as("u1_x2"))
          .select(col("n1"), col("n2"), col("u1_x2"),
            when(col("n1") > 0 && col("n2") > 0, round(z, 4)).as("z_score"),
            (col("n1") > 0 && col("n2") > 0 &&
              abs(z) > lit(1.96)).as("significant"))
      },
      Some("WITH ev AS (SELECT user_id % 2 AS variant, CAST(floor(value) AS BIGINT) AS v FROM events WHERE event_type = 'purchase'), " +
        "per AS (SELECT v, CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1, " +
        "CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2 FROM ev GROUP BY v), " +
        "cum AS (SELECT v, c1, c2, sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2 FROM per), " +
        "u AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2, " +
        "CAST(sum(c1 * (2 * (cum2 - c2) + c2)) AS BIGINT) AS u1_x2 FROM cum) " +
        "SELECT n1, n2, u1_x2, " +
        "CASE WHEN n1 > 0 AND n2 > 0 THEN round((CAST(u1_x2 AS DOUBLE) - CAST(n1 AS DOUBLE)*CAST(n2 AS DOUBLE)) / 2.0 / sqrt(CAST(n1 AS DOUBLE)*CAST(n2 AS DOUBLE)*(CAST(n1 AS DOUBLE)+CAST(n2 AS DOUBLE)+1.0)/12.0), 4) END AS z_score, " +
        "n1 > 0 AND n2 > 0 AND abs((CAST(u1_x2 AS DOUBLE) - CAST(n1 AS DOUBLE)*CAST(n2 AS DOUBLE)) / 2.0 / sqrt(CAST(n1 AS DOUBLE)*CAST(n2 AS DOUBLE)*(CAST(n1 AS DOUBLE)+CAST(n2 AS DOUBLE)+1.0)/12.0)) > 1.96 AS significant " +
        "FROM u"),
      scaleNote = "Identical scale shape to ab_test_ks (one " +
        "map-side-combined per-value count table, the global " +
        "cumulative window on |distinct quantized values| rows — " +
        "bounded by the price domain, never by event volume), and " +
        "the U statistic is one more integer product-sum over that " +
        "table. Long bounds: U₁×2 ≤ 2·n1·n2 (~2^41 at a billion " +
        "balanced purchases — fine; past that, DECIMAL(38,0) " +
        "partials). Rank-sum tests at 100 TB are exactly this " +
        "value-histogram formulation — materializing per-row ranks " +
        "(the textbook route) is a global sort the histogram makes " +
        "unnecessary. Tie correction, when the value domain is " +
        "coarse enough to matter, subtracts Σt³−t from the variance " +
        "— one more integer sum over the same table."),

    // Welch's t-test (r10) — the third member of the A/B family and
    // the one analysts reach for first on a CONTINUOUS metric:
    // ab_test_zscore compares conversion RATES, ab_test_ks/
    // mannwhitney compare DISTRIBUTIONS; Welch compares MEANS without
    // assuming equal variances (the unequal-variance default every
    // stats library now recommends over Student's t). Inputs are
    // three exact integer sums per variant — n, Σv, Σv² in cents —
    // merged associatively on any partitioning; the t statistic and
    // the Welch–Satterthwaite degrees of freedom compose from them
    // once at the edge (identical expression tree on both engines).
    // Degenerate guard: n ≤ 1 on either arm or zero pooled variance
    // → NULL t, significance coalesces false (ab_test_zscore's se>0
    // discipline).
    // Difference-in-differences (r13) — the quasi-experimental member
    // of the A/B family: when a change CANNOT be randomized (a
    // rollout hits everyone at time T), the naive before/after
    // estimate absorbs every seasonal trend; DiD subtracts the
    // control group's before/after drift so only the differential
    // effect remains. Groups = the house user_id % 2 split, periods
    // = before/at-after the stream's temporal midpoint (dq_drift_psi's
    // exact-integer epoch device), metric = purchase value in exact
    // cents. The four (group, period) cells carry (n, Σ, Σ²) BIGINT
    // moments; cell means in micro-cents are integer floor
    // divisions, DiD composes from the four as exact integers, and
    // the pooled SE/t ride ab_test_welch's one-edge float
    // composition discipline (n·Σv²−(Σv)² exact-integer numerators,
    // doubles only in the final compose, correctly rounded).
    QueryDef(
      "ab_diff_in_diff",
      (spark, sf) => {
        val ev = Tables.loadEvents(spark, sf)
          .filter(col("event_type") === "purchase")
          .select((col("user_id") % 2).as("g"),
            expr("unix_micros(cast(ts as timestamp))").as("us"),
            floor(col("value") * 100).cast("long").as("v"))
        val mid = ev.agg(expr("(min(us) + max(us)) div 2").as("mid_us"))
        val cells = ev.crossJoin(broadcast(mid))
          .withColumn("p", when(col("us") < col("mid_us"), 0L).otherwise(1L))
          .groupBy("g", "p")
          .agg(VMoments.head, VMoments.tail: _*)
        def cell(g: Int, p: Int, c: String) =
          sum(when(col("g") === g && col("p") === p, col(c)))
        val one = cells.agg(
          cell(0, 0, "n").as("n_a_pre"), cell(0, 0, "sv").as("sv_a_pre"),
          cell(0, 0, "svv").as("q_a_pre"),
          cell(0, 1, "n").as("n_a_post"), cell(0, 1, "sv").as("sv_a_post"),
          cell(0, 1, "svv").as("q_a_post"),
          cell(1, 0, "n").as("n_b_pre"), cell(1, 0, "sv").as("sv_b_pre"),
          cell(1, 0, "svv").as("q_b_pre"),
          cell(1, 1, "n").as("n_b_post"), cell(1, 1, "sv").as("sv_b_post"),
          cell(1, 1, "svv").as("q_b_post"))
        def m(sv: String, n: String) =
          expr(s"($sv * 1000000) div $n")
        val did = (m("sv_b_post", "n_b_post") - m("sv_b_pre", "n_b_pre")) -
          (m("sv_a_post", "n_a_post") - m("sv_a_pre", "n_a_pre"))
        def vOverN(n: String, sv: String, q: String) =
          (col(n) * col(q) - col(sv) * col(sv)).cast("double") /
            ((col(n) * (col(n) - 1)).cast("double") * col(n).cast("double"))
        val se2 = vOverN("n_a_pre", "sv_a_pre", "q_a_pre") +
          vOverN("n_a_post", "sv_a_post", "q_a_post") +
          vOverN("n_b_pre", "sv_b_pre", "q_b_pre") +
          vOverN("n_b_post", "sv_b_post", "q_b_post")
        val ok = col("n_a_pre") > 1 && col("n_a_post") > 1 &&
          col("n_b_pre") > 1 && col("n_b_post") > 1 && se2 > lit(0.0)
        val t = (did.cast("double") / lit(1000000.0)) / sqrt(se2)
        one.select(col("n_a_pre"), col("n_a_post"), col("n_b_pre"),
          col("n_b_post"),
          m("sv_a_pre", "n_a_pre").as("mean_a_pre_microc"),
          m("sv_a_post", "n_a_post").as("mean_a_post_microc"),
          m("sv_b_pre", "n_b_pre").as("mean_b_pre_microc"),
          m("sv_b_post", "n_b_post").as("mean_b_post_microc"),
          did.as("did_microc"),
          when(ok, round(sqrt(se2), 4)).as("se_cents"),
          when(ok, round(t, 4)).as("t_stat"),
          coalesce(when(ok, abs(t) > lit(1.96)), lit(false))
            .as("significant"))
      },
      Some("WITH ev AS (SELECT user_id % 2 AS g, epoch_us(ts) AS us, CAST(floor(value*100) AS BIGINT) AS v FROM events WHERE event_type = 'purchase'), " +
        "mid AS (SELECT (min(us) + max(us)) // 2 AS mid_us FROM ev), " +
        s"cl AS (SELECT g, CASE WHEN us < mid_us THEN 0 ELSE 1 END AS p, $VMomentsSql FROM ev CROSS JOIN mid GROUP BY 1, 2), " +
        "one AS (SELECT " +
        "CAST(sum(CASE WHEN g = 0 AND p = 0 THEN n END) AS BIGINT) AS n_a_pre, CAST(sum(CASE WHEN g = 0 AND p = 0 THEN sv END) AS BIGINT) AS sv_a_pre, CAST(sum(CASE WHEN g = 0 AND p = 0 THEN svv END) AS BIGINT) AS q_a_pre, " +
        "CAST(sum(CASE WHEN g = 0 AND p = 1 THEN n END) AS BIGINT) AS n_a_post, CAST(sum(CASE WHEN g = 0 AND p = 1 THEN sv END) AS BIGINT) AS sv_a_post, CAST(sum(CASE WHEN g = 0 AND p = 1 THEN svv END) AS BIGINT) AS q_a_post, " +
        "CAST(sum(CASE WHEN g = 1 AND p = 0 THEN n END) AS BIGINT) AS n_b_pre, CAST(sum(CASE WHEN g = 1 AND p = 0 THEN sv END) AS BIGINT) AS sv_b_pre, CAST(sum(CASE WHEN g = 1 AND p = 0 THEN svv END) AS BIGINT) AS q_b_pre, " +
        "CAST(sum(CASE WHEN g = 1 AND p = 1 THEN n END) AS BIGINT) AS n_b_post, CAST(sum(CASE WHEN g = 1 AND p = 1 THEN sv END) AS BIGINT) AS sv_b_post, CAST(sum(CASE WHEN g = 1 AND p = 1 THEN svv END) AS BIGINT) AS q_b_post FROM cl), " +
        "ed AS (SELECT *, " +
        "((sv_b_post * 1000000) // n_b_post - (sv_b_pre * 1000000) // n_b_pre) - ((sv_a_post * 1000000) // n_a_post - (sv_a_pre * 1000000) // n_a_pre) AS did_microc, " +
        "CAST(n_a_pre * q_a_pre - sv_a_pre * sv_a_pre AS DOUBLE) / (CAST(n_a_pre * (n_a_pre - 1) AS DOUBLE) * n_a_pre) + " +
        "CAST(n_a_post * q_a_post - sv_a_post * sv_a_post AS DOUBLE) / (CAST(n_a_post * (n_a_post - 1) AS DOUBLE) * n_a_post) + " +
        "CAST(n_b_pre * q_b_pre - sv_b_pre * sv_b_pre AS DOUBLE) / (CAST(n_b_pre * (n_b_pre - 1) AS DOUBLE) * n_b_pre) + " +
        "CAST(n_b_post * q_b_post - sv_b_post * sv_b_post AS DOUBLE) / (CAST(n_b_post * (n_b_post - 1) AS DOUBLE) * n_b_post) AS se2, " +
        "n_a_pre > 1 AND n_a_post > 1 AND n_b_pre > 1 AND n_b_post > 1 AS nok FROM one) " +
        "SELECT n_a_pre, n_a_post, n_b_pre, n_b_post, " +
        "(sv_a_pre * 1000000) // n_a_pre AS mean_a_pre_microc, (sv_a_post * 1000000) // n_a_post AS mean_a_post_microc, " +
        "(sv_b_pre * 1000000) // n_b_pre AS mean_b_pre_microc, (sv_b_post * 1000000) // n_b_post AS mean_b_post_microc, " +
        "did_microc, " +
        "CASE WHEN nok AND se2 > 0 THEN round(sqrt(se2), 4) END AS se_cents, " +
        "CASE WHEN nok AND se2 > 0 THEN round((CAST(did_microc AS DOUBLE) / 1000000.0) / sqrt(se2), 4) END AS t_stat, " +
        "COALESCE(CASE WHEN nok AND se2 > 0 THEN abs((CAST(did_microc AS DOUBLE) / 1000000.0) / sqrt(se2)) > 1.96 END, FALSE) AS significant " +
        "FROM ed"),
      scaleNote = "ab_test_welch's economics with a second dimension: " +
        "ONE conditional-moment aggregate over the pruned purchase " +
        "scan produces all four (group, period) cells map-side (the " +
        "1-row midpoint broadcasts; at 100 TB the period boundary is " +
        "a partition-pruning date literal instead), and everything " +
        "after is a 1-row edge expression. Cell means and the DiD " +
        "point estimate are exact integer micro-cents (sums ≤ " +
        "5e4·1e6·n ≪ 2^63 below ~2e8 purchases per cell — escalate " +
        "to DECIMAL(38,0) past that, stated not silent); only " +
        "SE/t touch doubles, composed once from exact-integer " +
        "numerators exactly like ab_test_welch. Parallel-trends " +
        "diagnostics (the assumption DiD lives on) = ts_cusum per " +
        "group on the pre window; per-segment DiD adds the segment " +
        "key to the cell aggregate."),

    QueryDef(
      "ab_test_welch",
      (spark, sf) => {
        val one = twoArms(Tables.loadEvents(spark, sf))
        val m1 = col("sv1").cast("double") / col("n1").cast("double")
        val m2 = col("sv2").cast("double") / col("n2").cast("double")
        val s21 = (col("n1") * col("svv1") - col("sv1") * col("sv1"))
          .cast("double") /
          (col("n1") * (col("n1") - 1)).cast("double")
        val s22 = (col("n2") * col("svv2") - col("sv2") * col("sv2"))
          .cast("double") /
          (col("n2") * (col("n2") - 1)).cast("double")
        val se2 = s21 / col("n1").cast("double") +
          s22 / col("n2").cast("double")
        val ok = col("n1") > 1 && col("n2") > 1 && se2 > lit(0.0)
        val t = (m1 - m2) / sqrt(se2)
        val df = se2 * se2 /
          ((s21 / col("n1").cast("double")) *
            (s21 / col("n1").cast("double")) /
            (col("n1") - 1).cast("double") +
           (s22 / col("n2").cast("double")) *
            (s22 / col("n2").cast("double")) /
            (col("n2") - 1).cast("double"))
        one.select(col("n1"), col("n2"),
            round(m1 - m2, 4).as("mean_diff_cents"),
            when(ok, round(t, 4)).as("t_stat"),
            when(ok, round(df, 1)).as("df"),
            coalesce(when(ok, abs(t) > lit(1.96)), lit(false))
              .as("significant"))
      },
      Some(s"WITH $TwoArmsSql, " +
        "f AS (SELECT *, CAST(sv1 AS DOUBLE)/CAST(n1 AS DOUBLE) AS m1, CAST(sv2 AS DOUBLE)/CAST(n2 AS DOUBLE) AS m2, " +
        "CAST(n1*svv1 - sv1*sv1 AS DOUBLE)/CAST(n1*(n1-1) AS DOUBLE) AS s21, " +
        "CAST(n2*svv2 - sv2*sv2 AS DOUBLE)/CAST(n2*(n2-1) AS DOUBLE) AS s22 FROM one), " +
        "g AS (SELECT *, s21/CAST(n1 AS DOUBLE) + s22/CAST(n2 AS DOUBLE) AS se2, " +
        "n1 > 1 AND n2 > 1 AND s21/CAST(n1 AS DOUBLE) + s22/CAST(n2 AS DOUBLE) > 0.0 AS ok FROM f) " +
        "SELECT n1, n2, round(m1 - m2, 4) AS mean_diff_cents, " +
        "CASE WHEN ok THEN round((m1 - m2)/sqrt(se2), 4) END AS t_stat, " +
        "CASE WHEN ok THEN round(se2*se2 / ((s21/CAST(n1 AS DOUBLE))*(s21/CAST(n1 AS DOUBLE))/CAST(n1-1 AS DOUBLE) + (s22/CAST(n2 AS DOUBLE))*(s22/CAST(n2 AS DOUBLE))/CAST(n2-1 AS DOUBLE)), 1) END AS df, " +
        "coalesce(CASE WHEN ok THEN abs((m1 - m2)/sqrt(se2)) > 1.96 END, false) AS significant " +
        "FROM g"),
      scaleNote = "The cheapest possible A/B plan: ONE map-side-" +
        "combined aggregate collapses the log to two (n, Σv, Σv²) " +
        "triples — three associative BIGINT sums per variant, " +
        "bit-stable partials on any partitioning — and every float " +
        "(means, variances, t, df) composes from the six integers " +
        "in one edge expression. No window, no join, no per-user " +
        "state: this is why mean-metric tests run continuously on " +
        "live dashboards while rank tests (mannwhitney's value " +
        "histogram) run on demand. Long bound: Σv² ≤ n·max_cents² " +
        "(~10¹⁸ at a billion purchases of $500) — DECIMAL(38,0) " +
        "partials past that, agg_corr's escalation. Stratified " +
        "(CUPED-style) variants add covariate sums to the SAME " +
        "aggregate; per-segment tests add the segment key to the " +
        "groupBy — the plan shape never changes."),

    // Bayesian A/B readout (r12) — the POSTERIOR member of the family
    // (every other member answers "is the difference surprising under
    // H₀?"; stakeholders ask "what is the probability B beats A?" —
    // the number a Bayesian readout gives directly): P(B > A) under
    // normal posteriors on the arm means (the large-n limit where the
    // posterior SE is the standard error — flat prior; informative
    // priors shift mean/SE in the same algebra). The integral is
    // evaluated by DETERMINISTIC STRATIFIED draws — the house answer
    // to "Monte Carlo must not depend on an RNG" (ab_bootstrap_ci's
    // precedent, upgraded from hash draws to stratification): 64
    // fixed inverse-normal quantile midpoints Φ⁻¹((i+0.5)/64) as
    // STATED micro-unit literals, one posterior draw per stratum per
    // arm (draw = mean_micro + z·se_micro div 1e6, exact integer),
    // and P(B > A) = the win fraction over the 64×64 stratum grid —
    // a 4096-row constant cross of two literal tables, the same
    // estimator error O(1/strata²) a quasi-Monte-Carlo grid gives,
    // with zero randomness anywhere. se quantizes through ONE
    // correctly-rounded sqrt of exact-integer ratios then floors to
    // micro-units, so the whole readout is bit-stable cross-engine.
    QueryDef(
      "ab_bayes_mc",
      (spark, sf) => {
        val session = spark
        import session.implicits._
        val one = twoArms(Tables.loadEvents(spark, sf))
        def seM(n: String, sv: String, svv: String) =
          floor(sqrt((col(n) * col(svv) - col(sv) * col(sv)).cast("double") /
            (col(n) * (col(n) - 1)).cast("double") /
            col(n).cast("double")) * lit(1000000.0)).cast("long")
        val ok = col("n1") > 1 && col("n2") > 1
        val base = one.select(col("n1"), col("n2"),
          expr("(sv1 * 1000000) div n1").as("m1"),
          expr("(sv2 * 1000000) div n2").as("m2"),
          when(ok, seM("n1", "sv1", "svv1")).as("se1"),
          when(ok, seM("n2", "sv2", "svv2")).as("se2"))
        val za = BayesZMicro.toDF("za")
        val zb = BayesZMicro.toDF("zb")
        base.crossJoin(broadcast(za)).crossJoin(broadcast(zb))
          .groupBy("n1", "n2", "m1", "m2", "se1", "se2")
          .agg(sum(when(
            expr("m2 + (zb * se2) div 1000000") >
              expr("m1 + (za * se1) div 1000000"), 1L).otherwise(0L))
            .as("wins"))
          .select(col("n1"), col("n2"),
            col("m1").as("mean_a_micro"), col("m2").as("mean_b_micro"),
            col("se1").as("se_a_micro"), col("se2").as("se_b_micro"),
            when(col("se1").isNotNull && col("se2").isNotNull,
              expr("(wins * 1000000) div 4096")).as("p_b_gt_a_ppm"),
            coalesce(
              when(col("se1").isNotNull && col("se2").isNotNull,
                expr("(wins * 1000000) div 4096") >= 950000L ||
                  expr("(wins * 1000000) div 4096") <= 50000L),
              lit(false)).as("decisive"))
      },
      Some {
        val values = BayesZMicro.map(z => s"($z)").mkString(", ")
        s"WITH $TwoArmsSql, " +
          "f AS (SELECT *, (sv1 * 1000000) // n1 AS m1, (sv2 * 1000000) // n2 AS m2, " +
          "CASE WHEN n1 > 1 AND n2 > 1 THEN CAST(floor(sqrt(CAST(n1*svv1 - sv1*sv1 AS DOUBLE)/CAST(n1*(n1-1) AS DOUBLE)/CAST(n1 AS DOUBLE)) * 1000000.0) AS BIGINT) END AS se1, " +
          "CASE WHEN n1 > 1 AND n2 > 1 THEN CAST(floor(sqrt(CAST(n2*svv2 - sv2*sv2 AS DOUBLE)/CAST(n2*(n2-1) AS DOUBLE)/CAST(n2 AS DOUBLE)) * 1000000.0) AS BIGINT) END AS se2 FROM one), " +
          s"z AS (SELECT * FROM (VALUES $values) AS t(z)), " +
          "w AS (SELECT f.n1, f.n2, f.m1, f.m2, f.se1, f.se2, " +
          "CAST(sum(CASE WHEN f.m2 + (zb.z * f.se2) // 1000000 > f.m1 + (za.z * f.se1) // 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS wins " +
          "FROM f CROSS JOIN z za CROSS JOIN z zb GROUP BY 1, 2, 3, 4, 5, 6) " +
          "SELECT n1, n2, m1 AS mean_a_micro, m2 AS mean_b_micro, se1 AS se_a_micro, se2 AS se_b_micro, " +
          "CASE WHEN se1 IS NOT NULL AND se2 IS NOT NULL THEN (wins * 1000000) // 4096 END AS p_b_gt_a_ppm, " +
          "coalesce(CASE WHEN se1 IS NOT NULL AND se2 IS NOT NULL THEN (wins * 1000000) // 4096 >= 950000 OR (wins * 1000000) // 4096 <= 50000 END, false) AS decisive " +
          "FROM w"
      },
      scaleNote = "ab_test_welch's corpus economics exactly — ONE " +
        "map-side-combined moment aggregate, everything after it " +
        "constant-size: the 64×64 stratum grid is a cross of two " +
        "64-row LITERAL tables against the 1-row moment result " +
        "(both bounds plan-proven by the structural sweep), 4096 " +
        "rows whatever the log size. Stratified quantile draws beat " +
        "hash-random ones on both axes that matter here: error " +
        "falls as 1/strata² instead of 1/√draws, and the draw set " +
        "is a stated constant — auditable, engine-independent, and " +
        "immune to the RNG-vs-partitioning hazard that bans naive " +
        "Monte Carlo from this engine. Informative priors and " +
        "non-normal posteriors swap the literal z table (e.g. " +
        "Student-t quantiles for small n) with zero plan change; " +
        "per-segment readouts add the segment key to the moment " +
        "aggregate, the grid cost staying 4096 rows per segment."),

    // Delta-method test for RATIO metrics (r11) — the practical A/B
    // trap the rest of the family sidesteps: CTR = Σclicks/Σviews is
    // a ratio of SUMS whose numerator and denominator are correlated
    // within a user, and the randomization unit (user) differs from
    // the analysis unit (view) — so the naive per-view binomial SE
    // is wrong (usually far too small: clustered views). The
    // industry-standard fix (Deng et al.) is the delta method on
    // per-USER totals: Var(X̄/Ȳ) ≈ (s²x + R²·s²y − 2R·s_xy)/(n·Ȳ²),
    // all from six exact BIGINT per-arm moments over ONE per-user
    // conditional aggregate — ab_cuped's plan with clicks/views in
    // place of pre/post. R, both variances, z, and the verdict
    // compose once at the edge; zero-view arms and degenerate
    // variances → NULL z, significance coalesces false.
    QueryDef(
      "ab_ratio_delta",
      (spark, sf) => {
        val per = Tables.loadEvents(spark, sf)
          .filter(col("event_type").isin("click", "view"))
          .groupBy(col("user_id"))
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
              .as("x"),
            sum(when(col("event_type") === "view", 1L).otherwise(0L))
              .as("y"))
          .select((col("user_id") % 2).as("variant"), col("x"), col("y"))
        val m = per.groupBy("variant")
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"),
            sum(col("x") * col("y")).as("sxy"))
        def arm(v: Int, c: String) =
          sum(when(col("variant") === v, col(c))).as(s"$c$v")
        val one = m.agg(
          arm(0, "n"), arm(0, "sx"), arm(0, "sy"), arm(0, "sxx"),
          arm(0, "syy"), arm(0, "sxy"),
          arm(1, "n"), arm(1, "sx"), arm(1, "sy"), arm(1, "sxx"),
          arm(1, "syy"), arm(1, "sxy"))
        def d(c: Column) = c.cast("double")
        def ratio(v: Int) = d(col(s"sx$v")) / d(col(s"sy$v"))
        // delta-method variance of the ratio-of-sums for arm v
        def varR(v: Int) = {
          val nn = col(s"n$v")
          val r = ratio(v)
          val s2x = d(nn * col(s"sxx$v") - col(s"sx$v") * col(s"sx$v")) /
            d(nn * (nn - 1))
          val s2y = d(nn * col(s"syy$v") - col(s"sy$v") * col(s"sy$v")) /
            d(nn * (nn - 1))
          val cxy = d(nn * col(s"sxy$v") - col(s"sx$v") * col(s"sy$v")) /
            d(nn * (nn - 1))
          val ybar = d(col(s"sy$v")) / d(nn)
          (s2x + r * r * s2y - lit(2.0) * r * cxy) /
            (d(nn) * ybar * ybar)
        }
        val ok = col("n0") > 1 && col("n1") > 1 &&
          col("sy0") > 0L && col("sy1") > 0L &&
          varR(0) + varR(1) > lit(0.0)
        val z = (ratio(0) - ratio(1)) / sqrt(varR(0) + varR(1))
        one.select(col("n0").as("n_a"), col("n1").as("n_b"),
          when(col("sy0") > 0L, round(ratio(0), 6)).as("ctr_a"),
          when(col("sy1") > 0L, round(ratio(1), 6)).as("ctr_b"),
          when(ok, round(ratio(0) - ratio(1), 6)).as("diff"),
          when(ok, round(z, 4)).as("z_delta"),
          coalesce(when(ok, abs(z) > lit(1.96)), lit(false))
            .as("significant"))
      },
      Some("WITH pu AS (SELECT user_id % 2 AS variant, " +
        "CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x, " +
        "CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS y " +
        "FROM events WHERE event_type IN ('click', 'view') GROUP BY user_id), " +
        "m AS (SELECT variant, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, " +
        "CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy, CAST(sum(x*y) AS BIGINT) AS sxy FROM pu GROUP BY 1), " +
        "one AS (SELECT " +
        "CAST(sum(CASE WHEN variant = 0 THEN n END) AS BIGINT) AS n0, CAST(sum(CASE WHEN variant = 0 THEN sx END) AS BIGINT) AS sx0, CAST(sum(CASE WHEN variant = 0 THEN sy END) AS BIGINT) AS sy0, " +
        "CAST(sum(CASE WHEN variant = 0 THEN sxx END) AS BIGINT) AS sxx0, CAST(sum(CASE WHEN variant = 0 THEN syy END) AS BIGINT) AS syy0, CAST(sum(CASE WHEN variant = 0 THEN sxy END) AS BIGINT) AS sxy0, " +
        "CAST(sum(CASE WHEN variant = 1 THEN n END) AS BIGINT) AS n1, CAST(sum(CASE WHEN variant = 1 THEN sx END) AS BIGINT) AS sx1, CAST(sum(CASE WHEN variant = 1 THEN sy END) AS BIGINT) AS sy1, " +
        "CAST(sum(CASE WHEN variant = 1 THEN sxx END) AS BIGINT) AS sxx1, CAST(sum(CASE WHEN variant = 1 THEN syy END) AS BIGINT) AS syy1, CAST(sum(CASE WHEN variant = 1 THEN sxy END) AS BIGINT) AS sxy1 FROM m), " +
        "f AS (SELECT *, CAST(sx0 AS DOUBLE)/CAST(sy0 AS DOUBLE) AS r0, CAST(sx1 AS DOUBLE)/CAST(sy1 AS DOUBLE) AS r1 FROM one), " +
        "g AS (SELECT *, " +
        "(CAST(n0*sxx0 - sx0*sx0 AS DOUBLE)/CAST(n0*(n0-1) AS DOUBLE) + r0*r0*CAST(n0*syy0 - sy0*sy0 AS DOUBLE)/CAST(n0*(n0-1) AS DOUBLE) - 2.0*r0*CAST(n0*sxy0 - sx0*sy0 AS DOUBLE)/CAST(n0*(n0-1) AS DOUBLE)) / (CAST(n0 AS DOUBLE) * (CAST(sy0 AS DOUBLE)/CAST(n0 AS DOUBLE)) * (CAST(sy0 AS DOUBLE)/CAST(n0 AS DOUBLE))) AS v0, " +
        "(CAST(n1*sxx1 - sx1*sx1 AS DOUBLE)/CAST(n1*(n1-1) AS DOUBLE) + r1*r1*CAST(n1*syy1 - sy1*sy1 AS DOUBLE)/CAST(n1*(n1-1) AS DOUBLE) - 2.0*r1*CAST(n1*sxy1 - sx1*sy1 AS DOUBLE)/CAST(n1*(n1-1) AS DOUBLE)) / (CAST(n1 AS DOUBLE) * (CAST(sy1 AS DOUBLE)/CAST(n1 AS DOUBLE)) * (CAST(sy1 AS DOUBLE)/CAST(n1 AS DOUBLE))) AS v1 FROM f), " +
        "h AS (SELECT *, n0 > 1 AND n1 > 1 AND sy0 > 0 AND sy1 > 0 AND v0 + v1 > 0.0 AS ok FROM g) " +
        "SELECT n0 AS n_a, n1 AS n_b, " +
        "CASE WHEN sy0 > 0 THEN round(r0, 6) END AS ctr_a, " +
        "CASE WHEN sy1 > 0 THEN round(r1, 6) END AS ctr_b, " +
        "CASE WHEN ok THEN round(r0 - r1, 6) END AS diff, " +
        "CASE WHEN ok THEN round((r0 - r1)/sqrt(v0 + v1), 4) END AS z_delta, " +
        "coalesce(CASE WHEN ok THEN abs((r0 - r1)/sqrt(v0 + v1)) > 1.96 END, false) AS significant " +
        "FROM h"),
      scaleNote = "ab_cuped's exact economics: one per-user " +
        "conditional aggregate (the only user-keyed exchange), one " +
        "2-row arm rollup, one edge expression — and the statistical " +
        "point IS the plan shape: the delta method works on per-USER " +
        "totals precisely so that no view-level resampling or " +
        "user-level bootstrap is needed, making the correct ratio " +
        "SE as cheap as the wrong binomial one. The six moments " +
        "merge associatively (agg_incremental_merge's property), so " +
        "a live dashboard maintains them incrementally and the " +
        "z-test is a constant-time compose per refresh. Long bound: " +
        "n·Σx² at a billion users × 10⁴ views/user ≈ 10¹⁷ — inside " +
        "BIGINT; DECIMAL(38,0) past it (the house escalation)."),

    // Always-valid sequential test (mSPRT) — the A/B member that
    // fixes the peeking problem the fixed-horizon family (welch/
    // zscore) silently has: looking at a fixed-α test daily inflates
    // false positives ~5× over a month, which is why platforms run
    // mixture sequential probability ratio tests — the likelihood
    // ratio Λ_n with a N(0, τ) mixture over effect sizes is a
    // martingale under H₀, so P(sup Λ > 1/α) ≤ α AT EVERY n
    // simultaneously and the dashboard may stop the moment it
    // crosses. Panel: per day, CUMULATIVE per-arm purchase moments
    // (exact BIGINT, one window pass over the |days|×2 daily grid),
    // then log Λ = ½·ln(V/(V+τ)) + Δ²τ/(2V(V+τ)) with Δ the mean
    // diff and V its variance estimate — ln is the only transcendental
    // and the result FLOOR-QUANTIZES to integer basis points before
    // anything else touches it (text_zipf_curve's discipline), so
    // the running max and the rejection flags are pure integer
    // comparisons against ln(1/α)·10⁴ = 29957. τ = 10⁴ cents² —
    // the mixture scale, a tuning literal sized to the metric's
    // per-user variance (stated, not hidden).
    QueryDef(
      "ab_sequential",
      (spark, sf) => {
        val daily = Tables.loadEvents(spark, sf)
          .filter(col("event_type") === "purchase")
          .select(to_date(col("ts")).as("day"),
            (col("user_id") % 2).as("variant"),
            floor(col("value") * 100).cast("long").as("v"))
          .groupBy("day", "variant")
          .agg(VMoments.head, VMoments.tail: _*)
        def arm(v: Int, c: String) =
          sum(when(col("variant") === v, col(c)).otherwise(0L)).as(s"$c$v")
        val grid = daily.groupBy("day")
          .agg(arm(0, "n"), arm(0, "sv"), arm(0, "svv"),
            arm(1, "n"), arm(1, "sv"), arm(1, "svv"))
        // cumulative moments: a window over the aggregate-collapsed
        // |days|-row grid (single partition by construction — the
        // zipf-head pattern, never the raw log)
        val wc = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)
        val cum = grid.select(col("day") +:
          Seq("n0", "sv0", "svv0", "n1", "sv1", "svv1").map(c =>
            sum(col(c)).over(wc).as(s"c$c")): _*)
        def d(c: Column) = c.cast("double")
        def s2(v: Int) =
          d(col(s"cn$v") * col(s"csvv$v") - col(s"csv$v") * col(s"csv$v")) /
            d(col(s"cn$v") * (col(s"cn$v") - 1))
        val diff = d(col("csv0")) / d(col("cn0")) -
          d(col("csv1")) / d(col("cn1"))
        val v = s2(0) / d(col("cn0")) + s2(1) / d(col("cn1"))
        val tau = lit(10000.0)
        val ok = col("cn0") > 1 && col("cn1") > 1 && v > lit(0.0)
        val llr = lit(0.5) * log(v / (v + tau)) +
          diff * diff * tau / (lit(2.0) * v * (v + tau))
        val scored = cum.select(col("day"),
          col("cn0").as("n_a"), col("cn1").as("n_b"),
          when(ok, floor(llr * 10000).cast("long")).as("llr_bp"))
        val wr = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)
        scored
          .withColumn("llr_max_bp", max(col("llr_bp")).over(wr))
          .select(col("day").cast("string").as("day"),
            col("n_a"), col("n_b"), col("llr_bp"), col("llr_max_bp"),
            coalesce(col("llr_bp") > 29957L, lit(false))
              .as("reject_today"),
            coalesce(col("llr_max_bp") > 29957L, lit(false))
              .as("rejected_by_now"))
          .orderBy("day")
      },
      Some("WITH ev AS (SELECT CAST(ts AS DATE) AS day, user_id % 2 AS variant, CAST(floor(value*100) AS BIGINT) AS v FROM events WHERE event_type = 'purchase'), " +
        s"daily AS (SELECT day, variant, $VMomentsSql FROM ev GROUP BY 1, 2), " +
        "grid AS (SELECT day, " +
        "CAST(sum(CASE WHEN variant = 0 THEN n ELSE 0 END) AS BIGINT) AS n0, CAST(sum(CASE WHEN variant = 0 THEN sv ELSE 0 END) AS BIGINT) AS sv0, CAST(sum(CASE WHEN variant = 0 THEN svv ELSE 0 END) AS BIGINT) AS svv0, " +
        "CAST(sum(CASE WHEN variant = 1 THEN n ELSE 0 END) AS BIGINT) AS n1, CAST(sum(CASE WHEN variant = 1 THEN sv ELSE 0 END) AS BIGINT) AS sv1, CAST(sum(CASE WHEN variant = 1 THEN svv ELSE 0 END) AS BIGINT) AS svv1 FROM daily GROUP BY 1), " +
        "cum AS (SELECT day, " +
        "CAST(sum(n0) OVER w AS BIGINT) AS cn0, CAST(sum(sv0) OVER w AS BIGINT) AS csv0, CAST(sum(svv0) OVER w AS BIGINT) AS csvv0, " +
        "CAST(sum(n1) OVER w AS BIGINT) AS cn1, CAST(sum(sv1) OVER w AS BIGINT) AS csv1, CAST(sum(svv1) OVER w AS BIGINT) AS csvv1 " +
        "FROM grid WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
        "f AS (SELECT *, CAST(cn0*csvv0 - csv0*csv0 AS DOUBLE)/CAST(cn0*(cn0-1) AS DOUBLE) AS s20, " +
        "CAST(cn1*csvv1 - csv1*csv1 AS DOUBLE)/CAST(cn1*(cn1-1) AS DOUBLE) AS s21, " +
        "CAST(csv0 AS DOUBLE)/CAST(cn0 AS DOUBLE) - CAST(csv1 AS DOUBLE)/CAST(cn1 AS DOUBLE) AS df FROM cum), " +
        "g AS (SELECT *, s20/CAST(cn0 AS DOUBLE) + s21/CAST(cn1 AS DOUBLE) AS vv, " +
        "cn0 > 1 AND cn1 > 1 AND s20/CAST(cn0 AS DOUBLE) + s21/CAST(cn1 AS DOUBLE) > 0.0 AS ok FROM f), " +
        "h AS (SELECT day, cn0 AS n_a, cn1 AS n_b, " +
        "CASE WHEN ok THEN CAST(floor((0.5 * ln(vv/(vv + 10000.0)) + df*df*10000.0/(2.0*vv*(vv + 10000.0))) * 10000) AS BIGINT) END AS llr_bp FROM g), " +
        "i AS (SELECT *, max(llr_bp) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr_max_bp FROM h) " +
        "SELECT CAST(day AS VARCHAR) AS day, n_a, n_b, llr_bp, llr_max_bp, " +
        "coalesce(llr_bp > 29957, false) AS reject_today, " +
        "coalesce(llr_max_bp > 29957, false) AS rejected_by_now " +
        "FROM i ORDER BY day"),
      scaleNote = "The raw log collapses to the |days|×2 grid in one " +
        "map-side-combined aggregate; every window after that runs " +
        "on ≤ |days| rows (the deliberately-single-partition " +
        "aggregate-head pattern — never a corpus window), and the " +
        "one ln() floor-quantizes to integer basis points before " +
        "the running max or any comparison, so the decision column " +
        "is bit-stable however the log was partitioned. In " +
        "production the panel keeps only the last cumulative " +
        "moment row per arm (stream_power_mde's exact state) and " +
        "appends a day at a time — always-valid means the emitted " +
        "rejected_by_now NEVER retracts, which is the property " +
        "that lets a dashboard auto-stop an experiment. τ tunes " +
        "sensitivity (small τ = powered for small effects late; " +
        "large = big effects early); sweeping τ is one more " +
        "literal column, not a new pass."),

    // Power / minimum-detectable-effect analysis — the PLANNING side
    // of the A/B family (every other member tests data already
    // collected; this one answers "how long must we run"): from the
    // same two (n, Σv, Σv²) BIGINT triples as ab_test_welch, compute
    // for each target power the two-sided-α=0.05 MDE at the CURRENT
    // sample sizes — mde = (z_{α/2} + z_power)·√(s²p·(1/n₁+1/n₂)) on
    // the pooled variance — plus the per-arm n required to detect a
    // 5%-of-control-mean lift. The z constants are fixed literals
    // (0.8416/1.2816/1.6449 for power 0.8/0.9/0.95 — quantile lookups,
    // not data), joined as a 3-row literal table onto the 1-row
    // moment aggregate, so the whole report is one scan + one edge
    // expression per power row.
    QueryDef(
      "ab_power_mde",
      (spark, sf) => {
        val session = spark
        import session.implicits._
        val one = twoArms(Tables.loadEvents(spark, sf))
        val powers = Seq((80, 0.8416), (90, 1.2816), (95, 1.6449))
          .toDF("power_pct", "zb")
        def d(c: Column) = c.cast("double")
        // pooled sample variance from the six integers
        val s2p = d((col("n1") + col("n2")) * (col("svv1") + col("svv2")) -
          (col("sv1") + col("sv2")) * (col("sv1") + col("sv2"))) /
          d((col("n1") + col("n2")) * (col("n1") + col("n2") - 1))
        val m1 = d(col("sv1")) / d(col("n1"))
        val se = sqrt(s2p * (lit(1.0) / d(col("n1")) +
          lit(1.0) / d(col("n2"))))
        val mde = (lit(1.96) + col("zb")) * se
        val target = lit(0.05) * m1
        val nNeed = lit(2.0) * s2p *
          (lit(1.96) + col("zb")) * (lit(1.96) + col("zb")) /
          (target * target)
        one.crossJoin(broadcast(powers))
          .select(col("power_pct"), col("n1"), col("n2"),
            round(m1, 4).as("control_mean_cents"),
            round(s2p, 4).as("pooled_var"),
            round(mde, 4).as("mde_cents"),
            round(mde / m1, 6).as("mde_rel"),
            ceil(nNeed).cast("long").as("n_per_arm_for_5pct"))
          .orderBy("power_pct")
      },
      Some(s"WITH $TwoArmsSql, " +
        "pw AS (SELECT * FROM (VALUES (80, 0.8416), (90, 1.2816), (95, 1.6449)) AS t(power_pct, zb)), " +
        "f AS (SELECT *, CAST((n1+n2)*(svv1+svv2) - (sv1+sv2)*(sv1+sv2) AS DOUBLE)/CAST((n1+n2)*(n1+n2-1) AS DOUBLE) AS s2p, " +
        "CAST(sv1 AS DOUBLE)/CAST(n1 AS DOUBLE) AS m1 FROM one CROSS JOIN pw), " +
        "g AS (SELECT *, (1.96 + zb) * sqrt(s2p * (1.0/CAST(n1 AS DOUBLE) + 1.0/CAST(n2 AS DOUBLE))) AS mde, 0.05 * m1 AS target FROM f) " +
        "SELECT CAST(power_pct AS INT) AS power_pct, n1, n2, round(m1, 4) AS control_mean_cents, round(s2p, 4) AS pooled_var, " +
        "round(mde, 4) AS mde_cents, round(mde / m1, 6) AS mde_rel, " +
        "CAST(ceil(2.0 * s2p * (1.96 + zb) * (1.96 + zb) / (target * target)) AS BIGINT) AS n_per_arm_for_5pct " +
        "FROM g ORDER BY power_pct"),
      scaleNote = "ab_test_welch's exact plan (one map-side-combined " +
        "triple aggregate, no window, no per-user state) with a " +
        "3-row literal power table crossed onto the 1-row moment " +
        "result — both sides constants to the sweep's structural " +
        "proof. At any corpus size the report costs the purchase " +
        "scan; in production it runs on yesterday's moments (agg_" +
        "incremental_merge's mergeable triples), making 'when can " +
        "we call this experiment' a dashboard cell, not a query. " +
        "n_per_arm_for_5pct is deliberately relative-to-control-" +
        "mean so the answer survives metric rescaling."),

    // CUPED (Controlled-experiment Using Pre-Experiment Data) — the
    // variance-reduction step ab_test_welch's scaleNote promised
    // ("stratified CUPED-style variants add covariate sums to the
    // SAME aggregate"), and the technique every mature experimentation
    // platform applies before the t-test: per user, the PRE-period
    // metric X (purchases before the experiment cut, 2024-01-16) is a
    // covariate for the POST-period metric Y; Ycuped = Y − θ(X − X̄)
    // with θ = cov(X,Y)/var(X) estimated POOLED across arms (θ from
    // pre-experiment structure is assignment-independent, so the
    // adjustment is unbiased). Everything is exact BIGINT moments —
    // per arm (n, ΣX, ΣY, ΣX², ΣY², ΣXY) in cents off ONE per-user
    // conditional aggregate — and θ, the adjusted diff, its Welch SE,
    // and the variance-reduction ratio 1 − ρ² all compose once at the
    // edge. Degenerate guards: var(X) = 0 → NULL θ (adjustment
    // undefined), n ≤ 1 or zero adjusted variance → NULL t,
    // significance coalesces false.
    QueryDef(
      "ab_cuped",
      (spark, sf) => {
        val cut = Dsl.tsLit("2024-01-16")
        val cents = floor(col("value") * 100).cast("long")
        val per = Tables.loadEvents(spark, sf)
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(sum(when(col("ts") < cut, cents).otherwise(0L)).as("x"),
            sum(when(col("ts") >= cut, cents).otherwise(0L)).as("y"))
          .select((col("user_id") % 2).as("variant"), col("x"), col("y"))
        val m = per.groupBy("variant")
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"),
            sum(col("x") * col("y")).as("sxy"))
        def arm(v: Int, c: String) =
          sum(when(col("variant") === v, col(c))).as(s"$c$v")
        val one = m.agg(
          arm(0, "n"), arm(0, "sx"), arm(0, "sy"), arm(0, "sxx"),
          arm(0, "syy"), arm(0, "sxy"),
          arm(1, "n"), arm(1, "sx"), arm(1, "sy"), arm(1, "sxx"),
          arm(1, "syy"), arm(1, "sxy"))
        def d(c: Column) = c.cast("double")
        val n = col("n0") + col("n1")
        val sx = col("sx0") + col("sx1")
        val sy = col("sy0") + col("sy1")
        val sxx = col("sxx0") + col("sxx1")
        val syy = col("syy0") + col("syy1")
        val sxy = col("sxy0") + col("sxy1")
        val vx = d(n * sxx - sx * sx)
        val vy = d(n * syy - sy * sy)
        val cxy = d(n * sxy - sx * sy)
        val theta = cxy / vx
        val rho2 = cxy * cxy / (vx * vy)
        def meanAdj(v: Int) =
          d(col(s"sy$v")) / d(col(s"n$v")) -
            theta * (d(col(s"sx$v")) / d(col(s"n$v")))
        // per-arm adjusted sample variance:
        // s²y − 2θ·cov + θ²·s²x, each moment exact per arm
        def s2adj(v: Int) = {
          val nn = col(s"n$v")
          val s2y = d(nn * col(s"syy$v") - col(s"sy$v") * col(s"sy$v")) /
            d(nn * (nn - 1))
          val s2x = d(nn * col(s"sxx$v") - col(s"sx$v") * col(s"sx$v")) /
            d(nn * (nn - 1))
          val cov = d(nn * col(s"sxy$v") - col(s"sx$v") * col(s"sy$v")) /
            d(nn * (nn - 1))
          s2y - lit(2.0) * theta * cov + theta * theta * s2x
        }
        val rawDiff = d(col("sy0")) / d(col("n0")) -
          d(col("sy1")) / d(col("n1"))
        val adjDiff = meanAdj(0) - meanAdj(1)
        val se2 = s2adj(0) / d(col("n0")) + s2adj(1) / d(col("n1"))
        val okTheta = col("n0") > 1 && col("n1") > 1 && vx > lit(0.0)
        val ok = okTheta && se2 > lit(0.0)
        val t = adjDiff / sqrt(se2)
        one.select(col("n0").as("n_a"), col("n1").as("n_b"),
          when(okTheta, round(theta, 6)).as("theta"),
          round(rawDiff, 4).as("raw_diff_cents"),
          when(okTheta, round(adjDiff, 4)).as("adj_diff_cents"),
          when(okTheta, round(rho2, 4)).as("var_reduction"),
          when(ok, round(t, 4)).as("t_adj"),
          coalesce(when(ok, abs(t) > lit(1.96)), lit(false))
            .as("significant"))
      },
      Some("WITH ev AS (SELECT user_id, CAST(floor(value*100) AS BIGINT) AS v, ts FROM events WHERE event_type = 'purchase'), " +
        "pu AS (SELECT user_id % 2 AS variant, " +
        "CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN v ELSE 0 END) AS BIGINT) AS x, " +
        "CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN v ELSE 0 END) AS BIGINT) AS y " +
        "FROM ev GROUP BY user_id), " +
        "m AS (SELECT variant, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, " +
        "CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy, CAST(sum(x*y) AS BIGINT) AS sxy FROM pu GROUP BY 1), " +
        "one AS (SELECT " +
        "CAST(sum(CASE WHEN variant = 0 THEN n END) AS BIGINT) AS n0, CAST(sum(CASE WHEN variant = 0 THEN sx END) AS BIGINT) AS sx0, CAST(sum(CASE WHEN variant = 0 THEN sy END) AS BIGINT) AS sy0, " +
        "CAST(sum(CASE WHEN variant = 0 THEN sxx END) AS BIGINT) AS sxx0, CAST(sum(CASE WHEN variant = 0 THEN syy END) AS BIGINT) AS syy0, CAST(sum(CASE WHEN variant = 0 THEN sxy END) AS BIGINT) AS sxy0, " +
        "CAST(sum(CASE WHEN variant = 1 THEN n END) AS BIGINT) AS n1, CAST(sum(CASE WHEN variant = 1 THEN sx END) AS BIGINT) AS sx1, CAST(sum(CASE WHEN variant = 1 THEN sy END) AS BIGINT) AS sy1, " +
        "CAST(sum(CASE WHEN variant = 1 THEN sxx END) AS BIGINT) AS sxx1, CAST(sum(CASE WHEN variant = 1 THEN syy END) AS BIGINT) AS syy1, CAST(sum(CASE WHEN variant = 1 THEN sxy END) AS BIGINT) AS sxy1 FROM m), " +
        "f AS (SELECT *, n0 + n1 AS n, sx0 + sx1 AS sx, sy0 + sy1 AS sy, sxx0 + sxx1 AS sxx, syy0 + syy1 AS syy, sxy0 + sxy1 AS sxy FROM one), " +
        "g AS (SELECT *, CAST(n*sxx - sx*sx AS DOUBLE) AS vx, CAST(n*syy - sy*sy AS DOUBLE) AS vy, CAST(n*sxy - sx*sy AS DOUBLE) AS cxy FROM f), " +
        "h AS (SELECT *, cxy / vx AS theta, cxy*cxy / (vx*vy) AS rho2, " +
        "CAST(sy0 AS DOUBLE)/CAST(n0 AS DOUBLE) - (cxy / vx) * (CAST(sx0 AS DOUBLE)/CAST(n0 AS DOUBLE)) AS ma0, " +
        "CAST(sy1 AS DOUBLE)/CAST(n1 AS DOUBLE) - (cxy / vx) * (CAST(sx1 AS DOUBLE)/CAST(n1 AS DOUBLE)) AS ma1, " +
        "CAST(n0*syy0 - sy0*sy0 AS DOUBLE)/CAST(n0*(n0-1) AS DOUBLE) - 2.0 * (cxy / vx) * (CAST(n0*sxy0 - sx0*sy0 AS DOUBLE)/CAST(n0*(n0-1) AS DOUBLE)) + (cxy / vx) * (cxy / vx) * (CAST(n0*sxx0 - sx0*sx0 AS DOUBLE)/CAST(n0*(n0-1) AS DOUBLE)) AS s2a0, " +
        "CAST(n1*syy1 - sy1*sy1 AS DOUBLE)/CAST(n1*(n1-1) AS DOUBLE) - 2.0 * (cxy / vx) * (CAST(n1*sxy1 - sx1*sy1 AS DOUBLE)/CAST(n1*(n1-1) AS DOUBLE)) + (cxy / vx) * (cxy / vx) * (CAST(n1*sxx1 - sx1*sx1 AS DOUBLE)/CAST(n1*(n1-1) AS DOUBLE)) AS s2a1 FROM g), " +
        "k AS (SELECT *, s2a0/CAST(n0 AS DOUBLE) + s2a1/CAST(n1 AS DOUBLE) AS se2, " +
        "n0 > 1 AND n1 > 1 AND vx > 0.0 AS ok_theta, " +
        "n0 > 1 AND n1 > 1 AND vx > 0.0 AND s2a0/CAST(n0 AS DOUBLE) + s2a1/CAST(n1 AS DOUBLE) > 0.0 AS ok FROM h) " +
        "SELECT n0 AS n_a, n1 AS n_b, " +
        "CASE WHEN ok_theta THEN round(theta, 6) END AS theta, " +
        "round(CAST(sy0 AS DOUBLE)/CAST(n0 AS DOUBLE) - CAST(sy1 AS DOUBLE)/CAST(n1 AS DOUBLE), 4) AS raw_diff_cents, " +
        "CASE WHEN ok_theta THEN round(ma0 - ma1, 4) END AS adj_diff_cents, " +
        "CASE WHEN ok_theta THEN round(rho2, 4) END AS var_reduction, " +
        "CASE WHEN ok THEN round((ma0 - ma1)/sqrt(se2), 4) END AS t_adj, " +
        "coalesce(CASE WHEN ok THEN abs((ma0 - ma1)/sqrt(se2)) > 1.96 END, false) AS significant " +
        "FROM k"),
      scaleNote = "ab_test_welch's plan with three covariate sums " +
        "added: ONE per-user conditional aggregate (the pre/post " +
        "split is a CASE inside the sum — no second scan, no join), " +
        "one 2-row arm rollup, one 1-row edge expression — the " +
        "whole adjustment costs the groupBy(user_id) exchange the " +
        "raw test already needs for per-user metrics. θ pooled " +
        "across arms keeps the estimator assignment-independent " +
        "(the CUPED validity condition) and is three exact BIGINT " +
        "moment differences. Long bound: n·Σx² ≤ ~10¹⁸ at a million " +
        "users × $7.5k pre-period spend — DECIMAL(38,0) partials " +
        "past it, agg_corr's escalation. var_reduction = ρ² is the " +
        "SHIPPED observable: it prices how much experiment runtime " +
        "CUPED buys (a 0.3 ρ² = 30% fewer users for the same " +
        "power), which is the number platform teams actually report."),

    // Holt's linear (level + trend) exponential smoothing — the TRUE
    // recursive smoother ts_ewma's truncated-window form cannot be
    // (ewma's 8-lag window forgets; Holt's state carries the whole
    // history and extrapolates): α = β = 1/5 in exact integer
    // micro-units, l_t = (x_t·1e6 + 4(l+b)) /₅ and b_t =
    // ((l_t−l) + 4b) /₅ where /₅ is FLOOR division spelled as
    // (v − pmod(v,5)) div 5 on both engines — trend goes negative,
    // and the recursion is DEFINED with floor semantics, so the
    // spelling makes the floor explicit rather than leaning on
    // either engine's default. (r13 ADVICE #2 correction: an earlier
    // version of this comment claimed DuckDB's // floors while Spark
    // div truncates; MEASURED DuckDB 1.0.0 integer // actually
    // truncates toward zero exactly like Spark div ((-7)//2 = -3) —
    // truncation parity is the house contract for plain signed
    // integer division, pinned cross-engine by fn_math's
    // neg_div_trunc column. The pmod spelling here is kept because
    // floor is the semantic this op WANTS, not because plain div
    // would diverge.) Spark folds per type with one
    // aggregate() HOF over the day-sorted series; the oracle replays
    // the identical recursion as a per-type recursive CTE.
    QueryDef(
      "ts_holt_linear",
      (spark, sf) => {
        val (lp, bp) = holtLevelTrend(
          "x.n * 1000000 + 4 * (element_at(out, -1).l + element_at(out, -1).b)")
        holtFold(spark, sf, Seq("l" -> lp, "b" -> bp),
          (col("h.l") + col("h.b")).as("forecast_micro"))
      },
      Some {
        val An = "s.n * 1000000 + 4 * (h.l + h.b)"
        val LPd = s"(($An) - ((($An) % 5) + 5) % 5) // 5"
        val Bd = s"($LPd) - h.l + 4 * h.b"
        val BPd = s"(($Bd) - ((($Bd) % 5) + 5) % 5) // 5"
        s"WITH RECURSIVE ${dailySeriesSql("n")}, " +
          "s AS (SELECT event_type, day, n, row_number() OVER (PARTITION BY event_type ORDER BY day) AS i FROM daily), " +
          "h(event_type, i, day, n, l, b) AS (" +
          "SELECT event_type, i, day, n, n * 1000000, CAST(0 AS BIGINT) FROM s WHERE i = 1 " +
          s"UNION ALL SELECT s.event_type, s.i, s.day, s.n, $LPd, $BPd " +
          "FROM h JOIN s ON s.event_type = h.event_type AND s.i = h.i + 1) " +
          "SELECT event_type, CAST(day AS VARCHAR) AS day, n, " +
          "CAST(l AS BIGINT) AS level_micro, CAST(b AS BIGINT) AS trend_micro, " +
          "CAST(l + b AS BIGINT) AS forecast_micro " +
          "FROM h ORDER BY event_type, day"
      },
      scaleNote = "The log collapses to |types|×|days| rows in one " +
        "map-side-combined agg BEFORE any sequential work, so the " +
        "recursion folds a bounded per-type array (a year = 365 " +
        "elements) — the same collapse-then-fold shape as ts_ewma, " +
        "but carrying true recursive state. Sequential smoothers " +
        "are inherently order-dependent: the scalable forms are (a) " +
        "this one — state over an aggregate-collapsed bounded " +
        "series, sharded by the group key across executors, or (b) " +
        "the streaming fold (stream_ewma's mapGroupsWithState) when " +
        "the series is unbounded — both carry O(1) state per key. " +
        "Integer micro-units with the explicit floor-division " +
        "spelling make every step exact and engine-identical even " +
        "through negative trends; α, β as rational 1/5 keep the " +
        "recursion in integers forever (no drift, no " +
        "representation-dependent tails)."),

    // Holt-Winters additive triple smoothing (r10) — ts_holt_linear
    // plus the SEASONAL state the daily series actually has (the dow
    // cycle ts_seasonal_dow measures statically, here LEARNED
    // recursively): l_t = (x̂_t + 4(l+b))/₅ over the deseasonalized
    // x̂_t = x_t·1e6 − s_{t−7}, b_t as in Holt, and s_t = ((x_t·1e6 −
    // l_t) + 4·s_{t−7})/₅ with α=β=γ=1/5 in exact integer micro-units
    // and the explicit pmod floor-division spelling (negative trends
    // AND negative seasonals — weekends dip below trend). The state
    // is three scalars plus a rotating 7-slot seasonal window:
    // Spark's fold reads s_{t−7} as element_at(out, -7).s; the
    // oracle's recursive CTE cannot see 7 rows back, so it CARRIES
    // the window — a 7-element list rotated per step
    // (list_append(seas[2:], s_t)) — proving the identical recursion
    // from completely different state mechanics. Forecast is the
    // true one-step-ahead l + b + s_{t−6} (next day's seasonal),
    // zero until a full period has been seen.
    QueryDef(
      "ts_holt_winters",
      (spark, sf) => {
        val SP = "CASE WHEN size(out) >= 7 THEN element_at(out, -7).s " +
          "ELSE CAST(0 AS BIGINT) END"
        val (lp, bp) = holtLevelTrend(s"x.n * 1000000 - ($SP) + " +
          "4 * (element_at(out, -1).l + element_at(out, -1).b)")
        val SV = s"CASE WHEN size(out) = 0 THEN CAST(0 AS BIGINT) " +
          s"ELSE ${floorDiv5(s"x.n * 1000000 - ($lp) + 4 * ($SP)")} END"
        val SN = "CASE WHEN size(out) >= 6 THEN element_at(out, -6).s " +
          "ELSE CAST(0 AS BIGINT) END"
        holtFold(spark, sf,
          Seq("l" -> lp, "b" -> bp, "s" -> SV, "f" -> s"($lp) + ($bp) + ($SN)"),
          col("h.s").as("seasonal_micro"), col("h.f").as("forecast_micro"))
      },
      Some {
        val SPd = "h.seas[1]"
        val An = s"s.n * 1000000 - $SPd + 4 * (h.l + h.b)"
        val LPd = s"(($An) - (((($An) % 5) + 5) % 5)) // 5"
        val Bd = s"($LPd) - h.l + 4 * h.b"
        val BPd = s"(($Bd) - (((($Bd) % 5) + 5) % 5)) // 5"
        val Sn = s"s.n * 1000000 - ($LPd) + 4 * ($SPd)"
        val SVd = s"(($Sn) - (((($Sn) % 5) + 5) % 5)) // 5"
        val Fd = s"($LPd) + ($BPd) + h.seas[2]"
        s"WITH RECURSIVE ${dailySeriesSql("n")}, " +
          "s AS (SELECT event_type, day, n, row_number() OVER (PARTITION BY event_type ORDER BY day) AS i FROM daily), " +
          "h(event_type, i, day, n, l, b, sv, fv, seas) AS (" +
          "SELECT event_type, i, day, n, n * 1000000, CAST(0 AS BIGINT), CAST(0 AS BIGINT), n * 1000000, " +
          "[CAST(0 AS BIGINT), 0, 0, 0, 0, 0, 0] FROM s WHERE i = 1 " +
          s"UNION ALL SELECT s.event_type, s.i, s.day, s.n, $LPd, $BPd, $SVd, $Fd, " +
          s"list_append(h.seas[2:], $SVd) " +
          "FROM h JOIN s ON s.event_type = h.event_type AND s.i = h.i + 1) " +
          "SELECT event_type, CAST(day AS VARCHAR) AS day, n, " +
          "CAST(l AS BIGINT) AS level_micro, CAST(b AS BIGINT) AS trend_micro, " +
          "CAST(sv AS BIGINT) AS seasonal_micro, CAST(fv AS BIGINT) AS forecast_micro " +
          "FROM h ORDER BY event_type, day"
      },
      scaleNote = "Identical economics to ts_holt_linear — the log " +
        "collapses to |types|×|days| rows map-side BEFORE any " +
        "sequential work, the fold walks a bounded per-type array, " +
        "and types shard across executors — the seasonal component " +
        "adds 7 longs of state per series, not a pass. This is the " +
        "general recipe for periodic-state smoothers at scale: keep " +
        "the period's slots as O(period) state inside the fold " +
        "(streaming twin: the same slots in mapGroupsWithState), " +
        "never as a self-join against the series 7 rows back — the " +
        "window-lag formulation re-shuffles the series per " +
        "component. Hourly data with weekly seasonality is period " +
        "168: still O(period) state, same plan. All three " +
        "recurrences stay in exact integers through negative trend " +
        "AND seasonal excursions (the pmod floor spelling), so a " +
        "1000-executor rerun is bit-identical and the forecast " +
        "column is directly gateable against a re-run — the " +
        "auditable-forecast property float smoothers never have."),

    // Group-wise SKYLINE (Pareto front): per brand, the parts no other
    // part of the brand dominates (higher-or-equal price AND
    // smaller-or-equal size, strict somewhere) — the two-criteria
    // shortlist query ("cheapest per quality tier" / "best per size")
    // behind every frontier dashboard. The quadratic NOT-EXISTS
    // definition collapses to a SORT + RUNNING-MIN: within a brand,
    // a part survives iff its size equals its price group's min AND
    // beats the min size over all strictly-higher prices — one
    // window over the |distinct prices|-per-brand collapsed table,
    // never an all-pairs self-join. The oracle runs the independent
    // quadratic definition, so the gate proves the O(n log n) form
    // computes the textbook semantics.
    QueryDef(
      "pareto_front",
      (spark, sf) => {
        val parts = Tables.part(spark, sf).select(col("p_brand"),
          col("p_partkey"), col("p_size"),
          Dsl.dec2(col("p_retailprice")).as("pd"))
        val perPrice = parts.groupBy("p_brand", "pd")
          .agg(min(col("p_size")).as("msz"))
        // strict-prefix min: min size among STRICTLY higher prices of
        // the same brand (rows frame ends 1 before current; per-price
        // collapse above makes "previous rows" = "higher prices")
        val w = Window.partitionBy("p_brand").orderBy(col("pd").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val strict = perPrice.withColumn("strict_min", min(col("msz")).over(w))
        parts.join(strict, Seq("p_brand", "pd"))
          .filter(col("p_size") === col("msz") &&
            (col("strict_min").isNull || col("strict_min") > col("p_size")))
          .select(col("p_brand"), col("p_partkey"), col("p_size"),
            col("pd").cast("double").as("price"))
          .orderBy(col("p_brand"), col("price").desc, col("p_size"),
            col("p_partkey"))
      },
      Some("WITH p AS (SELECT p_brand, p_partkey, p_size, " +
        "CAST(p_retailprice AS DECIMAL(18,2)) AS pd FROM part) " +
        "SELECT o.p_brand, o.p_partkey, o.p_size, CAST(o.pd AS DOUBLE) AS price " +
        "FROM p o WHERE NOT EXISTS (SELECT * FROM p q " +
        "WHERE q.p_brand = o.p_brand AND q.pd >= o.pd AND q.p_size <= o.p_size " +
        "AND (q.pd > o.pd OR q.p_size < o.p_size)) " +
        "ORDER BY o.p_brand, price DESC, o.p_size, o.p_partkey"),
      scaleNote = "The sort-based rewrite is what survives scale: the " +
        "skyline window runs on the per-(brand, price) COLLAPSED " +
        "table (one map-side-combined min agg first), partitioned by " +
        "brand — each group sorts its own distinct prices, no global " +
        "anything, and the quadratic NOT-EXISTS stays oracle-side " +
        "only. An UNGROUPED skyline at 100 TB runs the same shape " +
        "via the two-phase distributed prefix-min (pack_sequences' " +
        "pattern: per-range minima + tiny offsets table), or " +
        "grid-prefilters candidates first (join_spatial_grid's " +
        "cells: only cells on the grid's own staircase can hold " +
        "skyline points — everything else drops before the sort). " +
        "Output is the frontier staircase: ≤ |distinct sizes| rows " +
        "per brand by construction."),

    // Pearson chi-square test of independence on the k×2 contingency
    // table — the A/B family's MULTI-ARM member (zscore compares two
    // rates; real platforms ship 3+ arms, and k−1 pairwise z-tests
    // inflate the false-positive rate — the chi-square is the one
    // omnibus readout). Arms = user_id % 3 (deterministic assignment,
    // zscore's contract), exposure = first view, conversion = a
    // purchase within 24 h of it (the windowed definition — unwindowed
    // saturates, see ab_test_zscore). The 6 cells are exact integers
    // collapsed to ONE row of conditional sums; χ² = Σ (O−E)²/E over
    // the 6 cells composes from those integers in one fixed-order
    // expression, identical text on both engines. Degenerate guard
    // (an empty arm, or conversion total at 0 or N → some E = 0):
    // χ² is NULL and significance coalesces false. df = (3−1)(2−1) =
    // 2; rejection at α=0.05 via χ²₂ > 5.9915. With k = 2 the
    // statistic is exactly z² — the family's internal consistency,
    // asserted in-spec against ab_test_zscore's own output.
    QueryDef(
      "ab_test_chi2",
      (spark, sf) => {
        val per = conversions(Tables.loadEvents(spark, sf), "v", 3)
        val one = per.agg(
          sum(when(col("v") === 0, col("n"))).as("n0"),
          sum(when(col("v") === 0, col("x"))).as("x0"),
          sum(when(col("v") === 1, col("n"))).as("n1"),
          sum(when(col("v") === 1, col("x"))).as("x1"),
          sum(when(col("v") === 2, col("n"))).as("n2"),
          sum(when(col("v") === 2, col("x"))).as("x2"))
        val nn = (col("n0") + col("n1") + col("n2")).cast("double")
        val xx = (col("x0") + col("x1") + col("x2")).cast("double")
        val p = xx / nn
        def term(n: Column, x: Column): Column = {
          val e1 = n.cast("double") * p
          val e0 = n.cast("double") * (lit(1.0) - p)
          (x.cast("double") - e1) * (x.cast("double") - e1) / e1 +
            ((n - x).cast("double") - e0) * ((n - x).cast("double") - e0) / e0
        }
        val ok = col("n0") > 0 && col("n1") > 0 && col("n2") > 0 &&
          xx > lit(0.0) && xx < nn
        val chi2 = when(ok, round(
          term(col("n0"), col("x0")) + term(col("n1"), col("x1")) +
            term(col("n2"), col("x2")), 4))
        one.select(col("n0"), col("x0"), col("n1"), col("x1"),
          col("n2"), col("x2"), chi2.as("chi2"), lit(2).as("df"),
          coalesce(chi2 > lit(5.9915), lit(false)).as("significant"))
      },
      Some(s"WITH ${conversionsSql("v", 3)}, " +
        "o AS (SELECT CAST(sum(CASE WHEN v = 0 THEN n END) AS BIGINT) AS n0, CAST(sum(CASE WHEN v = 0 THEN x END) AS BIGINT) AS x0, " +
        "CAST(sum(CASE WHEN v = 1 THEN n END) AS BIGINT) AS n1, CAST(sum(CASE WHEN v = 1 THEN x END) AS BIGINT) AS x1, " +
        "CAST(sum(CASE WHEN v = 2 THEN n END) AS BIGINT) AS n2, CAST(sum(CASE WHEN v = 2 THEN x END) AS BIGINT) AS x2 FROM per), " +
        "f AS (SELECT *, CAST(n0 + n1 + n2 AS DOUBLE) AS nn, CAST(x0 + x1 + x2 AS DOUBLE) AS xx FROM o), " +
        "g AS (SELECT *, xx / nn AS p, n0 > 0 AND n1 > 0 AND n2 > 0 AND xx > 0.0 AND xx < nn AS ok FROM f), " +
        "h AS (SELECT *, CASE WHEN ok THEN round(" +
        "(CAST(x0 AS DOUBLE) - CAST(n0 AS DOUBLE)*p)*(CAST(x0 AS DOUBLE) - CAST(n0 AS DOUBLE)*p)/(CAST(n0 AS DOUBLE)*p) + (CAST(n0 - x0 AS DOUBLE) - CAST(n0 AS DOUBLE)*(1.0 - p))*(CAST(n0 - x0 AS DOUBLE) - CAST(n0 AS DOUBLE)*(1.0 - p))/(CAST(n0 AS DOUBLE)*(1.0 - p)) + " +
        "(CAST(x1 AS DOUBLE) - CAST(n1 AS DOUBLE)*p)*(CAST(x1 AS DOUBLE) - CAST(n1 AS DOUBLE)*p)/(CAST(n1 AS DOUBLE)*p) + (CAST(n1 - x1 AS DOUBLE) - CAST(n1 AS DOUBLE)*(1.0 - p))*(CAST(n1 - x1 AS DOUBLE) - CAST(n1 AS DOUBLE)*(1.0 - p))/(CAST(n1 AS DOUBLE)*(1.0 - p)) + " +
        "(CAST(x2 AS DOUBLE) - CAST(n2 AS DOUBLE)*p)*(CAST(x2 AS DOUBLE) - CAST(n2 AS DOUBLE)*p)/(CAST(n2 AS DOUBLE)*p) + (CAST(n2 - x2 AS DOUBLE) - CAST(n2 AS DOUBLE)*(1.0 - p))*(CAST(n2 - x2 AS DOUBLE) - CAST(n2 AS DOUBLE)*(1.0 - p))/(CAST(n2 AS DOUBLE)*(1.0 - p)), 4) END AS chi2 FROM g) " +
        "SELECT n0, x0, n1, x1, n2, x2, chi2, 2 AS df, coalesce(chi2 > 5.9915, false) AS significant FROM h"),
      scaleNote = "Same cost class as ab_test_zscore — two map-side-" +
        "combined user-level collapses (the wire carries users, not " +
        "events), a k-row rollup, and a driver-scale statistic " +
        "composed from 2k exact integer cells on one row: a billion-" +
        "user 10-arm experiment is the identical plan with a wider " +
        "conditional-sum row. The omnibus property is why this is " +
        "the dashboard default for multi-arm tests (k−1 pairwise z " +
        "tests inflate α); arm-vs-control drill-down after a " +
        "significant omnibus reuses zscore's plan with the arm " +
        "filter pushed into the SAME user-level scan. Many " +
        "concurrent experiments add experiment_id to both group " +
        "keys — cells stay integer-exact under any partitioning, so " +
        "the statistic is bit-stable on any cluster size."),

    // Poisson-bootstrap confidence interval for the mean purchase
    // value — THE distributed bootstrap: a classical multinomial
    // resample needs a global draw of n indices (inherently
    // sequential, undistributable), but for large n the per-row
    // resample multiplicity converges to independent Poisson(1), so
    // each row draws its own weight locally and a resample mean is
    // just a weighted aggregate. The draw is DETERMINISTIC, not
    // rand(): u16 = first 4 md5 hex chars of (salt, event_id, b) —
    // sample_consistent's portable-hash contract — mapped through
    // the exact Poisson(1) inverse CDF quantized to 16 bits
    // (thresholds 24109/48218/60273/64291/65296/65497/65530, i.e.
    // floor(CDF·65536); the residual 6e-5 tail saturates at w=7).
    // Every resample mean is an INTEGER: (Σw·v)·10⁶ div Σw in
    // micro-cents — no float ever aggregates — and the 90% CI reads
    // the 4th/61st order statistics of the B=64 means (the 5th/95th
    // empirical percentiles, b-tiebroken). In-spec: the interval
    // brackets the point estimate and its width shrinks vs a
    // quarter-size resample base.
    QueryDef(
      "ab_bootstrap_ci",
      (spark, sf) => {
        val base = purchaseCents(Tables.loadEvents(spark, sf))
        val tot = base.agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
          .withColumn("mean_micro", expr("(sv * 1000000) div n"))
        val means = poissonMeans(base)
        val ord = Window.orderBy(col("m_micro"), col("b"))
        val ranked = means.withColumn("rn", row_number().over(ord))
        val ci = ranked.agg(
          count(lit(1)).as("n_resamples"),
          sum(when(col("rn") === 4, col("m_micro"))).as("ci_lo_micro"),
          sum(when(col("rn") === 61, col("m_micro"))).as("ci_hi_micro"))
        tot.crossJoin(ci)
          .select(col("n"), col("mean_micro"), col("n_resamples"),
            col("ci_lo_micro"), col("ci_hi_micro"),
            (col("ci_hi_micro") - col("ci_lo_micro")).as("width_micro"))
      },
      Some("WITH base AS (SELECT event_id, CAST(floor(value * 100) AS BIGINT) AS v FROM events WHERE event_type = 'purchase'), " +
        "tot AS (SELECT count(*) AS n, CAST(sum(v) AS BIGINT) AS sv, (CAST(sum(v) AS BIGINT) * 1000000) // count(*) AS mean_micro FROM base), " +
        "pairs AS (SELECT v, ('0x'||substr(md5('graftb:'||CAST(event_id AS VARCHAR)||':'||CAST(b AS VARCHAR)),1,4))::BIGINT AS u16, b " +
        "FROM base CROSS JOIN (SELECT unnest(range(0, 64)) AS b)), " +
        "wts AS (SELECT b, v, CASE WHEN u16 < 24109 THEN 0 WHEN u16 < 48218 THEN 1 WHEN u16 < 60273 THEN 2 WHEN u16 < 64291 THEN 3 " +
        "WHEN u16 < 65296 THEN 4 WHEN u16 < 65497 THEN 5 WHEN u16 < 65530 THEN 6 ELSE 7 END AS w FROM pairs), " +
        "means AS (SELECT b, (CAST(sum(w * v) AS BIGINT) * 1000000) // CAST(sum(w) AS BIGINT) AS m_micro FROM wts GROUP BY b), " +
        "ranked AS (SELECT m_micro, row_number() OVER (ORDER BY m_micro, b) AS rn FROM means), " +
        "ci AS (SELECT count(*) AS n_resamples, CAST(sum(CASE WHEN rn = 4 THEN m_micro END) AS BIGINT) AS ci_lo_micro, " +
        "CAST(sum(CASE WHEN rn = 61 THEN m_micro END) AS BIGINT) AS ci_hi_micro FROM ranked) " +
        "SELECT n, mean_micro, n_resamples, ci_lo_micro, ci_hi_micro, ci_hi_micro - ci_lo_micro AS width_micro FROM tot CROSS JOIN ci"),
      scaleNote = "The reason Poisson bootstrap IS the 100 TB " +
        "bootstrap: weights are per-row local codegen (one md5 + a " +
        "7-arm CASE per (row, b) — no global draw, no shuffle of the " +
        "base), and each resample collapses map-side to (Σw·v, Σw) " +
        "BIGINT partials, so the wire carries B partials per " +
        "partition and the final state is B=64 integer means — the " +
        "64-row order-statistic window is driver-scale. B scales the " +
        "explode factor linearly (B=1000 percentile-grade CIs cost " +
        "1000× the map work, still zero extra shuffles — or run the " +
        "SAME hash family over B column-batches to trade explode for " +
        "width). Long bound: Σw·v ≤ 7·Σv, and ·10⁶ needs Σv ≲ 10¹² " +
        "(a trillion cents of resampled purchases) — DECIMAL(38,0) " +
        "partials past that, agg_corr's escalation. Per-arm CIs add " +
        "the variant key to the groupBy; any statistic expressible " +
        "as weighted integer sums (rates, ratios, totals) bootstraps " +
        "through the identical plan."),

    // Sample-ratio-mismatch (SRM) guardrail — the check every
    // experiment platform runs BEFORE any readout: if the observed
    // arm sizes don't match the DECLARED traffic split, the
    // assignment mechanism is broken (redirect bugs, bot filters,
    // crash-biased logging) and every downstream statistic —
    // zscore, chi2, welch, the bootstrap CI — is invalid regardless
    // of its p-value. Chi-square goodness-of-fit of the exposed-user
    // counts against the declared weights, df = k−1, the standard
    // α=0.001 SRM threshold (χ²₂ > 13.8155 — deliberately strict:
    // an SRM alarm halts the experiment, so false alarms are
    // expensive). BOTH decision paths are gated: against the true
    // uniform 1/3 split the test passes, and against a deliberately
    // wrong 80/10/10 declaration the SAME counts fire the alarm —
    // the dq_expectations discipline of proving the failing path,
    // because an SRM check that cannot fire is worse than none.
    QueryDef(
      "ab_test_srm",
      (spark, sf) => {
        val per = exposed(Tables.loadEvents(spark, sf), "v", 3)
          .groupBy("v").agg(count(lit(1)).as("n"))
        val one = per.agg(
          sum(when(col("v") === 0, col("n"))).as("n0"),
          sum(when(col("v") === 1, col("n"))).as("n1"),
          sum(when(col("v") === 2, col("n"))).as("n2"))
        val nn = (col("n0") + col("n1") + col("n2")).cast("double")
        def gof(w0: Double, w1: Double, w2: Double): Column = {
          def t(n: Column, w: Double) = {
            val e = nn * lit(w)
            (n.cast("double") - e) * (n.cast("double") - e) / e
          }
          round(t(col("n0"), w0) + t(col("n1"), w1) + t(col("n2"), w2), 4)
        }
        val chiTrue = gof(1.0 / 3.0, 1.0 / 3.0, 1.0 / 3.0)
        val chiWrong = gof(0.8, 0.1, 0.1)
        one.select(col("n0"), col("n1"), col("n2"),
          chiTrue.as("chi2_declared"),
          (chiTrue > lit(13.8155)).as("srm_detected"),
          chiWrong.as("chi2_misdeclared"),
          (chiWrong > lit(13.8155)).as("srm_detected_misdeclared"))
      },
      Some(s"WITH ${exposedSql("v", 3)}, " +
        "per AS (SELECT v, count(*) AS n FROM exposed GROUP BY 1), " +
        "o AS (SELECT CAST(sum(CASE WHEN v = 0 THEN n END) AS BIGINT) AS n0, CAST(sum(CASE WHEN v = 1 THEN n END) AS BIGINT) AS n1, CAST(sum(CASE WHEN v = 2 THEN n END) AS BIGINT) AS n2 FROM per), " +
        "f AS (SELECT *, CAST(n0 + n1 + n2 AS DOUBLE) AS nn FROM o), " +
        "g AS (SELECT n0, n1, n2, " +
        "round((CAST(n0 AS DOUBLE) - nn*(1.0/3.0))*(CAST(n0 AS DOUBLE) - nn*(1.0/3.0))/(nn*(1.0/3.0)) + (CAST(n1 AS DOUBLE) - nn*(1.0/3.0))*(CAST(n1 AS DOUBLE) - nn*(1.0/3.0))/(nn*(1.0/3.0)) + (CAST(n2 AS DOUBLE) - nn*(1.0/3.0))*(CAST(n2 AS DOUBLE) - nn*(1.0/3.0))/(nn*(1.0/3.0)), 4) AS chi2_declared, " +
        "round((CAST(n0 AS DOUBLE) - nn*0.8)*(CAST(n0 AS DOUBLE) - nn*0.8)/(nn*0.8) + (CAST(n1 AS DOUBLE) - nn*0.1)*(CAST(n1 AS DOUBLE) - nn*0.1)/(nn*0.1) + (CAST(n2 AS DOUBLE) - nn*0.1)*(CAST(n2 AS DOUBLE) - nn*0.1)/(nn*0.1), 4) AS chi2_misdeclared FROM f) " +
        "SELECT n0, n1, n2, chi2_declared, chi2_declared > 13.8155 AS srm_detected, " +
        "chi2_misdeclared, chi2_misdeclared > 13.8155 AS srm_detected_misdeclared FROM g"),
      scaleNote = "The cheapest guardrail in the family: ONE " +
        "map-side-combined user-level collapse (shared with " +
        "ab_test_zscore/chi2's exposure scan when they run in the " +
        "same DAG), a k-row rollup, and two fixed GOF expressions " +
        "on one row of exact integers — a billion-user experiment " +
        "pays a scan it was already paying. SRM runs CONTINUOUSLY " +
        "(every readout refresh), which is why its α is strict: at " +
        "the 0.001 threshold a healthy experiment false-alarms once " +
        "per thousand refreshes, not once per twenty. Weighted " +
        "splits change the declared-weight literals only; per-" +
        "segment SRM (the usual localization step after an alarm) " +
        "adds the segment key to both group keys — same plan, and " +
        "the integer cells stay bit-stable on any partitioning."))
}
