package graft.domain

import java.time.LocalDate
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Gtfs

/** The reference's domain analytics, end-to-end — SURVEY.md §3's three
  * entry points re-expressed as composable DataFrame transforms:
  *
  *  - EP2 `stopTimesExt`: GTFS star-schema denormalization
  *    (trips × stop_times × stops) [P extract_schedule.py
  *    `build_stop_times_ext`];
  *  - EP2 `activeServices`: services running on a given day — weekday
  *    regime from `calendar` plus added/removed `calendar_dates`
  *    exceptions [P extract_schedule.py];
  *  - EP1 `matchPassages`: real-time passage ↔ scheduled trip via the
  *    train-number-substring-of-trip_id fuzzy join, restricted to
  *    services active that day, unique-match policy
  *    [P match_ids.py `get_trip_ids_from_day_train_nums`];
  *  - `computeDelays`: delay = observed − scheduled passage time, with
  *    GTFS past-midnight (`25:xx:xx`) times resolved on the service
  *    day [P match_ids.py, utils_misc.py DateConverter];
  *  - `lastPassageState`: latest record per (day_train_num, station) —
  *    the Dynamo keyed-upsert board state [P utils_dynamo.py];
  *  - EP3 `stationBoard`: next-N departures for a station
  *    [P query.py `station_trips_stops`].
  *
  * Fixture schemas in FIXTURES.md §2; behaviour tested in TransitSpec.
  * 100 TB notes inline per transform.
  */
object Transit {

  /** UIC-7 of a UIC-8 station id (drop the check digit) — stop_ids
    * embed the 7-digit form ("StopPoint:DUA8738400"). */
  def uic7(stationId: Column): Column = substring(stationId, 1, 7)

  /** EP2 — denormalized schedule: one row per (trip, stop call).
    * Scale: stops is a dimension (broadcast); trips ⋈ stop_times is an
    * equi join on trip_id — bucket both by trip_id at 100 TB. */
  def stopTimesExt(trips: DataFrame, stopTimes: DataFrame,
      stops: DataFrame): DataFrame =
    trips
      .join(stopTimes, "trip_id")
      .join(broadcast(stops), "stop_id")
      .select(
        col("trip_id"), col("route_id"), col("service_id"),
        col("trip_headsign"), col("stop_id"), col("stop_name"),
        col("stop_sequence"), col("arrival_time"), col("departure_time"),
        Gtfs.gtfsSeconds(col("departure_time")).as("departure_secs"))

  private val Yyyymmdd = DateTimeFormatter.ofPattern("yyyyMMdd")

  /** Services active on `day` (yyyymmdd): weekday-regime rows within
    * their validity range, plus exception_type=1 additions, minus
    * exception_type=2 removals. Day-of-week is resolved driver-side
    * (the day is a parameter, not data). One flagged union, one
    * groupBy: a service is active when some row adds it and none
    * removes it. */
  def activeServices(calendar: DataFrame, calendarDates: DataFrame,
      day: String): DataFrame = {
    val dowCol = LocalDate.parse(day, Yyyymmdd).getDayOfWeek
      .toString.toLowerCase // "monday".."sunday" — the calendar columns
    val regular = calendar
      .filter(col(dowCol) === 1 &&
        col("start_date") <= day && col("end_date") >= day)
      .select(col("service_id"), lit(true).as("add"), lit(false).as("rm"))
    val exceptions = calendarDates
      .filter(col("date") === day)
      .select(col("service_id"), (col("exception_type") === 1).as("add"),
        // a null service_id is never removed: null equals no removal
        (col("exception_type") === 2 && col("service_id").isNotNull).as("rm"))
    regular.union(exceptions)
      .groupBy("service_id")
      .agg(max("add").as("add"), max("rm").as("rm"))
      .filter(col("add") && !col("rm"))
      .select("service_id")
  }

  /** EP1 — match each passage to its scheduled stop call on `day`.
    * Fuzzy match: train number is a substring of trip_id; station joins
    * on embedded UIC-7; only services active that day participate.
    * Ambiguous train numbers (>1 candidate trip) are left UNMATCHED
    * (null schedule columns), like unmatched numbers — the reference's
    * unique-match policy, kept deterministic.
    *
    * Shape: the day's active schedule becomes one call array per
    * station (UIC-7) — |stations| rows, bounded by the timetable —
    * which is broadcast; every passage row left-joins its station's
    * array on that equi key, so the passages never shuffle and each
    * row (two polling cycles that report identical rows included) is
    * matched on its own. Per row, `hit` keeps the calls whose trip_id
    * contains the number. Uniqueness is of TRIP, not of calls: a loop
    * trip calling twice at one station still matches, on its lowest
    * (stop_sequence, departure_secs) call, nulls first. */
  def matchPassages(passages: DataFrame, ext: DataFrame,
      active: DataFrame, day: String): DataFrame = {
    val calls = ext.join(active, "service_id")
      .groupBy(regexp_extract(col("stop_id"), "([0-9]{7})", 1).as("station7"))
      .agg(collect_list(struct(col("stop_sequence"), col("departure_secs"),
        col("trip_id"), col("service_id"))).as("calls"))
    val passageCols = passages.columns.toSeq.map(col)
    val schedCols = Seq("trip_id", "service_id", "stop_sequence", "departure_secs")
    // one projection per step, so `hit` and `call` are each computed
    // once per row rather than once per reference
    passages.join(broadcast(calls), uic7(col("station_id")) === col("station7"), "left")
      .select(passageCols :+
        filter(col("calls"), c => c("trip_id").contains(col("num"))).as("hit"): _*)
      .select(passageCols :+ when(
        size(array_distinct(transform(col("hit"), _("trip_id")))) === 1,
        array_min(col("hit"))).as("call"): _*)
      .select(passageCols ++ schedCols.map(f => col("call")(f).as(f)): _*)
  }

  /** Scheduled wall-clock timestamp of a stop call on service day
    * `day`: day start + departure seconds. GTFS hours ≥ 24 land on the
    * next calendar day automatically. */
  def scheduledTs(day: String, departureSecs: Column): Column = {
    val dayStartEpoch = LocalDate.parse(day, Yyyymmdd)
      .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    timestamp_seconds(lit(dayStartEpoch) + departureSecs)
  }

  /** delay = observed (mode=R) − scheduled, in seconds; cancellations
    * (`etat = 'Supprimé'`) flagged, not dropped. Both times are floored
    * to whole epoch seconds (`unix_seconds`; `unix_timestamp` would
    * round a pre-1970 sub-second time toward zero).
    *
    * UTC-session requirement (asserted): [[graft.sources.dsv2.PassagesSource]]
    * reads the feed's wall-clock times in the SESSION time zone
    * while [[scheduledTs]] anchors the service day to UTC — in a
    * non-UTC session delay_sec would silently shift by the zone
    * offset. All bundled mains/tests pin spark.sql.session.timeZone=
    * UTC; fail loudly rather than drift if a caller doesn't. */
  def computeDelays(matched: DataFrame, day: String): DataFrame = {
    val tz = matched.sparkSession.conf.get("spark.sql.session.timeZone")
    require(tz == "UTC",
      s"computeDelays requires spark.sql.session.timeZone=UTC, got '$tz' " +
        "(passages are read in session TZ; scheduledTs anchors to UTC)")
    matched
      .filter(col("mode") === "R" && col("departure_secs").isNotNull)
      .withColumn("scheduled_ts", scheduledTs(day, col("departure_secs")))
      .withColumn("delay_sec",
        unix_seconds(col("expected_ts")) - unix_seconds(col("scheduled_ts")))
      .withColumn("cancelled", coalesce(col("etat") === "Supprimé", lit(false)))
  }

  /** Latest record per (day_train_num, station) across polling cycles —
    * associative struct-max, no window sort (the 100 TB upsert shape,
    * same pattern as the generic last_state operator). */
  def lastPassageState(passages: DataFrame): DataFrame =
    passages
      .groupBy("day_train_num", "station_id")
      .agg(max(struct(
        col("request_day").as("rd"), col("request_time").as("rt"),
        col("expected_ts").as("ts"), col("mode").as("m"),
        col("etat").as("e"), col("num").as("n"), col("miss").as("mi"),
        col("term").as("te"))).as("s"))
      .select(col("day_train_num"), col("station_id"),
        col("s.ts").as("expected_ts"), col("s.m").as("mode"),
        col("s.e").as("etat"), col("s.n").as("num"),
        col("s.mi").as("miss"), col("s.te").as("term"))

  /** EP3 — the ordered stop calls of one trip on a service day
    * [P query.py `trip_stops`]: the dashboard's per-train detail view.
    * Only trips whose service is active that day serve rows (a
    * trip_id query on an off-day returns empty, like the reference's
    * services-of-day filter). */
  def tripStops(ext: DataFrame, active: DataFrame, tripId: String,
      day: String): DataFrame =
    ext.join(active, "service_id")
      .filter(col("trip_id") === tripId)
      .select(col("stop_sequence"), col("stop_id"), col("stop_name"),
        col("departure_time"),
        scheduledTs(day, col("departure_secs")).as("scheduled_ts"))
      .orderBy("stop_sequence")

  /** EP3 — next-N departures from a station at/after `t`, soonest
    * first: the serving query behind the dashboard. */
  def stationBoard(state: DataFrame, stationId: String,
      t: java.sql.Timestamp, n: Int): DataFrame =
    state
      .filter(col("station_id") === stationId &&
        col("expected_ts") >= lit(t) &&
        (col("etat").isNull || col("etat") =!= "Supprimé"))
      .orderBy(col("expected_ts").asc, col("num").asc)
      .limit(n)
}
