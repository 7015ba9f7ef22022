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
  *    train-number-substring-of-trip_id fuzzy match, restricted to
  *    services active that day, unique-match policy
  *    [P match_ids.py `get_trip_ids_from_day_train_nums`]: one
  *    `pickCall` rule over a broadcast `callIndex` of the day's calls,
  *    the same rule the live board (`Streams.delayBoard`) applies;
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

  /** One stop call of the day's active schedule: the candidate a
    * passage resolves to. `service_id` is null where the schedule
    * carries none (the live board's static side). */
  case class Call(stop_sequence: Option[Int], departure_secs: Option[Long],
      trip_id: String, service_id: String)

  /** The most calls [[callIndex]] collects to the driver. The day's
    * active schedule of a national network is ~10^5 calls; a million
    * is ~100 MB on the driver and in each executor's broadcast copy. */
  val CallIndexBound = 1000000

  /** The day's active calls, one array per UIC-7 station, each sorted
    * by (stop_sequence, departure_secs, trip_id, service_id), nulls
    * first. `calls` carries `station7`, `trip_id`, `stop_sequence`,
    * `departure_secs` and optionally `service_id`. The collect is
    * bounded: past `bound` rows it fails, naming the bound, rather
    * than pull an unbounded schedule onto the driver. */
  def callIndex(calls: DataFrame, bound: Int = CallIndexBound): Map[String, Array[Call]] = {
    val service =
      if (calls.columns.contains("service_id")) col("service_id") else lit(null).cast("string")
    val rows = calls
      .select(col("station7"), col("trip_id"), service,
        col("stop_sequence").cast("int"), col("departure_secs").cast("long"))
      // one partition, so the bounded collect is one job (a limit over
      // several partitions scans them in rounds, a job each)
      .coalesce(1).limit(bound + 1).collect()
    require(rows.length <= bound,
      s"callIndex: the day's schedule exceeds $bound calls")
    val order = Ordering.by((c: Call) =>
      (c.stop_sequence, c.departure_secs, Option(c.trip_id), Option(c.service_id)))
    rows.toSeq
      .map(r => r.getString(0) -> Call(
        Option.when(!r.isNullAt(3))(r.getInt(3)), Option.when(!r.isNullAt(4))(r.getLong(4)),
        r.getString(1), r.getString(2)))
      .groupMap(_._1)(_._2)
      .map { case (station, cs) => station -> cs.sorted(order).toArray }
  }

  /** The passage-match rule, shared by [[matchPassages]] and the live
    * board (`Streams.delayBoard`). The calls at the passage's station
    * (its UIC-7) whose trip_id contains the train number are its hits;
    * it matches when the hits belong to exactly one trip, on their
    * first call in the index's order. Uniqueness is of TRIP, not of
    * calls: a loop trip calling twice at one station still matches. A
    * null number or station matches nothing; an empty number is a
    * substring of every trip id, so it matches only where one trip
    * calls. */
  def pickCall(index: Map[String, Array[Call]], stationId: String,
      num: String): Option[Call] =
    if (stationId == null || num == null) None
    else index.get(stationId.take(7)).flatMap { calls =>
      val hits = calls.iterator.filter(c => c.trip_id != null && c.trip_id.contains(num))
      if (!hits.hasNext) None
      else {
        val first = hits.next()
        if (hits.forall(_.trip_id == first.trip_id)) Some(first) else None
      }
    }

  /** EP1 — match each passage to its scheduled stop call on `day`.
    * Fuzzy match: train number is a substring of trip_id; station
    * matches on embedded UIC-7; only services active that day
    * participate. Ambiguous train numbers (>1 candidate trip) are left
    * UNMATCHED (null schedule columns), like unmatched numbers — the
    * reference's unique-match policy, kept deterministic.
    *
    * Shape: the day's active schedule is collected once into
    * [[callIndex]] (|calls| rows, bounded by the timetable and by
    * [[CallIndexBound]]) and broadcast; one UDF applies [[pickCall]] to
    * every passage row, so the passages never shuffle or join and each
    * row (two polling cycles that report identical rows included) is
    * matched on its own. The index is built when this is called: two
    * jobs (the calendar join's broadcast and the bounded collect). */
  def matchPassages(passages: DataFrame, ext: DataFrame,
      active: DataFrame, day: String): DataFrame = {
    val index = passages.sparkSession.sparkContext.broadcast(callIndex(
      ext.join(active, "service_id").select(
        regexp_extract(col("stop_id"), "([0-9]{7})", 1).as("station7"),
        col("trip_id"), col("service_id"), col("stop_sequence"), col("departure_secs"))))
    val pick = udf((station: String, num: String) => pickCall(index.value, station, num))
    val passageCols = passages.columns.toSeq.map(col)
    // one projection holds the UDF, so it runs once per row rather
    // than once per extracted field
    passages
      .select(passageCols :+ pick(col("station_id"), col("num")).as("call"): _*)
      .select(passageCols ++ Seq("trip_id", "service_id", "stop_sequence", "departure_secs")
        .map(f => col("call")(f).cast(ext.schema(f).dataType).as(f)): _*)
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
