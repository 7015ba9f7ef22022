package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.domain.Transit
import graft.queries.TransitOps

/** End-to-end domain semantics over the FIXTURES.md §2 fixtures: GTFS
  * denormalization, calendar exceptions, fuzzy passage matching
  * (incl. ambiguity + anti path), past-midnight delays, cancellation
  * flags, polling-cycle upsert, station board. */
class TransitSpec extends SparkSpec with TransitFixtures {

  import Transit._

  test("stopTimesExt denormalizes and converts past-midnight GTFS times") {
    val rows = ext.collect()
    assert(rows.length == 7)
    val night = rows.find(_.getAs[String]("trip_id") == "DUASN200100F01").get
    assert(night.getAs[Long]("departure_secs") == 25 * 3600 + 10 * 60)
    assert(night.getAs[String]("stop_name") == "Pont Cardinet")
  }

  test("activeServices applies weekday regime plus add/remove exceptions") {
    val sat = activeServices(calendar, calendarDates, "20170520")
      .collect().map(_.getString(0)).toSet
    assert(sat == Set("S_WEEK", "S_EXC")) // S_EXC only via exception
    val sun = activeServices(calendar, calendarDates, "20170521")
      .collect().map(_.getString(0)).toSet
    assert(sun == Set.empty[String]) // S_WEEK removed that day; S_EXC not added
  }

  test("matchPassages: unique match, anti path, and ambiguity → unmatched") {
    val active = activeServices(calendar, calendarDates, "20170520")
    val m = matchPassages(passages, ext, active, "20170520")
    assert(m.count() == passages.count(), "no passage may be dropped or duplicated")
    val byNum = m.collect().groupBy(_.getAs[String]("num"))
    assert(byNum("165109").forall(_.getAs[String]("trip_id") == "DUASN165109F01"))
    assert(byNum("200100").head.getAs[String]("trip_id") == "DUASN200100F01") // exception service matched
    assert(byNum("999999").head.getAs[String]("trip_id") == null) // unmatched
    assert(byNum("5550").head.getAs[String]("trip_id") == null)   // ambiguous → unmatched
    // loop route: one trip, two calls at the station — unique TRIP, so
    // it matches, on the deterministic first call (min stop_sequence)
    assert(byNum("777100").length == 1, "loop passage must not duplicate")
    assert(byNum("777100").head.getAs[String]("trip_id") == "DUASN777100F01")
    assert(byNum("777100").head.getAs[Int]("stop_sequence") == 1)
  }

  test("computeDelays: observed − scheduled, incl. past-midnight rollover") {
    val active = activeServices(calendar, calendarDates, "20170520")
    val d = computeDelays(
      matchPassages(passages, ext, active, "20170520"), "20170520")
      .collect().map(r => (r.getAs[String]("num"), r.getAs[Timestamp]("expected_ts").toString,
        r.getAs[Long]("delay_sec"), r.getAs[Boolean]("cancelled")))
    val late = d.filter(x => x._1 == "165109" && x._2.startsWith("2017-05-20 12:14"))
    assert(late.head._3 == 300L) // 12:14 observed vs 12:09 scheduled
    val night = d.filter(_._1 == "200100")
    assert(night.head._3 == 300L) // 01:15 on the 21st vs 25:10 → 01:10
    val cancelled = d.filter(_._1 == "134683")
    assert(cancelled.head._4, "Supprimé must be flagged cancelled")
  }

  test("lastPassageState keeps the newest polling cycle per (train, station)") {
    val state = lastPassageState(passages)
    val row = state.filter(col("day_train_num") === "20170520_165109").head()
    assert(row.getAs[Timestamp]("expected_ts") == ts("2017-05-20 12:14:00"))
    assert(row.getAs[String]("mode") == "R")
    assert(row.getAs[String]("etat") == "Retardé")
    assert(state.count() == 6) // one row per (day_train_num, station)
  }

  test("stationBoard lists next departures, soonest first, excluding cancellations") {
    val board = stationBoard(lastPassageState(passages), "87384008",
      ts("2017-05-20 12:00:00"), 5).collect()
    // 134683 is Supprimé → excluded; expect 165109 (12:14), 999999 (13:00), 200100 (01:15 next day)
    assert(board.map(_.getAs[String]("num")).toSeq == Seq("165109", "999999", "200100"))
  }

  // --- the declared delay_board flagship over its planted fixture ---

  test("delay_board: planted late/cancelled/past-midnight/early/loop rows land; unmatched stay off") {
    val out = graft.engine.Registry.byName("delay_board")
      .build(spark, "").collect()
    val byNum = out.map(r => r.getAs[String]("num") -> r).toMap
    assert(out.length == 5, s"board must carry exactly the 5 matched R-trains, got ${out.length}")
    // late train: the LATEST polling cycle (12:05 re-poll, expected
    // 12:14) wins; delay vs the 12:09 schedule is 300 s
    val late = byNum("165109")
    assert(late.getAs[Timestamp]("expected_ts") == ts("2017-05-20 12:14:00"))
    assert(late.getAs[Long]("delay_sec") == 300L)
    assert(late.getAs[Long]("delay_min") == 5L)
    assert(!late.getAs[Boolean]("cancelled"))
    assert(late.getAs[String]("trip_id") == "DUASN165109F01")
    // cancellation: flagged, not dropped
    val cancelled = byNum("134683")
    assert(cancelled.getAs[Boolean]("cancelled"))
    assert(cancelled.getAs[Long]("delay_sec") == 0L)
    // past-midnight: scheduled 25:10 on the 20th = 01:10 on the 21st
    val night = byNum("200100")
    assert(night.getAs[Timestamp]("scheduled_ts") == ts("2017-05-21 01:10:00"))
    assert(night.getAs[Long]("delay_sec") == 300L)
    // early runner: negative delay, minute floor consistent
    val early = byNum("300400")
    assert(early.getAs[Long]("delay_sec") == -120L)
    assert(early.getAs[Long]("delay_min") == -2L)
    // loop trip: unique TRIP with two calls — matched on the first call
    val loop = byNum("777100")
    assert(loop.getAs[Timestamp]("scheduled_ts") == ts("2017-05-20 11:00:00"))
    assert(loop.getAs[Long]("delay_sec") == 300L)
    // unmatched / ambiguous / inactive-service / removed-service rows
    // must never reach the board
    assert(Set("999999", "5550", "888200", "400500")
      .intersect(byNum.keySet).isEmpty)
    // board order: per station, ascending expected time
    val st84 = out.filter(_.getAs[String]("station_id") == "87384008")
      .map(_.getAs[String]("num")).toSeq
    assert(st84 == Seq("300400", "134683", "165109", "200100"))
  }

  test("trip_stops: loop trip serves both calls in stop_sequence order; timestamps resolve on the service day") {
    val out = graft.engine.Registry.byName("trip_stops")
      .build(spark, "").collect()
    assert(out.length == 2, "the loop trip calls twice")
    assert(out.map(_.getAs[Int]("stop_sequence")).toSeq == Seq(1, 4))
    assert(out.forall(_.getAs[String]("stop_name") == "Saint-Lazare"))
    assert(out.map(_.getAs[Timestamp]("scheduled_ts")).toSeq ==
      Seq(ts("2017-05-20 11:00:00"), ts("2017-05-20 11:40:00")))
    // the off-day path: a Sunday-only trip on the Saturday fixture day
    // is filtered by activeServices, like the reference's
    // services-of-day restriction
    val (trips0, st0, stops0, cal0, cd0) = TransitOps.boardGtfsDfs(spark)
    val off = Transit.tripStops(stopTimesExt(trips0, st0, stops0),
      activeServices(cal0, cd0, "20170520"), "DUASN888200F01", "20170520")
    assert(off.count() == 0)
  }

  test("delay_trajectory: the late train's delta sequence is (null, worsening, settled)") {
    val out = graft.engine.Registry.byName("delay_trajectory")
      .build(spark, "").collect()
    // every matched R-cycle appears: 3 late-train cycles + 4 single-
    // cycle trains (incl. cancelled + past-midnight + early + loop)
    assert(out.length == 7)
    val late = out.filter(_.getAs[String]("day_train_num") == "20170520_165109")
      .sortBy(_.getAs[String]("request_time"))
    assert(late.map(_.getAs[Long]("delay_sec")).toSeq == Seq(180L, 300L, 300L))
    // first cycle has no predecessor; then +120 worsening; then stable
    assert(late(0).isNullAt(late(0).fieldIndex("delay_delta")))
    assert(late(1).getAs[Long]("delay_delta") == 120L)
    assert(late(2).getAs[Long]("delay_delta") == 0L)
    // single-cycle trains carry exactly one row with a null delta
    val singles = out.filter(_.getAs[String]("day_train_num") != "20170520_165109")
    assert(singles.forall(r => r.isNullAt(r.fieldIndex("delay_delta"))))
  }

  test("station_headway: gaps reflect only ACTIVE services; min/mean/max pinned") {
    val out = graft.engine.Registry.byName("station_headway")
      .build(spark, "").collect()
    val byStation = out.map(r => r.getAs[String]("station7") -> r).toMap
    // 8738400: active deps 10:30, 12:09, 12:14, 25:10 (the removed-
    // service 14:00 trip must NOT shrink the 46560 s night gap)
    val a = byStation("8738400")
    assert(a.getAs[Long]("n_departures") == 4)
    assert(a.getAs[Long]("min_headway_sec") == 300L)
    assert(a.getAs[Long]("max_headway_sec") == 46560L)
    assert(a.getAs[Double]("avg_headway_sec") == 17600.0)
    // 8739300: Sunday-only 09:00 excluded; loop trip contributes both
    // calls → deps 10:00, 10:05, 11:00, 11:40
    val b = byStation("8739300")
    assert(b.getAs[Long]("n_departures") == 4)
    assert(b.getAs[Long]("min_headway_sec") == 300L)
    assert(b.getAs[Long]("max_headway_sec") == 3300L)
    assert(b.getAs[Double]("avg_headway_sec") == 2000.0)
  }
}
