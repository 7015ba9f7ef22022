package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.domain.Transit
import graft.streaming.Streams

/** The FIXTURES.md §2 GTFS and passage fixtures of the Transilien
  * domain: a weekday and an exception-only service, a past-midnight
  * trip, an ambiguous train number, a loop trip calling twice at one
  * station, re-polled and cancelled passages, and an unmatched one. */
trait TransitFixtures { this: SparkSpec =>

  private def s = spark
  protected def ts(v: String): Timestamp = Timestamp.valueOf(v)

  // --- GTFS fixtures (FIXTURES.md §2.1) ---
  protected lazy val stops = {
    val sp = s; import sp.implicits._
    Seq(
      ("StopPoint:DUA8738400", "Pont Cardinet", 48.887, 2.316, "StopArea:DUA8738400"),
      ("StopPoint:DUA8739300", "Saint-Lazare", 48.876, 2.325, "StopArea:DUA8739300")
    ).toDF("stop_id", "stop_name", "stop_lat", "stop_lon", "parent_station")
  }

  protected lazy val trips = {
    val sp = s; import sp.implicits._
    Seq(
      ("DUASN165109F01", "R1", "S_WEEK", "PARIS"),
      ("DUASN134683F01", "R1", "S_WEEK", "VERSAILLES"),
      ("DUASN200100F01", "R1", "S_EXC", "NIGHT"),      // past-midnight trip
      ("DUASN555001F01", "R1", "S_WEEK", "AMBIG-A"),   // both contain "5550"
      ("DUASN555002F01", "R1", "S_WEEK", "AMBIG-B"),
      ("DUASN777100F01", "R1", "S_WEEK", "LOOP")       // calls twice at one stop
    ).toDF("trip_id", "route_id", "service_id", "trip_headsign")
  }

  protected lazy val stopTimes = {
    val sp = s; import sp.implicits._
    Seq(
      ("DUASN165109F01", "12:09:00", "12:09:00", "StopPoint:DUA8738400", 1),
      ("DUASN134683F01", "12:14:00", "12:14:00", "StopPoint:DUA8738400", 1),
      ("DUASN200100F01", "25:10:00", "25:10:00", "StopPoint:DUA8738400", 5), // rollover
      ("DUASN555001F01", "10:00:00", "10:00:00", "StopPoint:DUA8739300", 1),
      ("DUASN555002F01", "10:05:00", "10:05:00", "StopPoint:DUA8739300", 1),
      // loop route: ONE trip, TWO calls at the same station — must not
      // be classified ambiguous (uniqueness is per trip_id, not rows)
      ("DUASN777100F01", "11:00:00", "11:00:00", "StopPoint:DUA8739300", 1),
      ("DUASN777100F01", "11:40:00", "11:40:00", "StopPoint:DUA8739300", 4)
    ).toDF("trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence")
  }

  protected lazy val calendar = {
    val sp = s; import sp.implicits._
    Seq(
      ("S_WEEK", 1, 1, 1, 1, 1, 1, 1, "20170101", "20171231"),
      ("S_EXC", 0, 0, 0, 0, 0, 0, 0, "20170101", "20171231") // exception-only
    ).toDF("service_id", "monday", "tuesday", "wednesday", "thursday",
      "friday", "saturday", "sunday", "start_date", "end_date")
  }

  protected lazy val calendarDates = {
    val sp = s; import sp.implicits._
    Seq(
      ("S_EXC", "20170520", 1), // added on the test day
      ("S_WEEK", "20170521", 2) // removed the day after
    ).toDF("service_id", "date", "exception_type")
  }

  // --- passage fixtures (FIXTURES.md §2.2) ---
  protected lazy val passages = {
    val sp = s; import sp.implicits._
    Seq(
      // theoretical then observed (delay pair), expected_ts evolving
      // across two polling cycles for the same (day_train_num, station)
      ("87384008", "165109", "POPI", "87384008", ts("2017-05-20 12:09:00"), "T",
        null, "2017-05-20", "11:50", "20170520_165109"),
      ("87384008", "165109", "POPI", "87384008", ts("2017-05-20 12:12:00"), "R",
        null, "2017-05-20", "11:55", "20170520_165109"),
      ("87384008", "165109", "POPI", "87384008", ts("2017-05-20 12:14:00"), "R",
        "Retardé", "2017-05-20", "12:00", "20170520_165109"),
      // re-poll with UNCHANGED expected_ts (the common no-update cycle):
      // must still match its trip — regression for candidate counting
      // per passage ROW, not per (train, station, mode, expected_ts)
      ("87384008", "165109", "POPI", "87384008", ts("2017-05-20 12:14:00"), "R",
        "Retardé", "2017-05-20", "12:05", "20170520_165109"),
      // cancellation
      ("87384008", "134683", "PEBU", "87384008", ts("2017-05-20 12:14:00"), "R",
        "Supprimé", "2017-05-20", "12:00", "20170520_134683"),
      // past-midnight: scheduled 25:10 on 20170520 = 01:10 on the 21st
      ("87384008", "200100", "NUIT", "87384008", ts("2017-05-21 01:15:00"), "R",
        null, "2017-05-20", "23:55", "20170520_200100"),
      // no matching trip (anti path)
      ("87384008", "999999", "XXXX", "87384008", ts("2017-05-20 13:00:00"), "R",
        null, "2017-05-20", "12:30", "20170520_999999"),
      // ambiguous train number (two candidate trips)
      ("87393009", "5550", "AMBI", "87393009", ts("2017-05-20 10:00:00"), "R",
        null, "2017-05-20", "09:30", "20170520_5550"),
      // loop trip passage: unique TRIP with two stop calls → matched
      ("87393009", "777100", "LOOP", "87393009", ts("2017-05-20 11:05:00"), "R",
        null, "2017-05-20", "10:30", "20170520_777100")
    ).toDF("station_id", "num", "miss", "term", "expected_ts", "mode",
      "etat", "request_day", "request_time", "day_train_num")
  }

  protected lazy val ext = Transit.stopTimesExt(trips, stopTimes, stops)

  // --- the batch delay_board fixture as a live feed ---

  /** The columns a live board row shares with a batch delay_board row. */
  protected val BoardCols = Seq("station_id", "num", "miss", "term", "trip_id",
    "expected_ts", "scheduled_ts", "delay_sec", "delay_min", "cancelled")

  /** Passage rows of the fixture layout as the live board's input. */
  protected def livePassages(df: DataFrame): Seq[Streams.Passage] =
    df.collect().toSeq.map(r => Streams.Passage(
      r.getAs[String]("station_id"), r.getAs[String]("num"),
      r.getAs[String]("miss"), r.getAs[String]("term"),
      r.getAs[Timestamp]("expected_ts"), r.getAs[String]("mode"),
      r.getAs[String]("etat"), r.getAs[String]("request_day"),
      r.getAs[String]("request_time"), r.getAs[String]("day_train_num")))

  /** The batch delay_board fixture as polling cycles, in request-time
    * order (11 cycles). */
  protected def boardCycles(): Seq[Seq[Streams.Passage]] =
    livePassages(graft.queries.TransitOps.boardPassagesDf(s))
      .groupBy(p => (p.request_day, p.request_time)).toSeq
      .sortBy(_._1).map(_._2)

  /** The delay_board fixture's static side, as the live board takes it. */
  protected def boardSched(): DataFrame = graft.queries.TransitOps.boardScheduleDf(s)
    .localCheckpoint(true)

  /** Latest emitted row per board key, on the batch board's columns. */
  protected def finalBoard(emitted: Seq[Streams.BoardRow]): DataFrame = {
    val sp = s; import sp.implicits._
    val w = Window.partitionBy("station_id", "day_train_num")
      .orderBy(col("request_time").desc)
    emitted.toDS().toDF()
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(BoardCols.map(col): _*)
  }

  protected def batchBoard(): DataFrame = graft.engine.Registry.byName("delay_board")
    .build(s, sf).select(BoardCols.map(col): _*)

  protected def assertSameRows(a: DataFrame, b: DataFrame, what: String): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, what)
}
