package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.domain.Transit

/** `Transit.matchPassages` (one call index, one UDF) and
  * `Transit.activeServices` (one flagged groupBy) return the same rows
  * as the window + identity join-back match and the union / distinct /
  * anti-join calendar they replaced, kept here as the test oracles only;
  * and each runs the stated number of Spark jobs. */
class MatchParitySpec extends SparkSpec with TransitFixtures {

  private val Day = "20170520"

  /** The replaced match: broadcast contains-join of the passages into
    * the schedule, a distinct-trip window and a first-call window per
    * passage identity, then a null-safe join back on every column. */
  private def oracleMatch(passages: DataFrame, ext: DataFrame,
      active: DataFrame): DataFrame = {
    val sched = ext.join(active, "service_id")
    val passageKey = passages.columns.toSeq
    val candidates = sched
      .join(broadcast(passages),
        col("trip_id").contains(col("num")) &&
          Transit.uic7(col("station_id")) === regexp_extract(col("stop_id"), "([0-9]{7})", 1),
        "inner")
    val w = Window.partitionBy(passageKey.map(col): _*)
    val uniq = candidates
      .withColumn("n_trips", size(collect_set(col("trip_id")).over(w)))
      .filter(col("n_trips") === 1)
      .withColumn("call_rn", row_number().over(
        w.orderBy(col("stop_sequence").asc, col("departure_secs").asc)))
      .filter(col("call_rn") === 1)
      .select(passageKey.map(k => col(k).as(s"u_$k")) ++
        Seq(col("trip_id"), col("service_id"),
          col("stop_sequence"), col("departure_secs")): _*)
    val cond = passageKey.map(k => col(k) <=> col(s"u_$k")).reduce(_ && _)
    passages.join(uniq, cond, "left")
      .select(passageKey.map(col) ++ Seq(col("trip_id"),
        col("service_id"), col("stop_sequence"), col("departure_secs")): _*)
  }

  /** The replaced calendar: (regular ∪ added) distinct, anti-joined
    * with the removals. */
  private def oracleActive(calendar: DataFrame, calendarDates: DataFrame,
      day: String): DataFrame = {
    val dowCol = java.time.LocalDate.parse(day,
      java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd")).getDayOfWeek.toString.toLowerCase
    val regular = calendar
      .filter(col(dowCol) === 1 && col("start_date") <= day && col("end_date") >= day)
      .select("service_id")
    val added = calendarDates
      .filter(col("date") === day && col("exception_type") === 1).select("service_id")
    val removed = calendarDates
      .filter(col("date") === day && col("exception_type") === 2).select("service_id")
    regular.union(added).distinct().join(removed, Seq("service_id"), "left_anti")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def active = Transit.activeServices(calendar, calendarDates, Day)

  private def assertMatchParity(p: DataFrame, e: DataFrame = ext): Unit = {
    val got = Transit.matchPassages(p, e, active, Day)
    val want = oracleMatch(p, e, active)
    assert(got.schema == want.schema)
    assert(rows(got) == rows(want))
    assert(rows(got).length == p.count(), "no passage may be dropped or duplicated")
  }

  /** One passage row of the fixture's layout. */
  private def passage(station: String, num: String, expected: String,
      requestTime: String = "12:00"): DataFrame = {
    val sp = spark; import sp.implicits._
    Seq((station, num, "MISS", station, ts(expected), "R", null: String,
      "2017-05-20", requestTime, s"20170520_$num"))
      .toDF(passages.columns.toSeq: _*)
  }

  /** The fixture's schedule plus extra stop calls (trip, departure,
    * stop, stop_sequence); a null departure or sequence stays null. */
  private def extWith(calls: (String, String, String, Option[Int])*): DataFrame = {
    val sp = spark; import sp.implicits._
    val extra = calls.map { case (t, d, s, q) => (t, d, d, s, q) }
      .toDF("trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence")
    Transit.stopTimesExt(trips, stopTimes.union(extra), stops)
  }

  test("matchPassages matches the window + join-back form: TransitSpec fixture") {
    assertMatchParity(passages)
  }

  test("matchPassages matches the window + join-back form: exact-duplicate passage rows") {
    assertMatchParity(passages.union(passages).union(passages.filter(col("num") === "165109")))
  }

  test("matchPassages matches the window + join-back form: null and empty num") {
    // an empty number is a substring of every trip id: unique only
    // where one active trip calls at the station
    assertMatchParity(passages
      .union(passage("87384008", null, "2017-05-20 12:09:00"))
      .union(passage("87384008", "", "2017-05-20 12:09:00"))
      .union(passage("87384008", "", "2017-05-20 12:09:00"))
      .union(passage("87393009", "", "2017-05-20 11:05:00")))
    assertMatchParity(passage("87384008", null, "2017-05-20 12:09:00"))
  }

  test("matchPassages matches the window + join-back form: null station_id") {
    assertMatchParity(passages
      .union(passage(null, "165109", "2017-05-20 12:09:00"))
      .union(passage(null, null, "2017-05-20 12:09:00")))
  }

  test("matchPassages matches the window + join-back form: loop trip calling twice at one station") {
    val p = passages
      .union(passage("87393009", "777100", "2017-05-20 11:45:00", "11:30"))
      .union(passage("87393009", "777100", "2017-05-20 11:45:00", "11:30"))
    assertMatchParity(p)
    // a third call, earlier in the trip, at the same station
    assertMatchParity(p, extWith(("DUASN777100F01", "10:20:00", "StopPoint:DUA8739300", Some(0))))
  }

  test("matchPassages matches the window + join-back form: ambiguous number") {
    // "55500" is in both AMBIG trips; "555001" only in one
    assertMatchParity(passages
      .union(passage("87393009", "55500", "2017-05-20 10:02:00"))
      .union(passage("87393009", "555001", "2017-05-20 10:02:00"))
      .union(passage("87384008", "5550", "2017-05-20 10:02:00")))
  }

  test("matchPassages matches the window + join-back form: one trip with tied (stop_sequence, departure_secs)") {
    assertMatchParity(passages,
      extWith(("DUASN165109F01", "12:09:00", "StopPoint:DUA8738400", Some(1))))
  }

  test("matchPassages matches the window + join-back form: null stop_sequence or departure_secs") {
    // nulls sort first: the null-sequence call and the null-departure
    // call each win their trip's first-call pick
    val e = extWith(
      ("DUASN165109F01", "12:30:00", "StopPoint:DUA8738400", None),
      ("DUASN777100F01", null, "StopPoint:DUA8739300", Some(1)))
    assertMatchParity(passages, e)
    val m = Transit.matchPassages(passages, e, active, Day).collect()
      .map(r => r.getAs[String]("num") -> r).toMap
    assert(m("165109").isNullAt(m("165109").fieldIndex("stop_sequence")))
    assert(m("777100").isNullAt(m("777100").fieldIndex("departure_secs")))
  }

  test("activeServices matches the union / distinct / anti-join form") {
    val sp = spark; import sp.implicits._
    val cal = calendar.union(Seq(
      (null: String, 1, 1, 1, 1, 1, 1, 1, "20170101", "20171231"),
      ("S_SAT", 0, 0, 0, 0, 0, 1, 0, "20170101", "20171231"),
      ("S_SAT2", 0, 0, 0, 0, 0, 1, 0, "20170101", "20171231")
    ).toDF(calendar.columns.toSeq: _*))
    val cd = calendarDates.union(Seq(
      ("S_BOTH", Day, 1), ("S_BOTH", Day, 2),  // added and removed on the day
      ("S_NOT_RUNNING", Day, 2),               // removal of a service that does not run
      ("S_SAT", Day, 2),                       // a regular service removed
      ("S_SAT2", Day, 1),                      // a regular service also added
      (null: String, Day, 1), (null: String, Day, 2)
    ).toDF(calendarDates.columns.toSeq: _*))
    for ((c, d) <- Seq((calendar, calendarDates), (cal, cd), (cal, calendarDates), (calendar, cd));
         day <- Seq(Day, "20170521")) {
      val got = Transit.activeServices(c, d, day)
      val want = oracleActive(c, d, day)
      assert(got.schema == want.schema)
      assert(rows(got) == rows(want), day)
    }
    assert(rows(Transit.activeServices(cal, cd, Day)) ==
      Seq("S_EXC", "S_SAT2", "S_WEEK", "null"))
  }

  // --- plan guard: the transit pass's match and calendar jobs ---

  private object Plans extends AdaptiveSparkPlanHelper

  private def nodeNames(df: DataFrame): Seq[String] =
    Plans.collect(df.queryExecution.executedPlan) { case p => p.nodeName }

  test("matchPassages(...) and its localCheckpoint() run 3 Spark jobs and one UDF") {
    val p = passages.localCheckpoint()
    val e = ext.localCheckpoint()
    val a = active.localCheckpoint()
    // the call index is built when the match is called (the calendar
    // join's broadcast and the bounded collect), then one scan
    var m: DataFrame = null
    assert(jobsOf { m = Transit.matchPassages(p, e, a, Day); m.localCheckpoint() } === 3)
    assert(!nodeNames(m).exists(_.contains("Window")), nodeNames(m))
    // the match is evaluated once per row, not once per extracted field
    val optimized = m.queryExecution.optimizedPlan
    val udfs = optimized.flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u }))
    assert(udfs.size === 1, optimized.treeString)
    // the probe sees a Window where there is one
    val old = oracleMatch(p, e, a)
    old.localCheckpoint()
    assert(nodeNames(old).exists(_.contains("Window")))
  }

  test("callIndex fails loudly, naming its bound, past the bound") {
    val calls = ext.join(active, "service_id").select(
      regexp_extract(col("stop_id"), "([0-9]{7})", 1).as("station7"),
      col("trip_id"), col("service_id"), col("stop_sequence"), col("departure_secs"))
    val n = calls.count().toInt
    assert(Transit.callIndex(calls, n).values.map(_.length).sum == n)
    val err = intercept[IllegalArgumentException](Transit.callIndex(calls, n - 1))
    assert(err.getMessage.contains(s"exceeds ${n - 1} calls"), err.getMessage)
  }

  test("activeServices(...).localCheckpoint() runs 2 Spark jobs") {
    val cal = calendar.localCheckpoint()
    val cd = calendarDates.localCheckpoint()
    assert(jobsOf(Transit.activeServices(cal, cd, Day).localCheckpoint()) === 2)
  }
}
