package graftbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.domain.Transit
import graft.sources.{GtfsCsv, XmlPassages}

/** The generated service day and its planted truth (gen.py). */
final class TransitInputs(root: File) {
  val truth: JsonNode = Main.json.readTree(new File(root, "truth.json"))
  val day: String = truth.get("day").asText
  val isoDay: String = truth.get("iso_day").asText
  val gtfsDir: String = new File(root, "gtfs").getPath
  val cycles: IndexedSeq[String] = truth.get("cycles").elements.asScala.map(_.asText).toIndexedSeq
  /** Polling cycles in the day's first burst. */
  val burst: Int = truth.get("burst").asInt
  def cycleDir(i: Int): String = new File(root, f"xml/c$i%03d").getPath
  val stations: IndexedSeq[String] = truth.get("stations").elements.asScala.map(_.asText).toIndexedSeq
  val tripIds: IndexedSeq[String] = truth.get("trip_ids").elements.asScala.map(_.asText).toIndexedSeq
  def count(k: String): Long = truth.get("counts").get(k).asLong

  /** Board rows as (station_id, day_train_num, num, trip_id,
    * expected_ts, scheduled_ts, delay_sec, cancelled), epoch seconds. */
  val board: Seq[(String, String, String, String, Long, Long, Long, Boolean)] =
    truth.get("board").elements.asScala.map { r =>
      (r.get("station_id").asText, r.get("day_train_num").asText, r.get("num").asText,
        r.get("trip_id").asText, r.get("expected_ts").asLong, r.get("scheduled_ts").asLong,
        r.get("delay_sec").asLong, r.get("cancelled").asBoolean)
    }.toSeq.sorted

  /** Expected stationBoard answer: (num, expected_ts) of the next n
    * non-cancelled departures at or after t. */
  def expectedBoard(station: String, t: Long, n: Int): Seq[(String, Long)] =
    board.filter(r => r._1 == station && r._5 >= t && !r._8)
      .sortBy(r => (r._5, r._3)).take(n).map(r => (r._3, r._5))

  /** Expected tripStops answer: (stop_sequence, stop_id, departure_time,
    * scheduled_ts); empty for a trip whose service does not run. */
  def expectedTrip(tripId: String): Seq[(Int, String, String, Long)] =
    Option(truth.get("trip_calls").get(tripId)).toSeq.flatMap(_.elements.asScala.map { c =>
      (c.get(0).asInt, c.get(1).asText, c.get(2).asText, c.get(3).asLong)
    })
}

object TransitDay {
  /** Serving requests per measured window (answers are checked). */
  val Requests = 16

  def ts(r: Row, f: String): Long = r.getAs[Timestamp](f).getTime / 1000L

  /** Rows of a board DataFrame in the truth's tuple shape. */
  def boardTuples(df: DataFrame): Seq[(String, String, String, String, Long, Long, Long, Boolean)] =
    df.collect().map(r => (r.getAs[String]("station_id"), r.getAs[String]("day_train_num"),
      r.getAs[String]("num"), r.getAs[String]("trip_id"), ts(r, "expected_ts"),
      ts(r, "scheduled_ts"), r.getAs[Long]("delay_sec"), r.getAs[Boolean]("cancelled")))
      .toSeq.sorted

  /** Every operator of an executed plan, through adaptive stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else { val s = xs.sorted; (s((s.size - 1) / 2) + s(s.size / 2)) / 2 }

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else { val s = xs.sorted; s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0)) }
}

/** One generated service day, batch then live: pipeline passes from the
  * input files to the written delay state, a few checked serving
  * requests, then the same day replayed as the polling feed through the
  * streaming board (LiveBoard). */
final class TransitDay(ctx: Ctx) extends Workload {
  import TransitDay._
  private val in = new TransitInputs(ctx.args.inputs)
  private val state = ctx.dir("state")
  private def out(n: String) = new File(state, n).getPath

  private val live = new LiveBoard(ctx, in)

  /** Untimed, after set-up: the day's first polling burst through the
    * pipeline and the streaming board, so that the timed passes and the
    * replay run compiled code. */
  override def warmUp(spark: SparkSession): Unit = {
    pipeline(spark, new Tracer(false, "warm-up"), 0 until in.burst)
    live.warmUp(spark)
    System.gc()
  }

  def register(spark: SparkSession, t: Tracer): Unit = {
    GtfsCsv.readBundle(spark, in.gtfsDir).values.foreach(_.count())
    XmlPassages.read(spark, in.cycleDir(0), in.isoDay, in.cycles(0)).count()
    live.register(spark)
  }

  /** The result of one pass, kept for the after-window counts. */
  final case class Pass(passages: DataFrame, matched: DataFrame, matchPlan: DataFrame,
      ext: DataFrame, active: DataFrame)

  /** One pass: every stage is materialized (localCheckpoint), so a stage
    * span covers that stage's own work. */
  def pipeline(spark: SparkSession, t: Tracer, cycles: Seq[Int]): Pass = {
    val g = t.span("sources.gtfs_read") {
      GtfsCsv.readBundle(spark, in.gtfsDir).map { case (n, df) => n -> df.localCheckpoint() }
    }
    val passages = t.span("sources.xml_parse") {
      cycles.map(i => XmlPassages.read(spark, in.cycleDir(i), in.isoDay, in.cycles(i)))
        .reduce(_ union _).localCheckpoint()
    }
    val (ext, active) = t.span("domain.schedule") {
      (Transit.stopTimesExt(g("trips"), g("stop_times"), g("stops")).localCheckpoint(),
        Transit.activeServices(g("calendar"), g("calendar_dates"), in.day).localCheckpoint())
    }
    val matchPlan = Transit.matchPassages(passages, ext, active, in.day)
    val matched = t.span("domain.match")(matchPlan.localCheckpoint())
    val delays = t.span("domain.delays") {
      Transit.computeDelays(matched, in.day).localCheckpoint()
    }
    t.span("domain.state_write") {
      TransitLatest(delays).write.mode("overwrite").parquet(out("board"))
    }
    Pass(passages, matched, matchPlan, ext, active)
  }

  def measure(spark: SparkSession, t: Tracer, seconds: Double,
      layers: mutable.Map[String, Double]): Map[String, Double] = {
    // batch phase: passes until the window less the replay's length is
    // used, then the replay, whose length is fixed
    val (passTimes, last) = batchPhase(spark, t, seconds - live.seconds)
    last.foreach(p => checkBoard(spark, p))
    val served = last.map(serve(spark, t, _)).getOrElse(Nil)
    // streaming phase: the same day replayed as the polling feed for the
    // rest of the window; its final board must equal the written state
    val batchBoard = boardTuples(spark.read.parquet(out("board")))
    System.gc() // untimed: no collection carried from the batch phase into the replay
    val stream = live.measure(spark, t, batchBoard, layers)
    if (t.enabled) {
      val total = t.totalByName
      Seq("sources.gtfs_read", "sources.xml_parse", "domain.schedule", "domain.match",
        "domain.delays", "domain.state_write", "domain.request").foreach { n =>
        layers(n + "_s") = total.getOrElse(n, 0.0)
      }
      layers("domain.requests") = served.size.toDouble
      last.foreach { p =>
        val n = p.passages.count()
        layers("sources.passages") = n.toDouble
        layers("domain.match_yield") = p.matched.filter(col("trip_id").isNotNull).count() / n.toDouble
        layers("domain.match_candidates") = candidates(p.matchPlan)
      }
    }
    if (passTimes.isEmpty) ctx.fail("no pipeline pass succeeded")
    val work = median(passTimes)
    stream ++ Map("work_s" -> work, "passages_per_s" -> in.count("passages") / work,
      "passes" -> passTimes.size.toDouble, "pass_max_s" -> passTimes.maxOption.getOrElse(Double.NaN), "board_p50_ms" -> median(served),
      "requests" -> served.size.toDouble)
  }

  /** Pipeline passes for `seconds` (at least two): their times and
    * the last pass. */
  private def batchPhase(spark: SparkSession, t: Tracer,
      seconds: Double): (Seq[Double], Option[Pass]) = {
    val start = System.nanoTime()
    val passTimes = mutable.ArrayBuffer.empty[Double]
    var last: Option[Pass] = None
    var passes = 0
    while (passes < 2 || (System.nanoTime() - start) / 1e9 < seconds) {
      passes += 1
      val t0 = System.nanoTime()
      ctx.op("pipeline", s"pass$passes")(t.span("transit.pipeline") {
        pipeline(spark, t, in.cycles.indices)
      }).foreach { p =>
        passTimes += (System.nanoTime() - t0) / 1e9
        last = Some(p)
      }
    }
    (passTimes.toSeq, last)
  }

  /** The untraced side of a traced run times the passes only. */
  override def measureOverhead(spark: SparkSession, seconds: Double): Map[String, Double] =
    Map("work_s" -> median(batchPhase(spark, new Tracer(false, "untraced"), 0)._1))

  /** A few seeded serving requests, one client in a closed loop: boards
    * from the written state, trip stops from the pass's schedule. Each
    * answer is checked; the latencies (ms) go to the run record. */
  private def serve(spark: SparkSession, t: Tracer, p: Pass): Seq[Double] = {
    val board = spark.read.parquet(out("board"))
    val rnd = new scala.util.Random(ctx.args.seed * 31L)
    val dayStart = in.truth.get("day_start").asLong
    (1 to Requests).flatMap { i =>
      val t0 = System.nanoTime()
      if (i % 4 == 0) {
        val trip = in.tripIds(rnd.nextInt(in.tripIds.size))
        ctx.op("trip_stops", trip)(t.span("domain.request") {
          Transit.tripStops(p.ext, p.active, trip, in.day).collect()
        }).map { rows =>
          val got = rows.map(r => (r.getAs[Int]("stop_sequence"), r.getAs[String]("stop_id"),
            r.getAs[String]("departure_time"), ts(r, "scheduled_ts"))).toSeq
          if (got != in.expectedTrip(trip)) ctx.fail(s"tripStops($trip) = $got")
          (System.nanoTime() - t0) / 1e6
        }
      } else {
        val st = in.stations(rnd.nextInt(in.stations.size))
        val at = dayStart + 5 * 3600 + rnd.nextInt(20 * 3600)
        ctx.op("station_board", s"$st@$at")(t.span("domain.request") {
          Transit.stationBoard(board, st, new Timestamp(at * 1000L), 5).collect()
        }).map { rows =>
          val got = rows.map(r => (r.getAs[String]("num"), ts(r, "expected_ts"))).toSeq
          if (got != in.expectedBoard(st, at, 5)) ctx.fail(s"stationBoard($st, $at) = $got")
          (System.nanoTime() - t0) / 1e6
        }
      }
    }
  }

  /** Output rows of the contains-join in the match stage's executed plan
    * (its SQL metric), i.e. the candidate (passage, stop call) pairs. */
  private def candidates(matchPlan: DataFrame): Double =
    nodes(matchPlan.queryExecution.executedPlan).filter(p => p.nodeName.contains("Join") && p.toString.contains("Contains"))
      .flatMap(_.metrics.get("numOutputRows")).map(_.value.toDouble).sum

  private def checkBoard(spark: SparkSession, p: Pass): Unit = {
    val got = boardTuples(spark.read.parquet(out("board")))
    if (got != in.board) {
      val missing = in.board.diff(got).take(3)
      val extra = got.diff(in.board).take(3)
      ctx.fail(s"delay board differs from planted truth: ${got.size} vs ${in.board.size} rows; " +
        s"missing $missing; unexpected $extra")
    }
    val matched = p.matched.filter(col("trip_id").isNotNull).count()
    if (matched != in.count("matched"))
      ctx.fail(s"matched passages $matched != planted ${in.count("matched")}")
  }

  def opSpan: String = "transit.pipeline"

  def stamps: Map[String, Any] = Map("cycle_latencies_ms" -> live.latencies,
    "period_ms" -> LiveBoard.PeriodMs, "trigger_ms" -> 0,
    "feed" -> "open loop, one generator thread",
    "inputs" -> Map("passages" -> in.count("passages"), "stop_calls" -> in.count("stop_calls"),
      "stations" -> in.count("stations"), "cycles" -> in.count("cycles"),
      "board_rows" -> in.count("board_rows")))
}

/** Latest delay row per (station, day_train_num): an associative
  * struct-max over the polling cycles, as the board state is kept. */
object TransitLatest {
  def apply(delays: DataFrame): DataFrame =
    delays.groupBy("station_id", "day_train_num")
      .agg(max(struct(
        col("request_time").as("rt"), col("expected_ts").as("ts"),
        col("scheduled_ts").as("sc"), col("delay_sec").as("d"),
        col("cancelled").as("c"), col("num").as("n"), col("trip_id").as("tr"),
        col("etat").as("e"))).as("s"))
      .select(col("station_id"), col("day_train_num"), col("s.n").as("num"),
        col("s.tr").as("trip_id"), col("s.ts").as("expected_ts"),
        col("s.sc").as("scheduled_ts"), col("s.d").as("delay_sec"),
        col("s.c").as("cancelled"), col("s.e").as("etat"))
}
