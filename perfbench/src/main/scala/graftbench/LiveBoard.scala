package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.domain.Transit
import graft.sources.GtfsCsv
import graft.streaming.Streams

/** The generated day replayed as the polling feed: an open loop adds one
  * polling cycle (every station's passages of one request time) per tick
  * to a MemoryStream feeding Streams.delayBoard (update mode). A cycle's
  * latency runs from when it was due to the end of the micro-batch that
  * consumed it. */
final class LiveBoard(ctx: Ctx, in: TransitInputs) {
  import TransitDay._
  import LiveBoard._
  private var cycles: IndexedSeq[Array[Streams.Passage]] = _
  private var sched: DataFrame = _
  private var replays = 0
  /** The timed cycles' latencies (ms) of the last replay, in order. */
  var latencies: Seq[Double] = Nil

  def register(spark: SparkSession): Unit = {
    val rows = Main.json.readTree(new java.io.File(ctx.args.inputs, "passages.json"))
      .elements.asScala.map { p =>
        def str(k: String) = Option(p.get(k)).filterNot(_.isNull).map(_.asText).orNull
        Streams.Passage(str("station_id"), str("num"), str("miss"), str("term"),
          new java.sql.Timestamp(p.get("exp").asLong * 1000L), str("mode"), str("etat"),
          in.isoDay, str("request_time"), in.day + "_" + str("num"))
      }.toSeq
    val byTime = rows.groupBy(_.request_time)
    cycles = in.cycles.map(c => byTime.getOrElse(c, Nil).toArray)
    val g = GtfsCsv.readBundle(spark, in.gtfsDir)
    sched = Transit.stopTimesExt(g("trips"), g("stop_times"), g("stops"))
      .join(Transit.activeServices(g("calendar"), g("calendar_dates"), in.day), "service_id")
      .select(col("trip_id"), regexp_extract(col("stop_id"), "([0-9]{7})", 1).as("station7"),
        col("stop_sequence"), col("departure_secs"))
      .localCheckpoint()
  }

  private def start(spark: SparkSession, mem: MemoryStream[Streams.Passage],
      name: String) =
    Streams.delayBoard(mem.toDS(), sched).writeStream
      .format("memory").queryName(name).outputMode("update")
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", ctx.dir(s"checkpoint/$name").toURI.toString)
      .start()

  /** Untimed: the first polling burst through a query of its own, one
    * micro-batch per cycle, so the replay's batches run compiled code. */
  def warmUp(spark: SparkSession): Unit = {
    import spark.implicits._
    val mem = MemoryStream[Streams.Passage](0, spark, None)
    val q = start(spark, mem, "live_board_warm")
    try cycles.take(in.burst).foreach { c => mem.addData(c.toIndexedSeq); q.processAllAvailable() }
    finally q.stop()
    spark.sql("DROP VIEW IF EXISTS live_board_warm")
  }

  /** How long a replay feeds its cycles. */
  def seconds: Double = in.cycles.size * PeriodMs / 1e3

  /** One micro-batch as reported by the query's progress. */
  final case class Batch(from: Long, to: Long, startMs: Long, endMs: Long,
      progress: StreamingQueryProgress)

  final case class Replay(due: Array[Long], late: Array[Long], batches: Seq[Batch],
      board: Seq[(String, String, String, String, Long, Long, Long, Boolean)],
      emitted: Long)

  /** Feed the day's polling cycles in order, one every PeriodMs from a
    * generator thread, and wait until the query has consumed all of them. */
  def replay(spark: SparkSession, t: Tracer): Replay = {
    val n = cycles.size
    import spark.implicits._
    replays += 1
    val name = s"live_board_$replays"
    val mem = MemoryStream[Streams.Passage](replays, spark, None)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
    val q = t.span("streaming.start")(start(spark, mem, name))
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.id == q.id && p.numInputRows > 0) {
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli
          batches.add(Batch(offset(p.sources(0).startOffset), offset(p.sources(0).endOffset),
            start, start + p.durationMs.get("triggerExecution").longValue, p))
        }
      }
    }
    spark.streams.addListener(listener)
    val due = new Array[Long](n)
    val late = new Array[Long](n)
    val t0 = System.currentTimeMillis() + 100
    val gen = new Thread(() => (0 until n).foreach { i =>
      due(i) = t0 + i * PeriodMs
      val wait = due(i) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      late(i) = System.currentTimeMillis() - due(i)
      mem.addData(cycles(i).toIndexedSeq)
    }, "graftbench-feed")
    try {
      t.span("streaming.feed") { gen.start(); gen.join() }
      t.span("streaming.drain")(q.processAllAvailable())
      // the last progress event is posted after the batch commits
      val deadline = System.currentTimeMillis() + 5000
      while (!batches.asScala.exists(_.to == n - 1) && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
    val emitted = spark.table(name).collect().map(r => BoardUpdate(
      r.getAs[String]("station_id"), r.getAs[String]("day_train_num"), r.getAs[String]("num"),
      r.getAs[String]("trip_id"), ts(r, "expected_ts"), ts(r, "scheduled_ts"),
      r.getAs[Long]("delay_sec"), r.getAs[Boolean]("cancelled"), r.getAs[String]("request_time")))
    spark.sql(s"DROP VIEW IF EXISTS $name")
    val board = emitted.groupBy(u => (u.station, u.dtn)).values
      .map(_.maxBy(_.requestTime)).map(_.tuple).toSeq.sorted
    Replay(due, late, batches.asScala.toSeq.sortBy(_.from), board, emitted.length.toLong)
  }

  /** Replay the day once; the final board must equal the planted truth
    * and the batch board. */
  def measure(spark: SparkSession, t: Tracer,
      batchBoard: Seq[(String, String, String, String, Long, Long, Long, Boolean)],
      layers: mutable.Map[String, Double]): Map[String, Double] = {
    val n = cycles.size
    require(n >= WarmCycles + MinCycles, s"the day has $n polling cycles, fewer than " +
      s"${WarmCycles + MinCycles}")
    val done = ctx.op("replay", s"$n cycles")(t.span("streaming.replay")(replay(spark, t))).toSeq
    if (done.isEmpty) ctx.fail("the live replay failed")
    done.foreach { r =>
      if (r.board != batchBoard)
        ctx.fail(s"stream board (${r.board.size} rows) differs from batch board " +
          s"(${batchBoard.size} rows): ${r.board.diff(batchBoard).take(3)}")
      if (r.board != in.board) ctx.fail("stream board differs from planted truth")
    }
    val lat = mutable.ArrayBuffer.empty[Double]
    done.foreach { r =>
      r.batches.foreach { b =>
        ctx.attempted += 1 // each micro-batch is an operation
        ((b.from + 1) to b.to).filter(_ >= WarmCycles)
          .foreach(i => lat += (b.endMs - r.due(i.toInt)).toDouble)
      }
      if (r.batches.map(_.to).maxOption.getOrElse(-1L) != n - 1)
        ctx.fail(s"micro-batches did not consume all $n cycles")
    }
    val bs = done.flatMap(_.batches)
    if (t.enabled) {
      def dur(k: String) = bs.map(b => Option(b.progress.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
      def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
        bs.flatMap(_.progress.stateOperators.headOption.map(f))
      layers("streaming.batches") = bs.size.toDouble
      layers("streaming.batch_p50_s") = median(bs.map(b => (b.endMs - b.startMs) / 1e3))
      layers("streaming.add_batch_s") = dur("addBatch")
      layers("streaming.planning_s") = dur("queryPlanning")
      layers("streaming.log_s") = dur("walCommit") + dur("commitOffsets")
      layers("streaming.state_rows") = state(_.numRowsTotal).maxOption.getOrElse(0L).toDouble
      layers("streaming.state_bytes") = state(_.memoryUsedBytes).maxOption.getOrElse(0L).toDouble
      layers("streaming.rows_updated") = state(_.numRowsUpdated).sum.toDouble
      layers("streaming.emitted_rows") = done.map(_.emitted).sum.toDouble
      layers("streaming.backlog_max") = bs.map(b => b.to - b.from).maxOption.getOrElse(0L).toDouble
      layers("streaming.gen_late_s") = done.flatMap(_.late).maxOption.getOrElse(0L) / 1e3
    }
    latencies = lat.toSeq
    val p50 = median(lat.toSeq)
    val p75 = percentile(lat.toSeq, 0.75)
    Map("busy_share" -> bs.map(b => b.endMs - b.startMs).sum / (n * PeriodMs.toDouble),
      "latency_p50_ms" -> p50, "latency_p75_ms" -> p75,
      "cycle_latency_p50_s" -> p50 / 1e3, "cycle_latency_p75_s" -> p75 / 1e3,
      "cycle_latency_p90_s" -> percentile(lat.toSeq, 0.90) / 1e3,
      "cycles" -> lat.size.toDouble, "micro_batches" -> bs.size.toDouble,
      "generator_late_max_s" -> done.flatMap(_.late).maxOption.getOrElse(0L) / 1e3)
  }

}

object LiveBoard {
  /** One polling cycle every PeriodMs: the fixed open-loop rate. The
    * query runs with a zero trigger interval, so each cycle is consumed
    * as soon as it is added and its latency is its micro-batch's time,
    * not a wait for a timer. A one-cycle micro-batch takes about 0.4 s
    * on 4 cores; at 650 ms a slow spell of the host filled the query
    * and its backlog doubled the latency, so the rate keeps half the
    * period free and each timed cycle is a micro-batch of its own. */
  val PeriodMs = 800L
  /** Fewest cycles a replay times. */
  val MinCycles = 16
  /** Cycles fed first and not timed: a new query's first micro-batches
    * set up its state store and still run slower. */
  val WarmCycles = 4

  def offset(json: String): Long =
    if (json == null || json == "null") -1L else json.trim.toLong

  final case class BoardUpdate(station: String, dtn: String, num: String, trip: String,
      expected: Long, scheduled: Long, delay: Long, cancelled: Boolean, requestTime: String) {
    def tuple: (String, String, String, String, Long, Long, Long, Boolean) =
      (station, dtn, num, trip, expected, scheduled, delay, cancelled)
  }
}
