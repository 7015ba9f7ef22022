package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import graft.domain.Transit
import graft.streaming.Streams
import Streams.{BoardRow, Passage}

/** The live board (`Streams.delayBoard`) resolves each passage against
  * the day's call index, broadcast once per query: a data micro-batch
  * is one Spark job with no join, and the board equals the batch board
  * on the null-call fixture and across a sink failure and restart. */
class DelayBoardSpec extends SparkSpec with TransitFixtures {

  private object Plans extends AdaptiveSparkPlanHelper

  private val Day = "20170520"

  test("a delayBoard data micro-batch runs one Spark job, with no broadcast exchange and no join") {
    val s = spark
    import s.implicits._
    val mem = MemoryStream[Passage](111, spark, None)
    val q = Streams.delayBoard(mem.toDS(), boardSched()).writeStream
      .format("memory").queryName("t_board_one_job")
      .outputMode("update").start()
    try {
      val cs = boardCycles()
      val groups = jobGroupsDuring {
        cs.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
      }
      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches == cs.size, s"$batches micro-batches")
      val jobs = groups.count(_ == q.runId.toString)
      assert(jobs == batches, s"$jobs jobs for $batches data micro-batches")
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
      val joins = Plans.collect(plan) {
        case p: BroadcastExchangeExec => p.nodeName
        case p: BaseJoinExec => p.nodeName
      }
      assert(joins.isEmpty, plan.treeString)
      assert(spark.table("t_board_one_job").count() == 6)
    } finally q.stop()
  }

  test("stream board equals batch board when the matched call has a null stop_sequence") {
    val s = spark
    import s.implicits._
    // MatchParitySpec's null-call fixture: 165109's first call at
    // Pont Cardinet has a null stop_sequence (it boards, delayed
    // against 12:30), 777100's a null departure (it does not board)
    val extra = Seq(
      ("DUASN165109F01", "12:30:00", "StopPoint:DUA8738400", Option.empty[Int]),
      ("DUASN777100F01", null, "StopPoint:DUA8739300", Some(1)))
      .map { case (t, d, st, q) => (t, d, d, st, q) }
      .toDF("trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence")
    val e = Transit.stopTimesExt(trips, stopTimes.union(extra), stops)
    val active = Transit.activeServices(calendar, calendarDates, Day)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("station_id", "day_train_num").orderBy(col("request_time").desc)
    val batch = Transit.computeDelays(Transit.matchPassages(passages, e, active, Day), Day)
      .withColumn("delay_min", expr("delay_sec div 60"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(BoardCols.map(col): _*)
    val sched = e.join(active, "service_id")
      .select(col("trip_id"), regexp_extract(col("stop_id"), "([0-9]{7})", 1).as("station7"),
        col("stop_sequence"), col("departure_secs"))
    val mem = MemoryStream[Passage](112, spark, None)
    val q = Streams.delayBoard(mem.toDS(), sched).writeStream
      .format("memory").queryName("t_board_null_call")
      .outputMode("update").start()
    try {
      mem.addData(livePassages(passages): _*)
      q.processAllAvailable()
      val streamed = finalBoard(spark.table("t_board_null_call").as[BoardRow].collect().toSeq)
      assertSameRows(batch, streamed, "stream/batch board mismatch on the null-call fixture")
      val byNum = streamed.collect().map(r => r.getAs[String]("num") -> r).toMap
      assert(byNum("165109").getAs[Long]("delay_sec") == -16 * 60L) // 12:14 vs 12:30
      assert(!byNum.contains("777100"), "a call with no departure must not board")
    } finally q.stop()
  }

  test("delayBoard restarted after its foreachBatch sink throws mid-day reproduces the batch board") {
    val s = spark
    import s.implicits._
    val src = Files.createTempDirectory("board-fail-src").toString
    val ckpt = Files.createTempDirectory("board-fail-ckpt").toString
    val cs = boardCycles()
    // fail on the late train's 12:00 cycle, whose delay update must
    // then come from the re-run batch after the restart
    val k = cs.indexWhere(_.exists(_.request_time == "12:00"))
    assert(k > 0 && k < cs.size - 1)
    val sched = boardSched()
    val schema = Encoders.product[Passage].schema
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[BoardRow]()
    val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def start() = Streams.delayBoard(
        spark.readStream.schema(schema).parquet(s"$src/c*").as[Passage], sched)
      .writeStream
      .foreachBatch { (b: Dataset[BoardRow], _: Long) =>
        val rows = b.collect()
        if (rows.exists(_.request_time == "12:00") && failed.compareAndSet(false, true))
          throw new IllegalStateException("sink down")
        rows.foreach(emitted.add)
      }
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    def feed(i: Int): Unit = cs(i).toDS().coalesce(1).write.parquet(f"$src/c$i%02d")
    val q1 = start()
    try {
      (0 until k).foreach { i => feed(i); q1.processAllAvailable() }
      feed(k)
      val err = intercept[StreamingQueryException](q1.processAllAvailable())
      assert(err.getMessage.contains("sink down"), err.getMessage)
    } finally q1.stop()
    assert(failed.get())
    val q2 = start()
    try {
      q2.processAllAvailable() // re-runs the failed batch from its offsets
      (k + 1 until cs.size).foreach { i => feed(i); q2.processAllAvailable() }
    } finally q2.stop()
    // the failed batch emitted nothing, so the updates are those of an
    // uninterrupted run: one per matched train plus the late train's
    // second delay
    assert(emitted.size == 6, s"expected 6 updates, got ${emitted.size}")
    val streamed = finalBoard(emitted.asScala.toSeq)
    assertSameRows(batchBoard(), streamed, "restarted stream board diverged from the batch board")
    assert(streamed.count() == 5)
  }
}
