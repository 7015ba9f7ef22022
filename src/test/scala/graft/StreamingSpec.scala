package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{Streams, UpsertStore}
import Streams.Event

/** Structured Streaming operators (SURVEY.md §2.3) over MemoryStream,
  * including the batch/stream parity assertions. */
class StreamingSpec extends SparkSpec {

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${10 + min / 60}%02d:${min % 60}%02d:$sec%02d")

  private val fixture: Seq[Event] = Seq(
    Event(1, ts(0), 1, "view", 1.0),
    Event(2, ts(5), 1, "click", 2.0),
    Event(3, ts(10), 2, "view", 3.0),
    Event(4, ts(65), 1, "purchase", 4.0),   // second hour, new session (65-5=60min gap)
    Event(5, ts(70), 2, "view", 5.0),
    Event(6, ts(75), 1, "view", 6.0))

  private def runStream[A](makeDf: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      data: Seq[Event], mode: String, name: String): Array[org.apache.spark.sql.Row] = {
    val s = spark
    import s.implicits._
    val mem = MemoryStream[Event](1, spark, None)
    val q = makeDf(mem.toDF()).writeStream.format("memory")
      .queryName(name).outputMode(mode).start()
    try {
      mem.addData(data: _*)
      q.processAllAvailable()
      spark.table(name).collect()
    } finally q.stop()
  }

  test("stream_tumbling counts per hour and matches the batch twin") {
    val rows = runStream(Streams.tumbling, fixture, "update", "t_tumb")
    val streamed = rows.map(r => r.getTimestamp(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // batch twin: same aggregation over the same data via date_trunc
    val s = spark
    import s.implicits._
    val batch = fixture.toDF()
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("n"), sum("value").as("v"))
      .collect().map(r => r.getTimestamp(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(streamed == batch, s"stream=$streamed batch=$batch")
  }

  test("stream_sliding assigns each event to 4 overlapping windows") {
    val rows = runStream(Streams.sliding, fixture.take(1), "update", "t_slide")
    assert(rows.length == 4) // 1h window / 15min slide
  }

  test("stream_sliding matches the ts_sliding batch twin on the fixture") {
    val rows = runStream(Streams.sliding, fixture, "update", "t_slide_par")
    val streamed = rows.map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    val s = spark
    import s.implicits._
    val batch = fixture.toDF()
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("bucket"), col("n"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(streamed == batch, s"stream=$streamed batch=$batch")
  }

  test("stream_session groups by 30-min gaps and matches batch sessionization") {
    val rows = runStream(Streams.session, fixture, "complete", "t_sess")
    val streamed = rows.map(r => (r.getLong(0), r.getLong(3))).groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted.toSeq).toMap
    // user 1: events at 0,5 then 65,75 → sessions of 2 and 2
    // user 2: events at 10 then 70 → sessions of 1 and 1
    assert(streamed(1L) == Seq(2L, 2L), s"user1 sessions: $streamed")
    assert(streamed(2L) == Seq(1L, 1L))
  }

  test("stream_dedup emits each event_id once across micro-batches") {
    val s = spark
    import s.implicits._
    val mem = MemoryStream[Event](2, spark, None)
    val q = Streams.dedup(mem.toDF()).writeStream.format("memory")
      .queryName("t_dedup").outputMode("append").start()
    try {
      mem.addData(fixture.take(3): _*)
      q.processAllAvailable()
      mem.addData(fixture.take(3): _*) // replay same ids
      mem.addData(fixture(3))
      q.processAllAvailable()
      val ids = spark.table("t_dedup").select("event_id").collect().map(_.getLong(0))
      assert(ids.sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    } finally q.stop()
  }

  test("stream_late_drop: events older than the watermark are dropped") {
    val s = spark
    import s.implicits._
    val mem = MemoryStream[Event](3, spark, None)
    val q = Streams.tumbling(mem.toDF()).writeStream.format("memory")
      .queryName("t_late").outputMode("append").start()
    try {
      mem.addData(fixture: _*) // advances watermark to ts(75) - 10min
      q.processAllAvailable()
      mem.addData(Event(99, ts(0, 1), 9, "view", 9.0)) // far behind watermark
      q.processAllAvailable()
      mem.addData(Event(100, ts(200), 9, "view", 9.0)) // closes earlier windows
      q.processAllAvailable()
      val rows = spark.table("t_late").collect()
      // the late event must not appear in any finalized hour-10 window count
      val hour10 = rows.filter(_.getTimestamp(0).toString.startsWith("2024-01-01 10:"))
      assert(hour10.forall(_.getLong(1) == 3L),
        s"late event leaked into ${hour10.mkString(",")}") // 3 on-time events in hour 10
    } finally q.stop()
  }

  test("stream_last_state keeps the latest record per user with state") {
    val s = spark
    import s.implicits._
    val mem = MemoryStream[Event](4, spark, None)
    val q = Streams.lastState(mem.toDS()).writeStream.format("memory")
      .queryName("t_last").outputMode("update").start()
    try {
      mem.addData(fixture.take(3): _*)
      q.processAllAvailable()
      mem.addData(fixture.drop(3): _*)
      q.processAllAvailable()
      // last emitted row per user must be the overall latest event
      val rows = spark.table("t_last").collect()
        .map(r => (r.getLong(0), r.getLong(2))) // (user_id, last_event_id)
      val finalPerUser = rows.groupBy(_._1).view.mapValues(_.last._2).toMap
      assert(finalPerUser == Map(1L -> 6L, 2L -> 5L))
    } finally q.stop()
  }

  test("stream_last_state TTL evicts idle keys and re-creates them on re-arrival") {
    val s = spark
    import s.implicits._
    val mem = MemoryStream[Event](14, spark, None)
    // zero watermark delay so each batch's max ts IS the watermark;
    // 10-min TTL measured in event time
    val q = Streams.lastState(mem.toDS(), ttl = "10 minutes",
        watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("t_ttl")
      .outputMode("update").start()
    def stateRows: Long =
      q.recentProgress.filter(_.stateOperators.nonEmpty)
        .last.stateOperators(0).numRowsTotal
    try {
      mem.addData(Event(10, ts(0), 1, "view", 1.0)) // user 1 @10:00
      q.processAllAvailable()
      assert(stateRows == 1L)
      // user 2 @10:30 pushes the watermark past user 1's 10:10 timeout;
      // Spark then runs the timer batch (shouldRunAnotherBatch fires on
      // watermark advance) which must evict user 1's state
      mem.addData(Event(20, ts(30), 2, "view", 2.0))
      q.processAllAvailable()
      assert(stateRows == 1L, s"idle key not evicted: $stateRows state rows")
      // user 1 re-arrives above the watermark → state is rebuilt from
      // scratch and the new row is emitted
      mem.addData(Event(5, ts(31), 1, "click", 9.0))
      q.processAllAvailable()
      assert(stateRows == 2L, s"evicted key not re-created: $stateRows state rows")
      val u1 = spark.table("t_ttl").collect().filter(_.getLong(0) == 1L)
      assert(u1.last.getLong(2) == 5L, s"rebuilt state wrong: ${u1.mkString(";")}")
    } finally q.stop()
  }

  test("stream_scd2 closed versions match the batch scd2 under ordered replay") {
    val s = spark
    import s.implicits._
    // real event slices (sf0.001), replayed in three time-ordered
    // micro-batches — the polling-loop delivery the operator assumes
    val all = graft.engine.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Streams.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val slices = Seq(all.take(300), all.slice(300, 700), all.drop(700))
    val mem = MemoryStream[Streams.Event](15, spark, None)
    val q = Streams.scd2Stream(mem.toDS()).writeStream.format("memory")
      .queryName("t_scd2").outputMode("append").start()
    try {
      slices.foreach { sl => mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable() }
      val streamed = spark.table("t_scd2")
        .select("user_id", "version", "event_type", "valid_from",
          "valid_to", "n_events")
      val batchClosed = graft.queries.PipelineOps
        .scd2(all.toSeq.toDF())
        .filter(!col("is_current"))
        .select("user_id", "version", "event_type", "valid_from",
          "valid_to", "n_events")
      val diff = streamed.exceptAll(batchClosed)
        .unionAll(batchClosed.exceptAll(streamed))
      assert(diff.isEmpty,
        s"stream/batch SCD2 divergence: ${diff.take(5).mkString(";")}")
      assert(streamed.count() > 0)
    } finally q.stop()
  }

  test("stream_scd2_ooo folds shuffled arrivals correctly via watermark buffering") {
    val s = spark
    import s.implicits._
    val all = graft.engine.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Streams.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    // deterministic shuffle WITHIN each slice: slices are time-ordered,
    // so no event ever arrives below the PREVIOUS batch's watermark —
    // disorder inside a batch is invisible to the watermark, and the
    // 1-hour delay just sets how much of the tail stays pending
    def scramble(xs: Array[Streams.Event]) =
      xs.sortBy(e => e.event_id * 2654435761L % 1000)
    val slices = Seq(scramble(all.take(300)),
      scramble(all.slice(300, 700)), scramble(all.drop(700)))
    val mem = MemoryStream[Streams.Event](16, spark, None)
    val q = Streams.scd2StreamOoO(mem.toDS(), "1 hour").writeStream
      .format("memory").queryName("t_scd2_ooo").outputMode("append").start()
    try {
      slices.foreach { sl => mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable() }
      val cols = Seq("user_id", "version", "event_type", "valid_from",
        "valid_to", "n_events")
      val streamed = spark.table("t_scd2_ooo").select(cols.head, cols.tail: _*)
      val batchClosed = graft.queries.PipelineOps.scd2(all.toSeq.toDF())
        .filter(!col("is_current")).select(cols.head, cols.tail: _*)
      // emitted set must be a SUBSET of the batch answer (nothing
      // wrong was ever emitted under disorder)...
      assert(streamed.exceptAll(batchClosed).isEmpty,
        "OoO stream emitted versions the batch answer does not contain")
      // ...and everything watermark-final must have been emitted:
      // final watermark = max ts - delay, so every version closed
      // more than an hour before the end must be present
      val wmFinal = new java.sql.Timestamp(
        all.map(_.ts.getTime).max - 3600L * 1000)
      val due = batchClosed.filter(col("valid_to") <= lit(wmFinal))
      assert(due.exceptAll(streamed).isEmpty,
        "watermark-final versions missing from the OoO stream output")
      assert(streamed.count() > 0, "vacuous: nothing emitted")
    } finally q.stop()
  }

  test("stream_funnel reaches batch funnel_steps' per-stage counts under ordered replay") {
    val s = spark
    import s.implicits._
    val all = graft.engine.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Streams.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val slices = Seq(all.take(300), all.slice(300, 700), all.drop(700))
    val mem = MemoryStream[Streams.Event](18, spark, None)
    val q = Streams.funnel(mem.toDS()).writeStream.format("memory")
      .queryName("t_funnel").outputMode("append").start()
    try {
      slices.foreach { sl => mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable() }
      val hits = spark.table("t_funnel")
      // exactly-once per (user, stage): the state machine advances
      // monotonically, so no stage can be emitted twice for a user
      assert(hits.groupBy("user_id", "stage").count()
        .filter(col("count") > 1).isEmpty, "duplicate stage hit")
      val streamed = hits.groupBy("stage")
        .agg(countDistinct(col("user_id")).as("n_users"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val batch = graft.engine.Registry.byName("funnel_steps")
        .build(spark, sf)
        .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
      assert(streamed == batch,
        s"stream $streamed != batch $batch per-stage user counts")
      assert(streamed(1) > 0)
    } finally q.stop()
  }

  test("stream_funnel counts equal-timestamp stage ties like the batch >= predicate") {
    val s = spark
    import s.implicits._
    def T(x: String) = Timestamp.valueOf(x)
    // all three stages share one timestamp, and the event_ids are
    // ordered AGAINST stage order (purchase lowest) — an (ts, event_id)
    // fold would process purchase/click before the view and drop them;
    // the batch chain (ts >= prev_ts) counts all three stages
    val mem = MemoryStream[Streams.Event](19, spark, None)
    val q = Streams.funnel(mem.toDS()).writeStream.format("memory")
      .queryName("t_funnel_tie").outputMode("append").start()
    try {
      mem.addData(
        Event(3, T("2024-01-01 10:00:00"), 1, "view", 1.0),
        Event(2, T("2024-01-01 10:00:00"), 1, "click", 1.0),
        Event(1, T("2024-01-01 10:00:00"), 1, "purchase", 1.0))
      q.processAllAvailable()
      val stages = spark.table("t_funnel_tie").select("stage")
        .collect().map(_.getInt(0)).sorted.toSeq
      assert(stages == Seq(1, 2, 3),
        s"equal-ts ties must advance all stages (batch >= parity): $stages")
    } finally q.stop()
  }

  test("stream_scd2_ooo drops below-watermark events instead of mis-folding them") {
    // semantics guard: Spark filters late input rows before
    // flatMapGroupsWithState, so an event older than an already-closed
    // version must vanish — if it ever reached the fold it would be
    // "ripe" immediately and corrupt the closed version's count
    val s = spark
    import s.implicits._
    def T(x: String) = Timestamp.valueOf(x)
    val mem = MemoryStream[Streams.Event](17, spark, None)
    val q = Streams.scd2StreamOoO(mem.toDS(), "0 seconds").writeStream
      .format("memory").queryName("t_scd2_late").outputMode("append").start()
    try {
      mem.addData(Event(1, T("2024-01-01 10:00:00"), 1, "view", 1.0),
        Event(2, T("2024-01-01 11:00:00"), 1, "click", 1.0))
      q.processAllAvailable() // watermark -> 11:00
      // LATE: belongs inside version 1, which is about to close
      mem.addData(Event(3, T("2024-01-01 10:30:00"), 1, "view", 1.0))
      q.processAllAvailable()
      mem.addData(Event(4, T("2024-01-01 12:00:00"), 1, "error", 1.0))
      q.processAllAvailable()
      val v1 = spark.table("t_scd2_late").filter(col("version") === 1).collect()
      assert(v1.length == 1)
      // n_events == 1: the late 10:30 view did NOT inflate the closed run
      assert(v1.head.getAs[Long]("n_events") == 1L,
        s"late event leaked into a closed version: ${v1.head}")
      assert(v1.head.getAs[String]("event_type") == "view")
    } finally q.stop()
  }

  test("stream_join_static enriches the stream against a broadcast dimension") {
    val s = spark
    import s.implicits._
    val dim = Seq((1L, "alice"), (2L, "bob")).toDF("user_id", "name")
    val mem = MemoryStream[Event](5, spark, None)
    val q = Streams.joinStatic(mem.toDF(), dim).writeStream.format("memory")
      .queryName("t_enrich").outputMode("append").start()
    try {
      mem.addData(fixture.take(3): _*)
      q.processAllAvailable()
      val names = spark.table("t_enrich").select("event_id", "name").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(names == Map(1L -> "alice", 2L -> "alice", 3L -> "bob"))
    } finally q.stop()
  }

  test("stream_join_stream: interval join matches the batch equivalent") {
    val s = spark
    import s.implicits._
    // clicks and purchases in and out of the 30-min interval
    val evs = Seq(
      Event(2, ts(5), 1, "click", 2.0),
      Event(7, ts(20), 1, "purchase", 7.0),  // 15 min after click 2: joins
      Event(4, ts(65), 1, "purchase", 4.0),  // 60 min after click 2: dropped
      Event(8, ts(40), 2, "click", 8.0),
      Event(9, ts(50), 2, "purchase", 9.0))  // 10 min after click 8: joins
    val mem = MemoryStream[Event](8, spark, None)
    val src = mem.toDF()
    val joined = Streams.joinStreamStream(
      src.filter(col("event_type") === "click"),
      src.filter(col("event_type") === "purchase"))
    val q = joined.writeStream.format("memory")
      .queryName("t_ss_join").outputMode("append").start()
    try {
      mem.addData(evs: _*)
      q.processAllAvailable()
      val streamed = spark.table("t_ss_join")
        .select("click_id", "purchase_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == Set((2L, 7L), (8L, 9L)), s"stream=$streamed")
      // batch twin over the same data agrees
      val df = evs.toDF()
      val batch = Streams.joinStreamStream(
        df.filter(col("event_type") === "click"),
        df.filter(col("event_type") === "purchase"))
        .select("click_id", "purchase_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch, s"stream=$streamed batch=$batch")
    } finally q.stop()
  }

  test("parquet upsert sink: durable latest-state, idempotent under replay") {
    val s = spark
    import s.implicits._
    val path = java.nio.file.Files.createTempDirectory("upsert").toString + "/state"
    val sink = new graft.streaming.ParquetUpsertSink(path)
    val mem = MemoryStream[Event](7, spark, None)
    val q = mem.toDF().writeStream
      .foreachBatch((batch: org.apache.spark.sql.DataFrame, _: Long) => sink.upsert(batch))
      .outputMode("update").start()
    try {
      mem.addData(fixture.take(3): _*)
      q.processAllAvailable()
      mem.addData(fixture.drop(3): _*)
      q.processAllAvailable()
      val st1 = sink.state(spark).collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("event_id")).toMap
      assert(st1 == Map(1L -> 6L, 2L -> 5L)) // latest per user, durable
      mem.addData(fixture: _*) // replay everything
      q.processAllAvailable()
      val st2 = sink.state(spark).collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("event_id")).toMap
      assert(st2 == st1, "replay changed the durable state")
      // crash-window recovery: a failure between rename(dst, backup)
      // and rename(tmp, dst) leaves only dst.backup — the next upsert
      // must restore it, not silently rebuild state from its own batch
      val conf = spark.sparkContext.hadoopConfiguration
      val dst = new org.apache.hadoop.fs.Path(path)
      val fs = dst.getFileSystem(conf)
      fs.rename(dst, new org.apache.hadoop.fs.Path(path + ".backup"))
      sink.upsert(fixture.take(1).toDF()) // batch contains only user 1
      val st3 = sink.state(spark).collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("event_id")).toMap
      assert(st3 == st1, s"backup state lost after simulated crash: $st3")
    } finally q.stop()
  }

  test("stream_upsert_sink is idempotent under micro-batch replay") {
    val s = spark
    import s.implicits._
    val store = new UpsertStore
    val mem = MemoryStream[Event](6, spark, None)
    val q = mem.toDF().writeStream
      .foreachBatch((batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Streams.upsertBatch(batch, store))
      .outputMode("update").start()
    try {
      mem.addData(fixture: _*)
      q.processAllAvailable()
      val snap1 = store.snapshot
      // replay the whole fixture (simulates micro-batch redelivery)
      mem.addData(fixture: _*)
      q.processAllAvailable()
      assert(store.snapshot == snap1, "replay changed the store")
      assert(snap1(1L)._2 == 6L && snap1(2L)._2 == 5L) // latest event ids
    } finally { q.stop(); store.close() }
  }

  test("stream_anomaly equals batch ts_anomaly on finalized hours under ordered replay") {
    val s = spark
    import s.implicits._
    val all = graft.engine.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Streams.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val slices = Seq(all.take(200), all.slice(200, 650), all.drop(650))
    val mem = MemoryStream[Streams.Event](21, spark, None)
    val q = Streams.anomaly(mem.toDS()).writeStream.format("memory")
      .queryName("t_anomaly").outputMode("append").start()
    try {
      slices.foreach { sl => mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable() }
      val streamed = spark.table("t_anomaly")
        .select(col("bucket"), col("n"), col("z"), col("is_anomaly"))
      // batch truth, restricted to hours the stream has FINALIZED
      // (everything strictly before the last event's hour)
      val lastHour = new java.sql.Timestamp(
        (all.last.ts.getTime / 3600000L) * 3600000L)
      val batch = graft.engine.Registry.byName("ts_anomaly")
        .build(spark, sf)
        .filter(col("bucket") < lit(lastHour))
        .select(col("bucket").cast("timestamp").as("bucket"), col("n"),
          col("z"), col("is_anomaly"))
      assert(batch.exceptAll(streamed).isEmpty &&
        streamed.exceptAll(batch).isEmpty,
        "stream/batch anomaly mismatch")
      assert(streamed.count() > 0, "vacuous: nothing emitted")
      // state is O(24) buckets however long the replay — the emitted
      // set never exceeds |finalized hours with a full trailing frame|
      assert(streamed.count() <= all.map(_.ts.getTime / 3600000L).distinct.length)
    } finally q.stop()
  }

  test("stream_retention equals batch retention_cohort under ordered replay") {
    val s = spark
    import s.implicits._
    val all = graft.engine.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Streams.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val slices = Seq(all.take(300), all.slice(300, 900), all.drop(900))
    val mem = MemoryStream[Streams.Event](22, spark, None)
    val q = Streams.retention(mem.toDS()).writeStream.format("memory")
      .queryName("t_retention").outputMode("append").start()
    try {
      slices.foreach { sl => mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable() }
      // each (user, offset) emits exactly once → summing the deltas
      // rebuilds the distinct-user retention matrix
      val streamed = spark.table("t_retention")
        .groupBy("cohort", "day_offset")
        .agg(sum(col("delta")).as("n_users"))
      val batch = graft.engine.Registry.byName("retention_cohort")
        .build(spark, sf)
        .filter(col("day_offset") < 64) // tracked horizon (29-day corpus: no-op)
        .select(col("cohort").cast("timestamp").as("cohort"),
          col("day_offset"), col("n_users"))
      assert(batch.exceptAll(streamed).isEmpty &&
        streamed.exceptAll(batch).isEmpty,
        "stream/batch retention mismatch")
      assert(streamed.count() > 0, "vacuous: nothing emitted")
      // bounded state: the delta stream is capped by |users|·64, and
      // per-user state is two longs regardless of replay length
      val nUsers = all.map(_.user_id).distinct.length.toLong
      assert(spark.table("t_retention").count() <= nUsers * 64)
    } finally q.stop()
  }

  test("stream_calendar_gaps equals batch ts_calendar_gaps on finalized days under ordered replay") {
    val s = spark
    import s.implicits._
    val all = graft.engine.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Streams.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val slices = Seq(all.take(400), all.drop(400))
    val mem = MemoryStream[Streams.Event](24, spark, None)
    val q = Streams.calendarGaps(mem.toDS()).writeStream.format("memory")
      .queryName("t_gaps").outputMode("append").start()
    try {
      slices.foreach { sl => mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable() }
      val streamed = spark.table("t_gaps")
      val lastDay = all.groupBy(_.event_type).map { case (t, es) =>
        t -> java.time.LocalDate.ofEpochDay(
          Math.floorDiv(es.map(_.ts.getTime).max, 86400000L)).toString
      }.toSeq.toDF("event_type", "last_day")
      val batch = graft.engine.Registry.byName("ts_calendar_gaps")
        .build(spark, sf)
        .join(lastDay, "event_type")
        .filter(col("day") < col("last_day"))
        .select(col("event_type"), col("day"), col("hours_observed"),
          col("n_events"), col("hours_missing"), col("has_gap"))
      val st = streamed.select(col("event_type"), col("day"),
        col("hours_observed"), col("n_events"), col("hours_missing"),
        col("has_gap"))
      assert(batch.exceptAll(st).isEmpty && st.exceptAll(batch).isEmpty,
        "stream/batch calendar-gap mismatch")
      assert(st.count() > 0, "vacuous: nothing emitted")
    } finally q.stop()
  }

  test("stream_ewma equals batch ts_ewma on finalized days under ordered replay") {
    val s = spark
    import s.implicits._
    val all = graft.engine.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Streams.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val slices = Seq(all.take(250), all.slice(250, 800), all.drop(800))
    val mem = MemoryStream[Streams.Event](23, spark, None)
    val q = Streams.ewma(mem.toDS()).writeStream.format("memory")
      .queryName("t_ewma").outputMode("append").start()
    try {
      slices.foreach { sl => mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable() }
      val streamed = spark.table("t_ewma")
        .select(col("event_type"), col("day"), col("n"), col("ewma"))
      // batch truth restricted to days the stream has FINALIZED: for
      // each type, every day strictly before that type's last seen day
      // (ISO date strings compare correctly as strings)
      val lastDay = all.groupBy(_.event_type).map { case (t, es) =>
        t -> java.time.LocalDate.ofEpochDay(
          Math.floorDiv(es.map(_.ts.getTime).max, 86400000L)).toString
      }.toSeq.toDF("event_type", "last_day")
      val batch = graft.engine.Registry.byName("ts_ewma")
        .build(spark, sf)
        .join(lastDay, "event_type")
        .filter(col("day") < col("last_day"))
        .select(col("event_type"), col("day"), col("n"), col("ewma"))
      assert(batch.exceptAll(streamed).isEmpty &&
        streamed.exceptAll(batch).isEmpty,
        "stream/batch ewma mismatch")
      assert(streamed.count() > 0, "vacuous: nothing emitted")
      // O(8)-per-type state bound: emitted rows ≤ |types|·|days|
      val nTypes = all.map(_.event_type).distinct.length.toLong
      val nDays = all.map(e => Math.floorDiv(e.ts.getTime, 86400000L))
        .distinct.length.toLong
      assert(streamed.count() <= nTypes * nDays)
    } finally q.stop()
  }

  test("stream_quality_gate equals batch quality_gopher_rules per doc (stateless map)") {
    val s = spark
    import s.implicits._
    val docs = graft.engine.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .as[Streams.Doc].collect().sortBy(_.doc_id)
    val third = docs.length / 3
    val mem = MemoryStream[Streams.Doc](31, spark, None)
    val q = Streams.qualityGate(mem.toDS()).writeStream.format("memory")
      .queryName("t_qgate").outputMode("append").start()
    try {
      Seq(docs.take(third), docs.slice(third, 2 * third), docs.drop(2 * third))
        .foreach { sl => mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable() }
      val cols = Seq("doc_id", "n_words", "n_word_chars", "n_stop",
        "max_word_cnt", "r_len", "r_mwl", "r_stop", "r_rep", "keep")
      val streamed = spark.table("t_qgate").select(cols.map(col): _*)
      // the batch op derives the same numbers through explode+groupBy;
      // the HOF-fold gate must agree on every doc and every rule
      val batch = graft.engine.Registry.byName("quality_gopher_rules")
        .build(spark, sf).select(cols.map(col): _*)
      assert(batch.exceptAll(streamed).isEmpty &&
        streamed.exceptAll(batch).isEmpty,
        "stream/batch quality-gate mismatch")
      assert(streamed.count() === docs.length.toLong)
    } finally q.stop()
  }

  test("stream_readability equals batch text_readability after full replay (complete mode)") {
    val s = spark
    import s.implicits._
    val docs = graft.engine.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text"))
      .as[Streams.LangDoc].collect().sortBy(_.doc_id)
    val third = docs.length / 3
    val mem = MemoryStream[Streams.LangDoc](47, spark, None)
    val q = Streams.readability(mem.toDS()).writeStream.format("memory")
      .queryName("t_readability").outputMode("complete").start()
    try {
      var seen = 0L
      Seq(docs.take(third), docs.slice(third, 2 * third), docs.drop(2 * third))
        .foreach { sl =>
          mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable()
          seen += sl.length
          // the running panel always accounts for every doc seen so far
          val partial = spark.table("t_readability")
          assert(partial.agg(sum("n_docs")).collect()(0).getLong(0) == seen)
        }
      val streamed = spark.table("t_readability")
      val batch = graft.engine.Registry.byName("text_readability")
        .build(spark, sf)
      assert(batch.exceptAll(streamed).isEmpty &&
        streamed.exceptAll(batch).isEmpty,
        "stream/batch readability mismatch after full replay")
      assert(streamed.count() > 0)
    } finally q.stop()
  }

  test("stream_freshness: per-feed watermarks never regress mid-replay; lags and SLA verdicts recompose batch dq_freshness") {
    val s = spark
    import s.implicits._
    val all = graft.engine.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Streams.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val third = all.length / 3
    val mem = MemoryStream[Streams.Event](73, spark, None)
    val q = Streams.freshness(mem.toDS()).writeStream.format("memory")
      .queryName("t_fresh").outputMode("complete").start()
    try {
      var lastMx = Map.empty[String, Long]
      Seq(all.take(third), all.slice(third, 2 * third), all.drop(2 * third))
        .foreach { sl =>
          mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable()
          val mx = spark.table("t_fresh").collect()
            .map(r => r.getString(0) -> r.getLong(2)).toMap
          // monotonicity pin: a feed's last-seen time never regresses
          lastMx.foreach { case (t, v) => assert(mx(t) >= v, s"$t regressed") }
          lastMx = mx
        }
      val cells = spark.table("t_fresh").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val wm = cells.values.map(_._2).max
      val batch = graft.engine.Registry.byName("dq_freshness")
        .build(spark, sf).collect()
      assert(batch.length == cells.size)
      batch.foreach { r =>
        val t = r.getString(0)
        val (n, mx) = cells(t)
        assert(n == r.getLong(1), s"$t count")
        // lag and verdict recompose from the emitted integers exactly
        // as the batch edge expression
        assert((wm - mx) / 1000000L == r.getLong(3), s"$t lag")
        assert(r.getBoolean(5) == ((wm - mx) / 1000000L <= 3600L), s"$t verdict")
      }
    } finally q.stop()
  }

  test("stream_freshness_sla: SLA keys ride the panel; uncovered feeds survive with NULL SLA; verdicts recompose batch dq_freshness_sla") {
    val s = spark
    import s.implicits._
    val all = graft.engine.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Streams.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val third = all.length / 3
    // truncated manifest: the view feed is deliberately unmanifested,
    // so the live panel must carry it with a NULL SLA (the fence)
    val manifest = graft.queries.PipelineOps.FeedSlaS
      .filterNot(_._1 == "view")
    val mem = MemoryStream[Streams.Event](74, spark, None)
    val q = Streams.freshnessSla(mem.toDS(), manifest)
      .writeStream.format("memory")
      .queryName("t_fresh_sla").outputMode("complete").start()
    try {
      var lastMx = Map.empty[String, Long]
      Seq(all.take(third), all.slice(third, 2 * third), all.drop(2 * third))
        .foreach { sl =>
          mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable()
          val rows = spark.table("t_fresh_sla").collect()
          val mx = rows.map(r => r.getString(0) -> r.getLong(3)).toMap
          lastMx.foreach { case (t, v) => assert(mx(t) >= v, s"$t regressed") }
          lastMx = mx
        }
      val rows = spark.table("t_fresh_sla").collect()
      // the fence, live: view rides with a NULL SLA, never dropped
      val view = rows.find(_.getString(0) == "view").get
      assert(view.isNullAt(1), "unmanifested feed must carry NULL sla_s")
      assert(rows.count(_.isNullAt(1)) == 1)
      // verdict recomposition against the batch op run with the SAME
      // truncated manifest
      val wm = rows.map(_.getLong(3)).max
      val batch = graft.queries.PipelineOps
        .freshnessAgainst(spark, sf, manifest).collect()
        .map(r => r.getString(0) -> r).toMap
      assert(batch.size == rows.length)
      rows.foreach { r =>
        val t = r.getString(0)
        val b = batch(t)
        assert(r.getLong(2) == b.getLong(1), s"$t count")
        assert((wm - r.getLong(3)) / 1000000L == b.getLong(3), s"$t lag")
        if (r.isNullAt(1)) assert(b.isNullAt(5) && b.isNullAt(6))
        else {
          assert(r.getLong(1) == b.getLong(5), s"$t sla")
          assert(((wm - r.getLong(3)) / 1000000L <= r.getLong(1))
            == b.getBoolean(6), s"$t verdict")
        }
      }
    } finally q.stop()
  }

  test("stream_dq_profile: streamed HLL sketches bit-equal batch sketches; panel sits in dq_profile_approx's tolerance") {
    val s = spark
    import s.implicits._
    val all = graft.engine.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Streams.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val third = all.length / 3
    val mem = MemoryStream[Streams.Event](71, spark, None)
    val q = Streams.dqProfile(mem.toDS()).writeStream.format("memory")
      .queryName("t_dqprof").outputMode("complete").start()
    try {
      var seen = 0L
      Seq(all.take(third), all.slice(third, 2 * third), all.drop(2 * third))
        .foreach { sl =>
          mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable()
          seen += sl.length
          // mid-replay: the panel accounts for every row seen
          assert(spark.table("t_dqprof").collect()(0).getLong(0) == seen)
        }
      val got = spark.table("t_dqprof").collect()(0)
      // HLL++ merge is a register max-fold — replay order and batch
      // boundaries cannot move a bit: the streamed panel equals the
      // one-shot batch aggregate EXACTLY, sketches included
      val batch = Streams.dqProfile(all.toSeq.toDS()).collect()(0)
      (0 until got.length).foreach { i =>
        assert(got.get(i) == batch.get(i),
          s"panel col $i: streamed ${got.get(i)} != batch ${batch.get(i)}")
      }
      // and the sketches sit inside the batch op's tolerance band of
      // the exact distincts (dq_profile_approx's 2 + 10 % gate)
      val prof = graft.engine.Registry.byName("dq_profile_approx")
        .build(spark, sf).collect()
        .map(r => r.getString(0) -> r).toMap
      Seq("event_id" -> 2, "user_id" -> 3, "event_type" -> 4, "value" -> 5)
        .foreach { case (c, i) =>
          val nd = prof(c).getAs[Long]("n_distinct")
          assert(math.abs(got.getLong(i) - nd) <= 2.0 + 0.10 * nd,
            s"$c sketch ${got.getLong(i)} outside tolerance of exact $nd")
          assert(prof(c).getAs[Long]("n_rows") == got.getLong(0))
        }
      assert(prof("value").getAs[Long]("n_null") == got.getLong(1))
      assert(prof("user_id").getAs[Double]("min_num") == got.getLong(6).toDouble)
      assert(prof("user_id").getAs[Double]("max_num") == got.getLong(7).toDouble)
      assert(prof("value").getAs[Double]("min_num") == got.getDouble(8))
      assert(prof("value").getAs[Double]("max_num") == got.getDouble(9))
    } finally q.stop()
  }

  test("stream_mix_kl per-lang counters recompose batch corpus_mix_kl bit-for-bit after replay") {
    val s = spark
    import s.implicits._
    val docs = graft.engine.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text"))
      .as[Streams.LangDoc].collect().sortBy(_.doc_id)
    val third = docs.length / 3
    val mem = MemoryStream[Streams.LangDoc](67, spark, None)
    val q = Streams.mixKl(mem.toDS()).writeStream.format("memory")
      .queryName("t_mixkl").outputMode("complete").start()
    try {
      var seenChars = 0L
      Seq(docs.take(third), docs.slice(third, 2 * third), docs.drop(2 * third))
        .foreach { sl =>
          mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable()
          seenChars += sl.map(_.text.length.toLong).sum
          // mid-replay conservation pin: the panel accounts for
          // every char seen so far — no batch boundary loses mass
          val partial = spark.table("t_mixkl")
          assert(partial.agg(sum("chars")).collect()(0).getLong(0) == seenChars,
            "char mass not conserved mid-replay")
        }
      val cells = spark.table("t_mixkl").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val batch = graft.engine.Registry.byName("corpus_mix_kl")
        .build(spark, sf).collect()
      assert(batch.length == cells.size)
      // per-lang counters equal the batch aggregate exactly
      batch.foreach { r =>
        val (n, c) = cells(r.getString(0))
        assert(n == r.getLong(1) && c == r.getLong(2),
          s"${r.getString(0)}: streamed ($n, $c) diverges from batch")
      }
      // the KL — contributions, total, and the ≤0.2-nat verdict —
      // recomposes from the emitted integers exactly as the batch
      // edge expression (one ln per lang, floored to micro-nats)
      val tc = cells.values.map(_._2).sum
      val nl = cells.size.toLong
      val contribs = cells.view.mapValues { case (_, c) =>
        math.floor((c.toDouble / tc) *
          math.log(c.toDouble * nl / tc) * 1e6).toLong
      }.toMap
      val total = contribs.values.sum
      batch.foreach { r =>
        assert(contribs(r.getString(0)) == r.getLong(4),
          s"${r.getString(0)} contribution diverges")
        assert(total == r.getLong(5), "KL total diverges")
        assert(r.getBoolean(6) == (total <= 200000L), "gate verdict diverges")
      }
    } finally q.stop()
  }

  test("stream_dsir: frozen-model selection panel recomposes batch corpus_dsir's rollup after replay") {
    val s = spark
    import s.implicits._
    // the model is trained OFFLINE on the batch corpus and frozen —
    // the deployment shape the panel exists for
    val weights = graft.queries.CorpusOps.dsirBucketWeights(spark, sf)
    assert(weights.nonEmpty && weights.size <= 64)
    val docs = graft.engine.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text"))
      .as[Streams.LangDoc].collect().sortBy(_.doc_id)
    val third = docs.length / 3
    val mem = MemoryStream[Streams.LangDoc](71, spark, None)
    val q = Streams.dsirSelection(mem.toDS(), weights)
      .writeStream.format("memory")
      .queryName("t_dsir").outputMode("complete").start()
    try {
      var seenDocs = 0L
      Seq(docs.take(third), docs.slice(third, 2 * third), docs.drop(2 * third))
        .foreach { sl =>
          mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable()
          seenDocs += sl.length
          // mid-replay conservation: every doc seen so far is in
          // exactly one (lang, selected) cell
          val partial = spark.table("t_dsir")
          assert(partial.agg(sum("n_docs")).collect()(0).getLong(0) == seenDocs,
            "doc mass not conserved mid-replay")
        }
      val cells = spark.table("t_dsir").collect()
        .map(r => (r.getString(0), r.getBoolean(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      // batch parity: corpus_dsir's per-doc scores rolled up by
      // (lang, selected) must equal the streamed cells exactly —
      // the per-doc dot product is a pure function of (text, model)
      val batch = graft.engine.Registry.byName("corpus_dsir")
        .build(spark, sf)
        .groupBy("lang", "selected")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("logw_micro")).as("logw_sum"))
        .collect()
      assert(batch.length == cells.size, "cell grid diverges")
      batch.foreach { r =>
        val k = (r.getString(0), r.getBoolean(1))
        assert(cells(k) == ((r.getLong(2), r.getLong(3), r.getLong(4))),
          s"$k: streamed ${cells(k)} diverges from batch")
      }
    } finally q.stop()
  }

  test("stream_pair_counts: live merge-candidate counters equal the batch pair table; round-1 merge matches") {
    val s = spark
    import s.implicits._
    val docs = graft.engine.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text"))
      .as[Streams.LangDoc].collect().sortBy(_.doc_id)
    val third = docs.length / 3
    def pairMass(sl: Seq[Streams.LangDoc]): Long = sl.iterator
      .flatMap(_.text.split(" "))
      .filter(_.length >= 2).map(_.length.toLong - 1L).sum
    val mem = MemoryStream[Streams.LangDoc](73, spark, None)
    val q = Streams.pairCounts(mem.toDS()).writeStream.format("memory")
      .queryName("t_pairs").outputMode("complete").start()
    try {
      var mass = 0L
      Seq(docs.take(third), docs.slice(third, 2 * third), docs.drop(2 * third))
        .foreach { sl =>
          mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable()
          mass += pairMass(sl.toIndexedSeq)
          // mid-replay conservation: every adjacent char pair seen so
          // far is counted exactly once
          assert(spark.table("t_pairs").agg(sum("cnt"))
            .collect()(0).getLong(0) == mass,
            "pair mass not conserved mid-replay")
        }
      val streamed = spark.table("t_pairs").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // batch parity: the word-frequency formulation (words -> f,
      // then sum f per pair) telescopes to per-occurrence counting
      val batch = graft.engine.Tables.documents(spark, sf)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy("word").agg(count(lit(1)).as("f"))
        .select(explode(expr(
          "transform(sequence(1, length(word)-1), i -> substring(word, i, 2))"))
          .as("pair"), col("f"))
        .groupBy("pair").agg(sum(col("f")).as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed == batch, "streamed pair table diverges from batch")
      // the crowned round-1 merge an online trainer would apply next
      // equals the batch trainer's
      val top = streamed.toSeq.sortBy { case (p, c) => (-c, p) }.head
      val bpe1 = engine.Registry.byName("tokenizer_bpe_merges")
        .build(spark, sf).orderBy("round").collect()(0)
      // the stream counts raw char bigrams ("er"); the trainer's
      // pair column is symbol-spaced ("e r") — compare the merged
      // token and the exact count
      assert(top._1 == bpe1.getAs[String]("merged") &&
        top._2 == bpe1.getAs[Long]("cnt"),
        "round-1 crowned merge diverges from the batch trainer")
    } finally q.stop()
  }

  test("stream_bpe_apply: frozen-vocab encode panel recomposes batch tokenizer_apply_k after replay; planted OOV falls back to chars") {
    val s = spark
    import s.implicits._
    // the vocab is trained OFFLINE (sink_bpe_history round K) and
    // frozen — the deployment shape the panel exists for
    val vocab = graft.queries.CorpusOps.bpeHistory(spark, sf)
      .filter(col("round") === graft.queries.CorpusOps.BpeTrainK)
      .select("word", "sym").localCheckpoint(true)
    val docs = graft.engine.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text"))
      .as[Streams.LangDoc].collect().sortBy(_.doc_id)
    val third = docs.length / 3
    def charMass(sl: Seq[Streams.LangDoc]): Long = sl.iterator
      .flatMap(_.text.split(" ")).filter(_.length >= 2)
      .map(_.length.toLong).sum
    val mem = MemoryStream[Streams.LangDoc](79, spark, None)
    val q = Streams.bpeApply(mem.toDS(), vocab).writeStream
      .format("memory").queryName("t_bpeapply")
      .outputMode("complete").start()
    try {
      var mass = 0L
      Seq(docs.take(third), docs.slice(third, 2 * third), docs.drop(2 * third))
        .foreach { sl =>
          mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable()
          mass += charMass(sl.toIndexedSeq)
          // mid-replay conservation: every encodable char seen so
          // far is accounted on the panel
          assert(spark.table("t_bpeapply").agg(sum("n_tokens_char"))
            .collect()(0).getLong(0) == mass,
            "char mass not conserved mid-replay")
        }
      val cells = spark.table("t_bpeapply").collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      // replaying the training corpus: zero OOV by construction
      assert(cells.values.forall(_._2 == 0L), "OOV on in-vocab replay")
      // batch parity: per-lang char and BPE token totals equal
      // tokenizer_apply_k's weighted rollup exactly
      val batch = engine.Registry.byName("tokenizer_apply_k")
        .build(spark, sf).collect()
      assert(batch.length == cells.size, "lang grid diverges")
      batch.foreach { r =>
        val (_, _, ch, tk) = cells(r.getString(0))
        assert(ch == r.getLong(2) && tk == r.getLong(3),
          s"${r.getString(0)}: streamed ($ch, $tk) diverges from batch " +
            s"(${r.getLong(2)}, ${r.getLong(3)})")
      }
      // planted OOV: a novel word encodes as its character spelling
      // (zero merges apply) and lands on the OOV counter
      val novel = Streams.LangDoc(999999L, "xx", "zqzzqv zzqvq")
      mem.addData(novel); q.processAllAvailable()
      val xx = spark.table("t_bpeapply").collect()
        .find(_.getString(0) == "xx").get
      assert(xx.getLong(1) == 2L && xx.getLong(2) == 2L,
        "planted OOV words not counted")
      assert(xx.getLong(4) == 11L,
        "OOV fallback must token-split to characters (6 + 5)")
    } finally q.stop()
  }

  test("stream_srm running arm counts match batch ab_test_srm cells and GOF after replay") {
    val s = spark
    import s.implicits._
    val all = graft.engine.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Streams.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val third = all.length / 3
    val mem = MemoryStream[Streams.Event](53, spark, None)
    val q = Streams.srm(mem.toDS()).writeStream.format("memory")
      .queryName("t_srm").outputMode("complete").start()
    try {
      Seq(all.take(third), all.slice(third, 2 * third), all.drop(2 * third))
        .foreach { sl => mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable() }
      val cells = spark.table("t_srm").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = graft.engine.Registry.byName("ab_test_srm")
        .build(spark, sf).collect()(0)
      assert(cells(0L) == batch.getLong(0) && cells(1L) == batch.getLong(1) &&
        cells(2L) == batch.getLong(2),
        s"streamed arm counts $cells diverge from batch")
      // the GOF verdict recomposes from the emitted integers exactly
      // as the batch edge expression
      val nn = cells.values.sum.toDouble
      def r4(x: Double) = BigDecimal(x).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      val chi = r4(Seq(0L, 1L, 2L).map { v =>
        val e = nn / 3.0; val d = cells(v) - e; d * d / e
      }.sum)
      assert(chi == batch.getDouble(3),
        s"GOF from streamed cells $chi != batch ${batch.getDouble(3)}")
    } finally q.stop()
  }

  test("stream_code_route panel equals the batch router report after replay") {
    val s = spark
    import s.implicits._
    val all = graft.engine.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
      .as[Streams.SourceDoc].collect().sortBy(_.doc_id)
    val half = all.length / 2
    val mem = MemoryStream[Streams.SourceDoc](61, spark, None)
    val q = Streams.codeRoute(mem.toDS()).writeStream.format("memory")
      .queryName("t_route").outputMode("complete").start()
    try {
      mem.addData(all.take(half).toIndexedSeq: _*); q.processAllAvailable()
      // mid-stream the panel accounts for every doc seen so far
      assert(spark.table("t_route").agg(sum("n_docs"))
        .collect()(0).getLong(0) == half.toLong)
      mem.addData(all.drop(half).toIndexedSeq: _*); q.processAllAvailable()
      val panel = spark.table("t_route").collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val batch = graft.engine.Registry.byName("text_code_detect")
        .build(spark, sf).collect()
      assert(batch.length == panel.size)
      batch.foreach { b =>
        val (nd, nc, kw, sy) = panel(b.getString(0))
        assert(b.getLong(1) == nd && b.getLong(2) == nc &&
          b.getLong(3) == kw && b.getLong(4) == sy,
          s"${b.getString(0)}: panel diverges from batch")
        // the routing rate recomposes from the emitted integers
        assert(b.getLong(5) == nc * 10000 / nd)
      }
    } finally q.stop()
  }

  test("stream_interval_merge emits exactly the batch islands minus each user's open one") {
    val s = spark
    import s.implicits._
    val all = graft.engine.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Streams.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val third = all.length / 3
    val mem = MemoryStream[Streams.Event](59, spark, None)
    val q = Streams.intervalMerge(mem.toDS()).writeStream.format("memory")
      .queryName("t_islands").outputMode("append").start()
    try {
      var lastCount = 0L
      Seq(all.take(third), all.slice(third, 2 * third), all.drop(2 * third))
        .foreach { sl =>
          mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable()
          // append mode: emitted islands only ever accumulate
          val c = spark.table("t_islands").count()
          assert(c >= lastCount); lastCount = c
        }
      val streamed = spark.table("t_islands").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
      val batch = graft.engine.Registry.byName("interval_merge")
        .build(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
      // the stream can never close a user's LAST island (nothing
      // arrives after it) — emitted rows are exactly the batch table
      // minus each user's max island id
      val lastIsland = batch.groupBy(_._1).view.mapValues(_.map(_._2).max)
      val want = batch.filterNot(b => lastIsland(b._1) == b._2).toSet
      assert(streamed == want,
        s"streamed ${streamed.size} islands, want ${want.size}; " +
          s"diff ${(streamed diff want).take(3)} / ${(want diff streamed).take(3)}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("stream_power_mde moments recompose the batch MDE bit-for-bit after replay") {
    val s = spark
    import s.implicits._
    val all = graft.engine.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Streams.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val half = all.length / 2
    val mem = MemoryStream[Streams.Event](57, spark, None)
    val q = Streams.powerMoments(mem.toDS()).writeStream.format("memory")
      .queryName("t_power").outputMode("complete").start()
    try {
      mem.addData(all.take(half).toIndexedSeq: _*); q.processAllAvailable()
      // mid-stream the panel already carries valid moments (n > 0)
      assert(spark.table("t_power").collect().forall(_.getLong(1) > 0))
      mem.addData(all.drop(half).toIndexedSeq: _*); q.processAllAvailable()
      val m = spark.table("t_power").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      val (n1, _, _) = m(0L); val (n2, _, _) = m(1L)
      val n = n1 + n2
      val sv = m(0L)._2 + m(1L)._2
      val svv = m(0L)._3 + m(1L)._3
      // recompose the 80%-power MDE exactly as the batch edge does
      val s2p = (n * svv - sv * sv).toDouble / (n * (n - 1)).toDouble
      val mde = (1.96 + 0.8416) *
        math.sqrt(s2p * (1.0 / n1 + 1.0 / n2))
      def r4(x: Double) = BigDecimal(x).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      val batch = graft.engine.Registry.byName("ab_power_mde")
        .build(spark, sf).orderBy("power_pct").collect()
      assert(batch(0).getLong(1) == n1 && batch(0).getLong(2) == n2,
        "streamed arm sizes diverge from batch")
      assert(batch(0).getDouble(5) == r4(mde),
        s"MDE from streamed moments ${r4(mde)} != batch ${batch(0).getDouble(5)}")
    } finally q.stop()
  }

  test("stream_target_encode panel recomposes batch feat_target_encode encodings after replay") {
    val s = spark
    import s.implicits._
    val all = graft.engine.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Streams.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val third = all.length / 3
    val mem = MemoryStream[Streams.Event](58, spark, None)
    val q = Streams.targetEncodeMoments(mem.toDS()).writeStream
      .format("memory").queryName("t_tenc").outputMode("complete").start()
    try {
      var seen = 0L
      Seq(all.take(third), all.slice(third, 2 * third), all.drop(2 * third))
        .foreach { sl =>
          mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable()
          seen += sl.length
          // conservation at every batch boundary: the panel accounts
          // for every event seen so far, split-exactly
          val p = spark.table("t_tenc")
            .agg(sum(col("n_train") + col("n_val"))).collect()(0).getLong(0)
          assert(p == seen, s"panel covers $p of $seen events")
        }
      val panel = spark.table("t_tenc").collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      // prior recomposes from the emitted integers alone
      val gs = panel.values.map(_._2).sum
      val gn = panel.values.map(_._1).sum
      def r4(x: Double) = BigDecimal(x).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      val batch = graft.engine.Registry.byName("feat_target_encode")
        .build(spark, sf).collect()
      assert(batch.length == panel.size)
      batch.foreach { b =>
        val (nt, st, nv, sv) = panel(b.getString(0))
        assert(b.getLong(1) == nt && b.getLong(2) == nv,
          s"${b.getString(0)} split sizes diverge")
        val enc = (st + 20.0 * (gs.toDouble / gn)) / (nt + 20.0)
        assert(b.getDouble(3) == r4(enc),
          s"${b.getString(0)} enc ${r4(enc)} != batch ${b.getDouble(3)}")
        if (nv > 0) assert(b.getDouble(4) == r4(sv.toDouble / nv))
      }
    } finally q.stop()
  }

  test("stream_bootstrap resample means converge to batch ab_bootstrap_ci's CI on replay") {
    val s = spark
    import s.implicits._
    val all = graft.engine.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Streams.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val third = all.length / 3
    val mem = MemoryStream[Streams.Event](59, spark, None)
    val q = Streams.bootstrapMeans(mem.toDS()).writeStream.format("memory")
      .queryName("t_boot").outputMode("complete").start()
    try {
      var nPurch = 0L
      Seq(all.take(third), all.slice(third, 2 * third), all.drop(2 * third))
        .foreach { sl =>
          mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable()
          nPurch += sl.count(_.event_type == "purchase")
          // mid-replay the panel is live: 64 resamples, each with
          // Poisson mass ~ the purchases seen so far
          val t = spark.table("t_boot").collect()
          assert(t.length == 64)
          val masses = t.map(_.getLong(2))
          // Poisson(1) total mass has sd = sqrt(n); the max of 64
          // draws sits within ~4 sigma, so bound at 5 sigma + slack
          val tol = 5.0 * math.sqrt(math.max(nPurch, 1L).toDouble) + 5
          assert(masses.forall(m => math.abs(m - nPurch) < tol),
            s"resample mass far from n=$nPurch (tol $tol): " +
              s"${masses.min}..${masses.max}")
        }
      val streamed = spark.table("t_boot").collect()
        .map(r => (r.getLong(0), r.getLong(3))).sortBy(_._1)
      // the batch CI endpoints ARE order statistics of these means
      val ms = streamed.map(_._2).sorted
      val batch = graft.engine.Registry.byName("ab_bootstrap_ci")
        .build(spark, sf).collect()(0)
      assert(batch.getLong(3) == ms(3),
        s"streamed 4th order stat ${ms(3)} != batch ci_lo ${batch.getLong(3)}")
      assert(batch.getLong(4) == ms(60),
        s"streamed 61st order stat ${ms(60)} != batch ci_hi ${batch.getLong(4)}")
    } finally q.stop()
  }

  test("stream_holt equals batch ts_holt_linear on finalized days under ordered replay") {
    val s = spark
    import s.implicits._
    val all = graft.engine.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Streams.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val slices = Seq(all.take(300), all.slice(300, 900), all.drop(900))
    val mem = MemoryStream[Streams.Event](29, spark, None)
    val q = Streams.holt(mem.toDS()).writeStream.format("memory")
      .queryName("t_holt").outputMode("append").start()
    try {
      slices.foreach { sl => mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable() }
      val streamed = spark.table("t_holt")
        .select(col("event_type"), col("day"), col("n"),
          col("level_micro"), col("trend_micro"), col("forecast_micro"))
      // batch truth restricted to days the stream has FINALIZED (per
      // type, strictly before the last seen day — the ewma contract)
      val lastDay = all.groupBy(_.event_type).map { case (t, es) =>
        t -> java.time.LocalDate.ofEpochDay(
          Math.floorDiv(es.map(_.ts.getTime).max, 86400000L)).toString
      }.toSeq.toDF("event_type", "last_day")
      val batch = graft.engine.Registry.byName("ts_holt_linear")
        .build(spark, sf)
        .join(lastDay, "event_type")
        .filter(col("day") < col("last_day"))
        .select(col("event_type"), col("day"), col("n"),
          col("level_micro"), col("trend_micro"), col("forecast_micro"))
      assert(batch.exceptAll(streamed).isEmpty &&
        streamed.exceptAll(batch).isEmpty,
        "stream/batch holt mismatch")
      assert(streamed.count() > 0, "vacuous: nothing emitted")
      // the negative-trend floor-division path is exercised in-stream
      assert(streamed.filter(col("trend_micro") < 0).count() > 0,
        "fixture never drives the trend negative")
    } finally q.stop()
  }

  test("stream_holt_winters equals batch ts_holt_winters on finalized days under ordered replay") {
    val s = spark
    import s.implicits._
    val all = graft.engine.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Streams.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val slices = Seq(all.take(300), all.slice(300, 900), all.drop(900))
    val mem = MemoryStream[Streams.Event](47, spark, None)
    val q = Streams.holtWinters(mem.toDS()).writeStream.format("memory")
      .queryName("t_hw").outputMode("append").start()
    try {
      slices.foreach { sl => mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable() }
      val streamed = spark.table("t_hw")
        .select(col("event_type"), col("day"), col("n"),
          col("level_micro"), col("trend_micro"), col("seasonal_micro"),
          col("forecast_micro"))
      val lastDay = all.groupBy(_.event_type).map { case (t, es) =>
        t -> java.time.LocalDate.ofEpochDay(
          Math.floorDiv(es.map(_.ts.getTime).max, 86400000L)).toString
      }.toSeq.toDF("event_type", "last_day")
      val batch = graft.engine.Registry.byName("ts_holt_winters")
        .build(spark, sf)
        .join(lastDay, "event_type")
        .filter(col("day") < col("last_day"))
        .select(col("event_type"), col("day"), col("n"),
          col("level_micro"), col("trend_micro"), col("seasonal_micro"),
          col("forecast_micro"))
      assert(batch.exceptAll(streamed).isEmpty &&
        streamed.exceptAll(batch).isEmpty,
        "stream/batch holt-winters mismatch")
      assert(streamed.count() > 0, "vacuous: nothing emitted")
      // the seasonal window actually develops live
      assert(streamed.filter(col("seasonal_micro") =!= 0).count() > 0,
        "fixture never develops a seasonal component in-stream")
    } finally q.stop()
  }

  test("stream_delay_board equals batch delay_board under ordered replay") {
    val s = spark
    import s.implicits._
    // the batch flagship's own fixture replayed as the polling feed,
    // in request-time order (the reference polls chronologically)
    val pas = graft.queries.TransitOps.boardPassagesDf(spark)
      .collect().map(r => Streams.Passage(
        r.getAs[String]("station_id"), r.getAs[String]("num"),
        r.getAs[String]("miss"), r.getAs[String]("term"),
        r.getAs[Timestamp]("expected_ts"), r.getAs[String]("mode"),
        r.getAs[String]("etat"), r.getAs[String]("request_day"),
        r.getAs[String]("request_time"), r.getAs[String]("day_train_num")))
      .sortBy(p => (p.request_day, p.request_time))
    val sched = graft.queries.TransitOps.boardScheduleDf(spark)
      .localCheckpoint(true) // static dim: plan once, not per micro-batch
    // slice boundaries chosen so the late train's cycles SPAN batches:
    // [.., 11:50 T] | [11:55 R delay 180] | [12:00 R delay 300,
    // 134683, 12:05 no-news re-poll] | [rest]
    val slices = Seq(pas.take(5), pas.slice(5, 6), pas.slice(6, 9), pas.drop(9))
    val mem = MemoryStream[Streams.Passage](25, spark, None)
    val q = Streams.delayBoard(mem.toDS(), sched).writeStream
      .format("memory").queryName("t_delay_board")
      .outputMode("update").start()
    try {
      slices.foreach { sl => mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable() }
      // final board = the latest update per (station, day_train_num)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("station_id", "day_train_num")
        .orderBy(col("request_time").desc)
      val boardCols = Seq("station_id", "num", "miss", "term", "trip_id",
        "expected_ts", "scheduled_ts", "delay_sec", "delay_min", "cancelled")
      val streamed = spark.table("t_delay_board")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(boardCols.map(col): _*)
      val batch = graft.engine.Registry.byName("delay_board")
        .build(spark, sf).select(boardCols.map(col): _*)
      assert(batch.exceptAll(streamed).isEmpty &&
        streamed.exceptAll(batch).isEmpty,
        "stream/batch delay-board mismatch")
      assert(streamed.count() == 5, "the 5 matched R-trains must board")
      // exactly 6 updates: the late train emitted twice (delay 180 at
      // 11:55, then 300 at 12:00) and each other matched train once —
      // the 12:05 no-news re-poll proven SILENT (7 would mean it leaked)
      val emitted = spark.table("t_delay_board").count()
      assert(emitted == 6,
        s"expected 6 incremental updates (no-news re-poll silent), got $emitted")
    } finally q.stop()
  }

  test("stream_heavy_hitters: state equals a sequential MG fold; MG invariants hold") {
    val s = spark
    import s.implicits._
    val k = 3 // < |event_types|, so the decrement branch genuinely runs
    val all = graft.engine.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Streams.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val slices = Seq(all.take(200), all.slice(200, 700), all.drop(700))
    val mem = MemoryStream[Streams.Event](26, spark, None)
    val q = Streams.heavyHitters(mem.toDS(), k).writeStream.format("memory")
      .queryName("t_hh").outputMode("update").start()
    try {
      slices.foreach { sl => mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable() }
      val rows = spark.table("t_hh").collect()
      val latestSeen = rows.map(_.getAs[Long]("n_seen")).max
      assert(latestSeen == all.length.toLong, "every event must be folded")
      val streamed = rows.filter(_.getAs[Long]("n_seen") == latestSeen)
        .map(r => r.getAs[String]("term") -> r.getAs[Long]("est")).toMap
      // 1) BIT-EQUAL to the sequential fold of the batch aggregator's
      // own reduce step over the same ordered stream — micro-batch
      // slicing must not change the fold
      val mg = new graft.functions.MisraGries(k)
      val expected = all.foldLeft(Map.empty[String, Long])(
        (m, e) => mg.reduce(m, e.event_type))
      assert(streamed == expected,
        s"stream state $streamed != sequential fold $expected")
      // 2) the mergeable-summaries invariants vs exact counts
      val exact = all.groupBy(_.event_type).view.mapValues(_.length.toLong).toMap
      val n = all.length.toLong
      assert(streamed.size <= k, "capacity exceeded")
      streamed.foreach { case (t, est) =>
        assert(est <= exact(t), s"$t overcounted")
        assert((exact(t) - est) * (k + 1) <= n, s"$t error bound broken")
      }
      exact.foreach { case (t, freq) =>
        if (freq * (k + 1) > n)
          assert(streamed.contains(t), s"heavy hitter $t missing")
      }
      // 3) per-batch emission is the O(k) summary, not per-event
      assert(rows.length <= slices.length * k)
    } finally q.stop()
  }

  test("stream_attribution equals batch attribution_last_touch under ordered replay") {
    val s = spark
    import s.implicits._
    val all = graft.engine.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Streams.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    // fixture property (not a fold precondition since r8 — same-ts
    // touch/purchase ties are handled by the touches-first sort key;
    // the dedicated tie test below exercises them synthetically)
    assert(all.groupBy(e => (e.user_id, e.ts.getTime))
      .forall(_._2.size == 1), "fixture property: unique per-user ts")
    val slices = Seq(all.take(350), all.slice(350, 700), all.drop(700))
    val mem = MemoryStream[Streams.Event](27, spark, None)
    val q = Streams.attribution(mem.toDS()).writeStream.format("memory")
      .queryName("t_attr").outputMode("append").start()
    try {
      slices.foreach { sl => mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable() }
      // every purchase emits exactly once; the channel rollup must
      // equal the batch operator's output bit-for-bit
      val streamed = spark.table("t_attr")
        .groupBy("channel")
        .agg(count(lit(1)).as("n_purchases"),
          graft.engine.Dsl.sumDec2(col("value")).cast("double").as("revenue"))
      val batch = graft.engine.Registry.byName("attribution_last_touch")
        .build(spark, sf)
      assert(batch.exceptAll(streamed).isEmpty &&
        streamed.exceptAll(batch).isEmpty,
        "stream/batch attribution mismatch")
      val nPurchases = all.count(_.event_type == "purchase").toLong
      assert(spark.table("t_attr").count() == nPurchases,
        "each purchase must emit exactly one attribution row")
    } finally q.stop()
  }

  test("stream_attribution credits a same-instant touch despite purchase-first event_id order") {
    val s = spark
    import s.implicits._
    // purchase event_id (10) < touch event_id (11) at the SAME ts:
    // a plain (ts, event_id) fold replays the purchase first and
    // drops the batch rule's inclusive t_ts <= p_ts touch; the
    // touches-before-purchases sort key must credit it. Second user
    // checks the same-instant view/click tie keeps max-on-type.
    val t0 = ts(30)
    val tie = Seq(
      Event(10, t0, 7, "purchase", 9.0),
      Event(11, t0, 7, "click", 0.0),
      Event(20, t0, 8, "click", 0.0),
      Event(21, t0, 8, "view", 0.0),
      Event(22, t0, 8, "purchase", 5.0))
    val mem = MemoryStream[Event](29, spark, None)
    val q = Streams.attribution(mem.toDS()).writeStream.format("memory")
      .queryName("t_attr_tie").outputMode("append").start()
    try {
      mem.addData(tie: _*); q.processAllAvailable()
      val got = spark.table("t_attr_tie")
        .select("user_id", "channel").as[(Long, String)].collect().toMap
      assert(got(7L) == "click", s"same-instant touch dropped: $got")
      assert(got(8L) == "view", s"max-on-type tie broken: $got")
    } finally q.stop()
  }

  test("stream_quarantine routes the batch fixture's lines identically, per micro-batch") {
    val s = spark
    import s.implicits._
    // the SAME planted lines the batch source_quarantine fixture
    // ships, fed as two micro-batches with a bad line mid-batch —
    // the stream must neither die at it nor drop it
    graft.queries.SourceOps.writeFixture(graft.queries.SourceOps.QuarantineFixtureDir,
      graft.queries.SourceOps.QuarantineDocuments)
    val lines = Seq(
      """{"page":1,"station":"87393009","num":"134657","delay_min":12}""",
      """{"page":2,"station":"87393009","num":"134659","delay_min":0}""",
      """{"page":3,"station":"87758011","num":"221006"""",
      """{"page":4,"station":"87758011","num":"165435","delay_min":3}""",
      "garbage line not json",
      """{"page":5,"station":"87384008","num":"134683","delay_min":7}""",
      """{"page":6,"statio""")
    val mem = MemoryStream[String](33, spark, None)
    val q = Streams.quarantine(mem.toDF().withColumnRenamed("value", "line"))
      .writeStream.format("memory").queryName("t_quar")
      .outputMode("append").start()
    try {
      mem.addData(lines.take(4): _*); q.processAllAvailable()
      val afterB1 = spark.table("t_quar")
        .groupBy("kind").count().as[(String, Long)].collect().toMap
      assert(afterB1 == Map("ok" -> 3L, "quarantine" -> 1L),
        s"batch 1 routing wrong: $afterB1")
      mem.addData(lines.drop(4): _*); q.processAllAvailable()
      val out = spark.table("t_quar")
      assert(out.count() == 7, "a line vanished or duplicated")
      // routed set equals the batch operator's on the same fixture
      val batch = graft.engine.Registry.byName("source_quarantine")
        .build(spark, sf)
      assert(batch.exceptAll(out).isEmpty && out.exceptAll(batch).isEmpty,
        "stream/batch quarantine routing mismatch")
    } finally q.stop()
  }

  test("stream_dedup_near equals batch dedup_near and emits pairs incrementally") {
    val s = spark
    import s.implicits._
    val docs = graft.engine.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[Streams.Doc]
      .collect().sortBy(_.doc_id)
    val third = docs.length / 3
    val slices = Seq(docs.take(third), docs.slice(third, 2 * third),
      docs.drop(2 * third))
    val mem = MemoryStream[Streams.Doc](31, spark, None)
    val q = Streams.dedupNear(mem.toDS(), 0.5).writeStream.format("memory")
      .queryName("t_ndn").outputMode("append").start()
    try {
      val perBatch = slices.map { sl =>
        mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable()
        spark.table("t_ndn").distinct().count()
      }
      // 1) final distinct pair set ≡ the batch LSH pipeline's output
      // (signatures are bit-identical by construction; the exact-
      // Jaccard verify is hash-family-independent anyway)
      val streamed = spark.table("t_ndn").distinct()
      val batch = graft.engine.Registry.byName("dedup_near").build(spark, sf)
      assert(batch.exceptAll(streamed).isEmpty &&
        streamed.exceptAll(batch).isEmpty,
        "stream/batch near-dup pair set mismatch")
      assert(streamed.count() > 0, "vacuous fixture: no near-dup pairs")
      // 2) genuinely incremental: pairs surface as their second member
      // arrives, across micro-batch boundaries — not all at the end
      assert(perBatch.last == streamed.count())
      assert(perBatch.exists(n => n > 0 && n < perBatch.last),
        s"no incremental emission observed: $perBatch")
    } finally q.stop()
  }

  test("stream_threshold_curve equals the batch pair counts per cutoff on replay") {
    val s = spark
    import s.implicits._
    val docs = graft.engine.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[Streams.Doc]
      .collect().sortBy(_.doc_id)
    val third = docs.length / 3
    val slices = Seq(docs.take(third), docs.slice(third, 2 * third),
      docs.drop(2 * third))
    // thresholds ≥ the dedup tau: the curve measures the pair space
    // the index actually emits (batch emb_threshold_curve's grid from
    // its floor up)
    val thresholds = Seq(5000, 7500, 9000, 9500)
    val mem = MemoryStream[Streams.Doc](33, spark, None)
    val q = Streams.thresholdCurve(Streams.dedupNear(mem.toDS(), 0.5), thresholds)
      .writeStream.format("memory").queryName("t_curve")
      .outputMode("append").start()
    try {
      val perBatch = slices.map { sl =>
        mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable()
        spark.table("t_curve").count()
      }
      // running counts are monotone; the live curve is the last emit
      // per threshold = max(n_pairs)
      val streamed = spark.table("t_curve").groupBy("thr_bp")
        .agg(max("n_pairs").as("n_pairs"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      // batch truth: distinct verified pairs from the batch LSH
      // pipeline (stream ≡ batch pair set is pinned by the
      // stream_dedup_near test), counted at each cutoff
      val batchPairs = graft.engine.Registry.byName("dedup_near")
        .build(spark, sf).select("id1", "id2", "jac").distinct()
        .collect().map(r => r.getDouble(2))
      val expected = thresholds
        .map(t => t -> batchPairs.count(_ >= t.toDouble / 10000.0).toLong)
        .toMap
      assert(streamed == expected,
        s"stream curve $streamed != batch curve $expected")
      assert(expected.values.max > 0, "vacuous fixture: empty curve")
      // incrementally live: curve rows surfaced before the last batch
      assert(perBatch.exists(n => n > 0 && n < perBatch.last),
        s"no incremental curve emission: $perBatch")
    } finally q.stop()
  }

  test("stream_trend equals the batch OLS fit over closed days under ordered replay") {
    val s = spark
    import s.implicits._
    val all = graft.engine.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Streams.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val slices = Seq(all.take(300), all.slice(300, 800), all.drop(800))
    val mem = MemoryStream[Streams.Event](28, spark, None)
    val q = Streams.trend(mem.toDS()).writeStream.format("memory")
      .queryName("t_trend").outputMode("append").start()
    try {
      slices.foreach { sl => mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable() }
      // last emission per type = fit after its final CLOSED day; the
      // batch referee recomputes the same exact integer moments over
      // every day but the still-open last one and composes the same
      // two divisions
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("day_closed").desc)
      val streamed = spark.table("t_trend")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("event_type", "n_days", "slope", "intercept").collect()
        .map(r => r.getAs[String]("event_type") ->
          (r.getAs[Long]("n_days"), r.getAs[Double]("slope"),
            r.getAs[Double]("intercept"))).toMap
      val daily = graft.engine.Tables.loadEvents(spark, sf)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y"))
      val last = daily.groupBy("event_type").agg(max(col("day")).as("lastd"))
      val closed = daily.join(last, "event_type").filter(col("day") < col("lastd"))
      val d0 = closed.groupBy("event_type").agg(min(col("day")).as("d0"))
      val m = closed.join(d0, "event_type")
        .withColumn("x", datediff(col("day"), col("d0")).cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx")).collect()
      m.foreach { r =>
        val (n, sx, sy, sxy, sxx) = (r.getAs[Long]("n"), r.getAs[Long]("sx"),
          r.getAs[Long]("sy"), r.getAs[Long]("sxy"), r.getAs[Long]("sxx"))
        val den = n * sxx - sx * sx
        if (den != 0) {
          val slope = (n * sxy - sx * sy).toDouble / den.toDouble
          val icept = (sy.toDouble - slope * sx.toDouble) / n.toDouble
          val (sn, ss, si) = streamed(r.getAs[String]("event_type"))
          assert(sn == n, s"n_days mismatch for ${r.get(0)}")
          assert(ss == slope && si == icept,
            s"stream/batch fit mismatch for ${r.get(0)}: $ss/$si vs $slope/$icept")
        }
      }
      assert(streamed.nonEmpty, "vacuous: nothing emitted")
    } finally q.stop()
  }

  test("stream_coverage equals batch interval_coverage totals under ordered replay") {
    val s = spark
    import s.implicits._
    val all = graft.engine.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Streams.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val slices = Seq(all.take(400), all.slice(400, 900), all.drop(900))
    val mem = MemoryStream[Streams.Event](29, spark, None)
    val q = Streams.coverage(mem.toDS()).writeStream.format("memory")
      .queryName("t_cover").outputMode("update").start()
    try {
      slices.foreach { sl => mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable() }
      // memory sink in update mode appends each emission — keep the
      // final state per user (max n_intervals is monotone)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("n_intervals").desc)
      val streamed = spark.table("t_cover")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("user_id", "n_intervals", "covered_sec")
      val batch = graft.engine.Registry.byName("interval_coverage")
        .build(spark, sf)
        .select("user_id", "n_intervals", "covered_sec")
      assert(batch.exceptAll(streamed).isEmpty &&
        streamed.exceptAll(batch).isEmpty,
        "stream/batch covered-time mismatch")
      assert(streamed.count() > 0)
    } finally q.stop()
  }

  test("stream_psi: snapshot differencing recomposes batch dq_drift_psi exactly") {
    val sess = spark
    import sess.implicits._
    val all = graft.engine.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Streams.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    // the batch op's reference window: before the temporal midpoint
    val us = all.map(_.ts.getTime * 1000L)
    val mid = (us.min + us.max) / 2L
    val (ref, cur) = all.partition(e => e.ts.getTime * 1000L < mid)
    val mem = MemoryStream[Streams.Event](61, spark, None)
    val q = Streams.psiCounts(mem.toDS()).writeStream.format("memory")
      .queryName("t_psi").outputMode("complete").start()
    try {
      def snapshot(): Map[(String, Long), Long] =
        spark.table("t_psi").collect()
          .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      mem.addData(ref.toIndexedSeq: _*); q.processAllAvailable()
      val refSnap = snapshot()
      assert(refSnap.values.sum == ref.length.toLong,
        "reference snapshot loses events")
      mem.addData(cur.toIndexedSeq: _*); q.processAllAvailable()
      val cumSnap = snapshot()
      assert(cumSnap.values.sum == all.length.toLong,
        "cumulative panel loses events")
      // live-PSI identity: current window = cumulative − baseline
      val curSnap = cumSnap.map { case (k, v) =>
        k -> (v - refSnap.getOrElse(k, 0L)) }
      val batch = graft.engine.Registry.byName("dq_drift_psi")
        .build(spark, sf).collect()
      batch.foreach { r =>
        val k = (r.getString(0), r.getLong(1))
        assert(refSnap.getOrElse(k, 0L) == r.getLong(2),
          s"$k n_ref diverges")
        assert(curSnap.getOrElse(k, 0L) == r.getLong(3),
          s"$k n_cur diverges")
      }
      // the smoothed, floored PSI recomposes from the two integer
      // tables exactly as the batch edge expression
      batch.groupBy(_.getString(0)).foreach { case (feed, rows) =>
        val tr = rows.map(_.getLong(2)).sum
        val tc = rows.map(_.getLong(3)).sum
        val contribs = rows.sortBy(_.getLong(1)).map { r =>
          val (nr, nc) = (r.getLong(2), r.getLong(3))
          math.floor(((nr + 1).toDouble / (tr + 10) -
            (nc + 1).toDouble / (tc + 10)) *
            math.log(((nr + 1) * (tc + 10)).toDouble /
              ((nc + 1) * (tr + 10))) * 1e6).toLong
        }
        rows.sortBy(_.getLong(1)).zip(contribs).foreach { case (r, c) =>
          assert(r.getLong(6) == c, s"$feed bin ${r.getLong(1)} contrib") }
        assert(rows.head.getLong(7) == contribs.sum, s"$feed psi total")
      }
    } finally q.stop()
  }

  test("stream_cusum: daily counters recompose batch ts_cusum's chart and alarms after replay") {
    val sess = spark
    import sess.implicits._
    val all = graft.engine.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Streams.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val third = all.length / 3
    val mem = MemoryStream[Streams.Event](62, spark, None)
    val q = Streams.cusumDaily(mem.toDS()).writeStream.format("memory")
      .queryName("t_cusum").outputMode("complete").start()
    try {
      var seen = 0L
      Seq(all.take(third), all.slice(third, 2 * third), all.drop(2 * third))
        .foreach { sl =>
          mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable()
          seen += sl.length
          val partial = spark.table("t_cusum")
          assert(partial.agg(sum("n")).collect()(0).getLong(0) == seen,
            "count mass not conserved mid-replay")
        }
      val cells = spark.table("t_cusum").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime) -> r.getLong(2))
        .toMap
      val batch = graft.engine.Registry.byName("ts_cusum")
        .build(spark, sf).collect()
      assert(batch.length == cells.size)
      // panel counters equal the batch daily rollup exactly
      batch.foreach { r =>
        val k = (r.getString(0), r.getTimestamp(1).getTime)
        assert(cells(k) == r.getLong(2), s"$k daily count diverges")
      }
      // the chart — mu, both closed-form CUSUMs, both alarms —
      // recomposes from the emitted counters exactly as the batch
      // edge expression
      batch.groupBy(_.getString(0)).foreach { case (feed, rows) =>
        val seq = rows.sortBy(_.getTimestamp(1).getTime)
        val ns = seq.map(r => cells((feed, r.getTimestamp(1).getTime)))
        val mu = ns.sum * 1000000L / ns.length
        val k = mu / 20L
        var sHi = 0L; var sLo = 0L
        seq.zip(ns).foreach { case (r, n) =>
          assert(r.getLong(3) == mu, s"$feed mu")
          sHi = math.max(0L, sHi + (n * 1000000L - mu - k))
          sLo = math.max(0L, sLo + (mu - k - n * 1000000L))
          assert(r.getLong(4) == sHi && r.getLong(5) == sLo,
            s"$feed chart cell diverges")
          assert(r.getBoolean(6) == (sHi > 2 * mu) &&
            r.getBoolean(7) == (sLo > 2 * mu), s"$feed alarm diverges")
        }
      }
    } finally q.stop()
  }
}
