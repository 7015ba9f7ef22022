package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._

/** Production-grade streaming concerns: the RocksDB state backend (the
  * 100 TB state store — bounded executor heap regardless of key count)
  * and checkpoint recovery (exactly-once across query restarts). */
class StreamingRobustnessSpec extends SparkSpec {

  test("stateful dedup runs on the RocksDB state store provider") {
    val sp = spark.newSession()
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val dir = Files.createTempDirectory("rocks-src").toString
    val ev = graft.engine.Tables.loadEvents(sp, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    ev.limit(200).write.parquet(s"$dir/s0")
    val stream = sp.readStream.schema(ev.schema).parquet(s"$dir/s*")
    val q = graft.streaming.Streams.dedup(stream)
      .writeStream.format("memory").queryName("rocks_dedup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(sp.table("rocks_dedup").count() == 200)
      // the running query really uses RocksDB: its state operator
      // reports rocksdb-specific custom metrics (the default HDFS
      // provider reports none of these)
      val metrics = q.lastProgress.stateOperators.head.customMetrics
      assert(metrics.keySet.asScala.exists(_.toLowerCase.contains("rocksdb")),
        s"no rocksdb metrics in ${metrics.keySet}")
    } finally q.stop()
  }

  test("multi-batch incremental processing: AvailableNow + maxFilesPerTrigger") {
    val src = Files.createTempDirectory("mb-src").toString
    val ev = graft.engine.Tables.loadEvents(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    ev.filter(col("event_id") < 300).write.parquet(s"$src/s0")
    ev.filter(col("event_id") >= 300 && col("event_id") < 600).write.parquet(s"$src/s1")
    ev.filter(col("event_id") >= 600).write.parquet(s"$src/s2")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "2") // force several micro-batches
      .parquet(s"$src/s*")
    val q = graft.streaming.Streams.tumbling(stream)
      .writeStream.format("memory").queryName("mb_tumb")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination() // AvailableNow stops itself when caught up
    assert(q.recentProgress.count(_.numInputRows > 0) > 1,
      "expected multiple non-empty micro-batches")
    // latest update per window must equal the batch aggregation even
    // though windows were updated incrementally across batches
    val streamed = spark.table("mb_tumb")
      .groupBy("bucket").agg(max("n_events").as("n"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    val batch = ev.groupBy(date_trunc("hour", col("ts")).as("b"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(streamed == batch, s"incremental != batch")
  }

  test("last_state recovers its keyed state from checkpoint across restart") {
    val s = spark
    import s.implicits._
    val src = Files.createTempDirectory("ls-src").toString
    val ckpt = Files.createTempDirectory("ls-ckpt").toString
    def ev(id: Long, t: String, u: Long) =
      graft.streaming.Streams.Event(id, java.sql.Timestamp.valueOf(t), u, "view", 1.0)
    Seq(ev(10, "2024-01-01 10:00:00", 1), ev(11, "2024-01-01 12:00:00", 1))
      .toDS().write.parquet(s"$src/slice0")
    val schema = implicitly[org.apache.spark.sql.Encoder[graft.streaming.Streams.Event]].schema
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def start() = graft.streaming.Streams.lastState(
        spark.readStream.schema(schema).parquet(s"$src/slice*")
          .as[graft.streaming.Streams.Event])
      .writeStream
      .foreachBatch((batch: org.apache.spark.sql.Dataset[graft.streaming.Streams.UserState], _: Long) =>
        batch.collect().foreach(r => emitted.add(r.user_id -> r.last_event_id)))
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()

    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    assert(emitted.asScala.toSeq.contains(1L -> 11L), s"got ${emitted.asScala}")
    emitted.clear()

    // while the query is down, an event arrives that is NEWER than the
    // watermark but OLDER than the checkpointed latest (12:00): only a
    // query that recovered its state can keep event 11 as the answer —
    // a state-less restart would emit event 5
    Seq(ev(5, "2024-01-01 11:30:00", 1)).toDS().write.parquet(s"$src/slice1")
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(emitted.asScala.toSeq == Seq(1L -> 11L),
        s"checkpointed state lost across restart: ${emitted.asScala}")
    } finally q2.stop()
  }

  test("stream_interval_merge recovers its open island from checkpoint across restart") {
    val s = spark
    import s.implicits._
    val src = Files.createTempDirectory("im-src").toString
    val ckpt = Files.createTempDirectory("im-ckpt").toString
    def ev(id: Long, t: String) =
      graft.streaming.Streams.Event(id, java.sql.Timestamp.valueOf(t), 7L, "view", 1.0)
    def sec(t: String) = java.sql.Timestamp.valueOf(t).getTime / 1000
    // slice0: island 1 (id=100 → 160 s) closed by the arrival of
    // island 2's opener (id=101 → 161 s, an hour later)
    Seq(ev(100, "2024-01-01 10:00:00"), ev(101, "2024-01-01 11:00:00"))
      .toDS().write.parquet(s"$src/slice0")
    val schema = implicitly[org.apache.spark.sql.Encoder[graft.streaming.Streams.Event]].schema
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long, Long)]()
    def start() = graft.streaming.Streams.intervalMerge(
        spark.readStream.schema(schema).parquet(s"$src/slice*")
          .as[graft.streaming.Streams.Event])
      .writeStream
      .foreachBatch((batch: org.apache.spark.sql.Dataset[graft.streaming.Streams.IslandRow], _: Long) =>
        batch.collect().foreach(r => emitted.add(
          (r.user_id, r.island_id, r.start_sec, r.end_sec, r.n_intervals))))
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    assert(emitted.asScala.toSeq ==
      Seq((7L, 1L, sec("2024-01-01 10:00:00"), sec("2024-01-01 10:00:00") + 160, 1L)),
      s"run 1 must emit exactly island 1: ${emitted.asScala}")
    emitted.clear()

    // while the query is down: an interval EXTENDING the open island 2
    // (starts inside it, id=1700 → 1760 s) and, much later, island 3's
    // opener which closes island 2. Only a query that recovered its
    // state emits island 2 with the PRE-RESTART start and island_id 2;
    // a state-less restart would call the extension a fresh island 1
    // starting at 11:02.
    Seq(ev(1700, "2024-01-01 11:02:00"), ev(50, "2024-01-01 13:00:00"))
      .toDS().write.parquet(s"$src/slice1")
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(emitted.asScala.toSeq ==
        Seq((7L, 2L, sec("2024-01-01 11:00:00"),
          sec("2024-01-01 11:02:00") + 1760, 2L)),
        s"open island lost across restart: ${emitted.asScala}")
    } finally q2.stop()
  }

  test("checkpoint recovery: a restarted query continues without reprocessing") {
    val src = Files.createTempDirectory("ckpt-src").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val out = Files.createTempDirectory("ckpt-out").toString + "/sink"
    val ev = graft.engine.Tables.loadEvents(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    ev.filter(col("event_id") < 300).write.parquet(s"$src/slice0")

    // file sink: exactly-once via the sink's own commit log, and the
    // only built-in sink that supports checkpoint recovery
    def start() = spark.readStream.schema(ev.schema).parquet(s"$src/slice*")
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(out).count() == 300)

    // new data lands while the query is down; restart from checkpoint
    ev.filter(col("event_id") >= 300 && col("event_id") < 500)
      .write.parquet(s"$src/slice1")
    val q2 = start()
    try {
      q2.processAllAvailable()
      val ids = spark.read.parquet(out).select("event_id")
        .collect().map(_.getLong(0)).sorted
      // recovered query appends ONLY the new slice: no duplicates from
      // reprocessing slice0, no gaps
      assert(ids.length == 500, s"got ${ids.length} rows")
      assert(ids.distinct.length == 500, "duplicates: slice0 was reprocessed")
      assert(ids.head == 0 && ids.last == 499)
    } finally q2.stop()
  }

  test("stream_delay_board converges to the batch board under SHUFFLED replay (disorder-tolerant fold)") {
    // unlike the day-bucketed monitors (ewma/calendar_gaps), the board
    // fold is latest-by-request_time over FULL state — an old cycle
    // arriving after a newer one is simply outvoted, so the final
    // state must equal batch under ANY arrival order, not just the
    // ordered-replay contract
    val s = spark
    import s.implicits._
    val pas0 = graft.queries.TransitOps.boardPassagesDf(spark)
      .collect().map(r => graft.streaming.Streams.Passage(
        r.getAs[String]("station_id"), r.getAs[String]("num"),
        r.getAs[String]("miss"), r.getAs[String]("term"),
        r.getAs[java.sql.Timestamp]("expected_ts"), r.getAs[String]("mode"),
        r.getAs[String]("etat"), r.getAs[String]("request_day"),
        r.getAs[String]("request_time"), r.getAs[String]("day_train_num")))
    // deterministic shuffle: hash order scrambles request-time order
    // (the 12:05 re-poll can land before the 11:55 cycle)
    val pas = pas0.sortBy(p => (p.request_time.hashCode * 2654435761L
      + p.num.hashCode).abs)
    val sched = graft.queries.TransitOps.boardScheduleDf(spark)
      .localCheckpoint(true)
    val slices = Seq(pas.take(3), pas.slice(3, 7), pas.drop(7))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.Streams.Passage](26, spark, None)
    val q = graft.streaming.Streams.delayBoard(mem.toDS(), sched)
      .writeStream.format("memory").queryName("t_board_shuffled")
      .outputMode("update").start()
    try {
      slices.foreach { sl => mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable() }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("station_id", "day_train_num")
        .orderBy(col("request_time").desc)
      val cols = Seq("station_id", "num", "miss", "term", "trip_id",
        "expected_ts", "scheduled_ts", "delay_sec", "delay_min", "cancelled")
      val streamed = spark.table("t_board_shuffled")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(cols.map(col): _*)
      val batch = graft.engine.Registry.byName("delay_board")
        .build(spark, sf).select(cols.map(col): _*)
      assert(batch.exceptAll(streamed).isEmpty &&
        streamed.exceptAll(batch).isEmpty,
        "shuffled-replay board diverged from batch")
      assert(streamed.count() == 5)
    } finally q.stop()
  }

  test("stream_heavy_hitters keeps the MG guarantees under SHUFFLED replay") {
    // the kept SET of a Misra-Gries instance is order-dependent (like
    // any MG), but the mergeable-summaries bounds are not — replay the
    // events in a deliberately non-chronological order (event_id mod 3,
    // then id) and assert the undercount / N/(k+1) / heavy-all-present
    // invariants still hold on the final state
    val s = spark
    import s.implicits._
    val k = 3
    val all = graft.engine.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[graft.streaming.Streams.Event].collect()
      .sortBy(e => (e.event_id % 3, e.event_id)) // shuffled vs event time
    val slices = Seq(all.take(137), all.slice(137, 611), all.drop(611))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.Streams.Event](91, spark, None)
    val q = graft.streaming.Streams.heavyHitters(mem.toDS(), k)
      .writeStream.format("memory").queryName("r_hh")
      .outputMode("update").start()
    try {
      slices.foreach { sl => mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable() }
      val rows = spark.table("r_hh").collect()
      val latest = rows.map(_.getAs[Long]("n_seen")).max
      assert(latest == all.length.toLong)
      val streamed = rows.filter(_.getAs[Long]("n_seen") == latest)
        .map(r => r.getAs[String]("term") -> r.getAs[Long]("est")).toMap
      val exact = all.groupBy(_.event_type).view.mapValues(_.length.toLong).toMap
      val n = all.length.toLong
      assert(streamed.size <= k)
      streamed.foreach { case (t, est) =>
        assert(est <= exact(t), s"$t overcounted under disorder")
        assert((exact(t) - est) * (k + 1) <= n, s"$t error bound broken under disorder")
      }
      exact.foreach { case (t, freq) =>
        if (freq * (k + 1) > n)
          assert(streamed.contains(t), s"heavy hitter $t missing under disorder")
      }
    } finally q.stop()
  }

  test("stream_dedup_near recovers its LSH bucket index from checkpoint across restart") {
    val s = spark
    import s.implicits._
    val src = Files.createTempDirectory("ndn-src").toString
    val ckpt = Files.createTempDirectory("ndn-ckpt").toString
    val docs = graft.engine.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .as[graft.streaming.Streams.Doc].collect().sortBy(_.doc_id)
    val half = docs.length / 2
    docs.take(half).toSeq.toDS().write.parquet(s"$src/slice0")
    val schema = implicitly[org.apache.spark.sql.Encoder[graft.streaming.Streams.Doc]].schema
    // memory sinks cannot recover a checkpoint; foreachBatch can (the
    // last_state recovery test's pattern)
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double)]()
    def start() = graft.streaming.Streams.dedupNear(
        spark.readStream.schema(schema).parquet(s"$src/slice*")
          .as[graft.streaming.Streams.Doc], 0.5)
      .writeStream
      .foreachBatch((batch: org.apache.spark.sql.Dataset[graft.streaming.Streams.NearPair], _: Long) =>
        batch.collect().foreach(p => emitted.add((p.id1, p.id2, p.jac))))
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = start()
    q1.processAllAvailable()
    q1.stop()

    // the second half arrives while the query is down: pairs whose
    // FIRST member landed before the restart can only emit if the
    // band-bucket index (the flatMapGroupsWithState state) survived
    // the checkpoint — a state-less restart would find empty buckets
    // and emit only second-half-internal pairs
    docs.drop(half).toSeq.toDS().write.parquet(s"$src/slice1")
    val q2 = start()
    try {
      q2.processAllAvailable()
      val streamed = emitted.asScala.toSeq.distinct
        .toDF("id1", "id2", "jac")
      val batch = graft.engine.Registry.byName("dedup_near").build(spark, sf)
      assert(batch.exceptAll(streamed).isEmpty &&
        streamed.exceptAll(batch).isEmpty,
        "bucket index lost across restart: pair set != batch")
      val boundary = docs(half).doc_id
      assert(streamed.filter(col("id1") < boundary && col("id2") >= boundary)
        .count() > 0,
        "fixture too weak: no pair crosses the restart boundary")
    } finally q2.stop()
  }

  test("stream_upsert_sink: kill + restart over the parquet store converges to batch last_state (no dup, no loss)") {
    // the durable serving path's restart contract (r9, VERDICT r8 #5):
    // the parquet-backed upsert store must survive a mid-stream kill —
    // data arriving while the query is DOWN merges on restart, nothing
    // is lost from before the kill, nothing double-applies after it,
    // and the final store equals the batch last_state twin exactly.
    val s = spark
    import s.implicits._
    val src = Files.createTempDirectory("upsink-src").toString
    val ckpt = Files.createTempDirectory("upsink-ckpt").toString
    val store = Files.createTempDirectory("upsink-store").toString + "/state"
    val ev = graft.engine.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("value"))
    val n = ev.count()
    // slice by event_id so the restart boundary cuts many users' key
    // histories in half — each such user's final state is only right
    // if pre-kill state survived AND post-restart merge applied
    val mid = n / 2
    ev.filter(col("event_id") <= mid).write.parquet(s"$src/slice0")
    val sink = new graft.streaming.ParquetUpsertSink(store)
    def start() = spark.readStream.schema(ev.schema).parquet(s"$src/slice*")
      .writeStream
      .foreachBatch((batch: org.apache.spark.sql.DataFrame, _: Long) =>
        sink.upsert(batch))
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()

    val q1 = start()
    q1.processAllAvailable()
    q1.stop() // the kill

    // second half lands while the query is down
    ev.filter(col("event_id") > mid).write.parquet(s"$src/slice1")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    def snapshot() = sink.state(spark).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("event_id"),
          r.getAs[Double]("value")))).toMap
    val batchTwin = graft.engine.Tables.loadEvents(spark, sf)
      .groupBy("user_id")
      .agg(max(struct(col("ts").cast("timestamp").as("t"),
        col("event_id").as("e"), col("value").as("v"))).as("s"))
      .collect()
      .map(r => r.getAs[Long]("user_id") -> {
        val st = r.getStruct(1)
        (st.getAs[java.sql.Timestamp]("t"), st.getAs[Long]("e"),
          st.getAs[Double]("v"))
      }).toMap
    val got = snapshot()
    assert(got == batchTwin,
      s"restarted store diverged from batch last_state (${got.size} vs ${batchTwin.size} keys)")
    // no dup: exactly one row per key in the store
    assert(sink.state(spark).count() == got.size.toLong)
    // non-vacuous kill: many users have events on BOTH sides of the
    // boundary, so the converged state truly required both halves
    val straddling = graft.engine.Tables.loadEvents(spark, sf)
      .groupBy("user_id")
      .agg(min("event_id").as("lo"), max("event_id").as("hi"))
      .filter(col("lo") <= mid && col("hi") > mid).count()
    assert(straddling > 10, s"fixture too weak: $straddling straddling users")

    // full redelivery against the converged store (fresh checkpoint →
    // every slice reprocesses): the merge is idempotent, state unchanged
    val ckpt2 = Files.createTempDirectory("upsink-ckpt2").toString
    val q3 = spark.readStream.schema(ev.schema).parquet(s"$src/slice*")
      .writeStream
      .foreachBatch((batch: org.apache.spark.sql.DataFrame, _: Long) =>
        sink.upsert(batch))
      .option("checkpointLocation", ckpt2)
      .outputMode("update").start()
    try q3.processAllAvailable() finally q3.stop()
    assert(snapshot() == batchTwin, "redelivery mutated the durable state")
  }

  test("stream_dedup_near pair set is ARRIVAL-ORDER-INDEPENDENT (reversed replay)") {
    // pairs emit symmetric (min, max) when the SECOND member of a
    // bucket pair arrives — so any replay order yields the same final
    // set as long as no bucket freezes at the cap. Reversed doc_id
    // order is the adversarial case for an index built "newest
    // probes oldest": it must still equal batch dedup_near.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = graft.engine.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .as[graft.streaming.Streams.Doc]
      .collect().sortBy(-_.doc_id) // REVERSED
    val third = docs.length / 3
    val slices = Seq(docs.take(third), docs.slice(third, 2 * third),
      docs.drop(2 * third))
    val mem = MemoryStream[graft.streaming.Streams.Doc](41, spark, None)
    val q = graft.streaming.Streams.dedupNear(mem.toDS(), 0.5)
      .writeStream.format("memory").queryName("t_ndn_rev")
      .outputMode("append").start()
    try {
      slices.foreach { sl => mem.addData(sl.toIndexedSeq: _*); q.processAllAvailable() }
      val streamed = spark.table("t_ndn_rev").distinct()
      val batch = graft.engine.Registry.byName("dedup_near").build(spark, sf)
      assert(batch.exceptAll(streamed).isEmpty &&
        streamed.exceptAll(batch).isEmpty,
        "reversed replay changed the near-dup pair set")
    } finally q.stop()
  }

  test("every day/hour stream fold fails loudly on a batch older than its open bucket (replay-order violation)") {
    val s = spark
    import s.implicits._
    import graft.streaming.Streams
    import Streams.Event
    type Fold = org.apache.spark.sql.Dataset[Event] => org.apache.spark.sql.Dataset[_]
    val folds: Seq[(String, Fold)] = Seq(
      "stream_anomaly" -> (Streams.anomaly(_)),
      "stream_ewma" -> (Streams.ewma(_)),
      "stream_holt" -> (Streams.holt(_)),
      "stream_holt_winters" -> (Streams.holtWinters(_)),
      "stream_calendar_gaps" -> (Streams.calendarGaps(_)),
      "stream_trend" -> (Streams.trend(_)))
    def ev(id: Long, t: String) = Event(id, java.sql.Timestamp.valueOf(t), 1L, "view", 1.0)
    for (((name, fold), i) <- folds.zipWithIndex) {
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Event](70 + i, spark, None)
      val q = fold(mem.toDS()).writeStream.format("memory")
        .queryName(s"replay_order_$i").outputMode("append").start()
      try {
        // ordered: two hours of one day, then the next day opens
        mem.addData(ev(1, "2024-01-02 10:00:00"), ev(2, "2024-01-02 11:00:00"),
          ev(3, "2024-01-03 09:00:00"))
        q.processAllAvailable()
        // a later batch carrying a day (and hour) older than the open one
        mem.addData(ev(4, "2024-01-02 12:00:00"))
        val e = withClue(s"$name: ") {
          intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
            q.processAllAvailable()
          }
        }
        val msgs = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).toSeq
        assert(msgs.exists(_.contains("replay-order violation")),
          s"$name: no replay-order violation in ${msgs.map(_.take(200))}")
      } finally q.stop()
    }
  }

  test("stream_anomaly, stream_retention and the day folds bucket pre-1970 events into their own hour or day, as batch date_trunc does") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.{DataFrame, Dataset}
    import graft.streaming.Streams
    import Streams.Event
    // hourly events at :30 UTC from 1969-12-30 23:30 to 1970-01-01
    // 00:30: one on 1969-12-30, 24 on 1969-12-31, one on 1970-01-01
    val t0 = java.time.Instant.parse("1969-12-30T23:30:00Z").toEpochMilli
    val evs = (0 until 26).map(k =>
      Event(k.toLong, new java.sql.Timestamp(t0 + k * 3600000L), 1L, "view", 1.0))
    def truncated(unit: String, ts: java.sql.Timestamp) = spark.range(1)
      .select(date_trunc(unit, lit(ts)).cast("long")).head().getLong(0)
    assert(evs(24).ts.toInstant.toString == "1969-12-31T23:30:00Z")
    assert(truncated("hour", evs(24).ts) == -3600L)
    assert(truncated("day", evs(24).ts) == -86400L)
    assert(truncated("day", evs(0).ts) == -172800L)
    type Fold = Dataset[Event] => DataFrame
    def dayN(f: Dataset[Event] => Dataset[_], n: String): Fold =
      ds => f(ds).select(col("day"), col(n))
    val closedDays = Seq[(Any, Any)](("1969-12-30", 1L), ("1969-12-31", 24L))
    // (fold, its bucket and count/offset columns, rows expected)
    val cases: Seq[(String, Fold, Seq[(Any, Any)])] = Seq(
      // 25 closed hours fill the 24-hour history once: one row
      ("stream_anomaly", ds => Streams.anomaly(ds)
        .select(col("bucket").cast("long"), col("n")), Seq((-3600L, 1L))),
      // one cohort, 1969-12-30, seen on day offsets 0, 1 and 2
      ("stream_retention", ds => Streams.retention(ds)
        .select(col("cohort").cast("long"), col("day_offset")),
        Seq((-172800L, 0L), (-172800L, 1L), (-172800L, 2L))),
      ("stream_ewma", dayN(Streams.ewma, "n"), closedDays),
      ("stream_holt", dayN(Streams.holt, "n"), closedDays),
      ("stream_holt_winters", dayN(Streams.holtWinters, "n"), closedDays),
      ("stream_calendar_gaps", dayN(Streams.calendarGaps, "n_events"), closedDays),
      // the fit needs two closed days: counts 1, 24 give slope 23
      ("stream_trend", ds => Streams.trend(ds)
        .select(col("day_closed"), col("slope")), Seq(("1969-12-31", 23.0))))
    for (((name, fold, want), i) <- cases.zipWithIndex) {
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Event](80 + i, spark, None)
      val q = fold(mem.toDS()).writeStream.format("memory")
        .queryName(s"pre_epoch_$i").outputMode("append").start()
      try {
        mem.addData(evs: _*)
        q.processAllAvailable()
        val got = spark.table(s"pre_epoch_$i").collect()
          .map(r => (r.get(0), r.get(1))).toSeq
        assert(got.sortBy(_.toString) == want.sortBy(_.toString), s"$name")
      } finally q.stop()
    }
  }

  test("stream_delay_board and batch computeDelays floor a pre-1970 sub-second expected time to the same delay seconds") {
    val s = spark
    import s.implicits._
    import graft.streaming.Streams
    // a mode-R passage expected at 1969-12-31 23:59:59.500 UTC, matched
    // to the call with departure_secs 86399 (23:59:59) on that service
    // day: floored, the expected time is 23:59:59 and the delay is 0
    val expected = java.sql.Timestamp.from(
      java.time.Instant.parse("1969-12-31T23:59:59.500Z"))
    val batch = graft.domain.Transit.computeDelays(
        Seq((expected, "R", Option.empty[String], 86399L))
          .toDF("expected_ts", "mode", "etat", "departure_secs"), "19691231")
      .select(col("delay_sec")).as[Long].collect().toSeq
    assert(batch == Seq(0L), "computeDelays must floor 23:59:59.500 to 23:59:59")
    val sched = Seq(("T134657", "8739300", 1, 86399L))
      .toDF("trip_id", "station7", "stop_sequence", "departure_secs")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Streams.Passage](92, spark, None)
    val q = Streams.delayBoard(mem.toDS(), sched).writeStream
      .format("memory").queryName("pre_epoch_board")
      .outputMode("update").start()
    try {
      mem.addData(Streams.Passage("87393009", "134657", "MISS", "TERM",
        expected, "R", null, "1969-12-31", "23:50", "1969-12-31_134657"))
      q.processAllAvailable()
      val streamed = spark.table("pre_epoch_board")
        .select(col("delay_sec")).as[Long].collect().toSeq
      assert(streamed == batch, "stream and batch delay_sec differ")
    } finally q.stop()
  }

  test("the six hour/day stream folds resume from checkpoint with the rows of an uninterrupted run") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.{DataFrame, Dataset}
    import graft.streaming.Streams
    import Streams.Event
    type Fold = Dataset[Event] => DataFrame
    val folds: Seq[(String, Fold)] = Seq(
      "stream_anomaly" -> (Streams.anomaly(_).toDF()),
      "stream_ewma" -> (Streams.ewma(_).toDF()),
      "stream_holt" -> (Streams.holt(_).toDF()),
      "stream_holt_winters" -> (Streams.holtWinters(_).toDF()),
      "stream_calendar_gaps" -> (Streams.calendarGaps(_).toDF()),
      "stream_trend" -> (Streams.trend(_).toDF()))
    // hours 0..96 from 2024-01-01 00:10 UTC, hour h carrying
    // 1 + (7h mod 5) events, every fourth a click: four full days and
    // one event of day five; the restart falls at 2024-01-03 12:00,
    // so day 3 (and hour 60) is open across it
    val base = java.time.Instant.parse("2024-01-01T00:10:00Z").toEpochMilli
    val evs = (0 to 96).flatMap(h => Seq.fill(1 + (7 * h) % 5)(h)).zipWithIndex
      .map { case (h, i) => Event(i.toLong,
        new java.sql.Timestamp(base + h * 3600000L + i * 1000L), 1L,
        if (i % 4 == 0) "click" else "view", 1.0) }
    val (before, after) = evs.partition(_.ts.getTime < base + 60 * 3600000L)
    val src = Files.createTempDirectory("fold-src").toString
    before.toDS().write.parquet(s"$src/slice0")
    val schema = implicitly[org.apache.spark.sql.Encoder[Event]].schema
    def run(fold: Fold, ckpt: String): Seq[String] = {
      val emitted = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val q = fold(spark.readStream.schema(schema).parquet(s"$src/slice*").as[Event])
        .writeStream
        .foreachBatch((b: DataFrame, _: Long) =>
          b.collect().foreach(r => emitted.add(r.toString)))
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      emitted.asScala.toSeq
    }
    def freshCkpt() = Files.createTempDirectory("fold-ckpt").toString
    val ckpts = folds.map(_ => freshCkpt())
    val firstRuns = folds.zip(ckpts).map { case ((_, fold), c) => run(fold, c) }
    // while the queries are down, the rest of the replay lands
    after.toDS().write.parquet(s"$src/slice1")
    for ((((name, fold), ckpt), first) <- folds.zip(ckpts).zip(firstRuns)) {
      val resumed = first ++ run(fold, ckpt)
      val whole = run(fold, freshCkpt())
      assert(first.nonEmpty && resumed.size > first.size,
        s"$name: the restart must fall between emitted rows")
      assert(resumed.sorted == whole.sorted,
        s"$name: restarted run differs from an uninterrupted one")
    }
  }
}
