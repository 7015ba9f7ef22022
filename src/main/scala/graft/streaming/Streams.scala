package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.queries.{Analytics, CorpusOps, PipelineOps, QualityOps, SourceOps, TextVector}
import graft.domain.Transit

/** Structured Streaming operators — SURVEY.md §2.3.
  *
  * Reference analog: the reference IS a streaming system in all but
  * name — `operate_one_cycle` polls every N minutes, parses passages,
  * enriches them, and upserts the latest state per (day, station,
  * train) into DynamoDB/Mongo [P extract_api.py, utils_dynamo.py —
  * SURVEY.md §0]. Each transform below is the micro-batch equivalent;
  * all are tested against MemoryStream in StreamingSpec, and the
  * windowed/session ops are parity-tested against their batch twins
  * (ts_tumbling / ts_session).
  *
  * 100 TB design: state stores are per-key-partition (RocksDB-backed in
  * prod config); watermarks bound state size; every transform here is
  * shuffle-on-key exactly once per micro-batch.
  */
object Streams {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class UserState(user_id: Long, last_ts: java.sql.Timestamp,
      last_event_id: Long, last_type: String, last_value: Double)

  /** Every builder's input passes through here first: it puts the
    * engine's fork-free `file:` filesystem ([[graft.engine.NioLocalFs]])
    * under the query's offset/commit logs and state-store files. */
  private def localFs[T](in: Dataset[T]): Dataset[T] = {
    graft.engine.NioLocalFs.install(in.sparkSession)
    in
  }

  /** Per-hour tumbling counts/sums, append-mode after watermark —
    * the polling-cycle rollup. Batch twin: ts_tumbling. */
  def tumbling(events: DataFrame): DataFrame =
    localFs(events)
      .withWatermark("ts", "10 minutes")
      // group on the window column itself — projecting .start inside
      // the grouping key severs watermark propagation (append mode
      // then rejects the aggregation)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("bucket"), col("n_events"), col("sum_value"))

  /** 1h windows sliding every 15min — each event lands in 4 windows. */
  def sliding(events: DataFrame): DataFrame =
    localFs(events)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("bucket"), col("n_events"))

  /** 30-min-gap session windows per user — trip segmentation.
    * Batch twin: ts_session (lag+cumsum islands). */
  def session(events: DataFrame): DataFrame =
    localFs(events)
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Exactly-once per event_id within the watermark horizon. */
  def dedup(events: DataFrame): DataFrame =
    localFs(events).withWatermark("ts", "10 minutes").dropDuplicates("event_id")

  /** Latest record per user with explicit state — the reference's
    * "current station board" upsert kept in a streaming state store
    * instead of DynamoDB. Ties on ts resolve by event_id, matching the
    * batch last_state struct-max.
    *
    * State carries an event-time TTL (SURVEY §2.3: "latest record
    * per key WITH TIMEOUT"): once the watermark passes a key's last
    * event time + `ttl`, the key is evicted and rebuilt on re-arrival,
    * so the store stays bounded by the recently-active key set even
    * over an unbounded key space — without it, 100 TB of churning
    * user ids grows the state store forever. The TTL is event-time
    * (not processing-time) deliberately: processing-time timeouts make
    * `FlatMapGroupsWithStateExec.shouldRunAnotherBatch` permanently
    * true, so the query spins empty micro-batches to poll timers (and
    * `processAllAvailable` never terminates); the event-time variant
    * only re-fires when the watermark actually advances, and is
    * replay-deterministic besides. Eviction + re-creation is asserted
    * in StreamingSpec via the state-store row metrics. */
  def lastState(events: Dataset[Event],
      ttl: String = "30 minutes",
      watermarkDelay: String = "1 hour"): Dataset[UserState] = {
    import events.sparkSession.implicits._
    localFs(events)
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[UserState]) =>
          if (state.hasTimedOut) {
            // watermark passed last_ts + ttl: drop this key's state;
            // the next arrival rebuilds it from scratch
            state.remove()
            Iterator.empty
          } else {
            val candidates = state.getOption.iterator ++ evs.map(e =>
              UserState(uid, e.ts, e.event_id, e.event_type, e.value))
            val latest = candidates.maxBy(s => (s.last_ts.getTime, s.last_event_id))
            state.update(latest)
            // timeout must sit strictly above the current watermark —
            // a late-but-kept row's ts may already be below it
            state.setTimeoutTimestamp(
              math.max(latest.last_ts.getTime, state.getCurrentWatermarkMs()), ttl)
            Iterator(latest)
          }
      }
  }

  case class Scd2State(version: Long, event_type: String,
      valid_from: java.sql.Timestamp, n_events: Long)
  case class Scd2Closed(user_id: Long, version: Long, event_type: String,
      valid_from: java.sql.Timestamp, valid_to: java.sql.Timestamp,
      n_events: Long)

  /** The ONE SCD2 fold both streaming variants share (a change here
    * must keep batch parity for BOTH — the StreamingSpec parity tests
    * guard it): fold `events` in (ts, event_id) order into the open
    * version, emitting each version the moment a type change closes
    * it. Returns (closed versions, new open version or null). */
  private def foldScd2(uid: Long, start: Scd2State,
      events: Seq[Event]): (Seq[Scd2Closed], Scd2State) = {
    val out = Seq.newBuilder[Scd2Closed]
    var cur = start
    for (e <- events.sortBy(e => (e.ts.getTime, e.event_id))) {
      if (cur == null)
        cur = Scd2State(1L, e.event_type, e.ts, 1L)
      else if (cur.event_type == e.event_type)
        cur = cur.copy(n_events = cur.n_events + 1)
      else {
        out += Scd2Closed(uid, cur.version, cur.event_type,
          cur.valid_from, e.ts, cur.n_events)
        cur = Scd2State(cur.version + 1, e.event_type, e.ts, 1L)
      }
    }
    (out.result(), cur)
  }

  /** Streaming SCD2 maintenance — the stream twin of the batch
    * merge_scd2 / merge_scd2_incremental pair: per-user open-version
    * state folded over arriving events, CLOSED versions emitted in
    * append mode the moment a type change supersedes them. The open
    * version lives in the state store (it is tomorrow's
    * merge_scd2_incremental `prev` slice, not a row to emit yet).
    *
    * Ordered-ingest assumption, stated loudly: events for a user are
    * folded in (ts, event_id) order WITHIN each micro-batch, and
    * batches are assumed time-ordered across batches (the reference's
    * polling loop delivers exactly that). A late event belonging to an
    * already-closed version would need watermark-buffered reordering —
    * [[scd2StreamOoO]] IS that variant, trading O(horizon) buffer
    * state for disorder tolerance. Parity with the batch scd2 under
    * ordered replay is asserted in StreamingSpec (and under shuffled
    * replay for the OoO variant).
    *
    * No timeout BY DESIGN (contrast lastState's event-time TTL): the
    * open version is the product — evicting it would corrupt version
    * numbering on the key's next event. State is O(1) per user
    * (version counter + type + two scalars), so the store is bounded
    * by |users|, not by history; for a truly unbounded churning key
    * space, archive keys cold via the incremental batch path instead
    * of a timeout. */
  def scd2Stream(events: Dataset[Event]): Dataset[Scd2Closed] = {
    import events.sparkSession.implicits._
    localFs(events)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[Scd2State]) =>
          val (closed, cur) =
            foldScd2(uid, state.getOption.orNull, evs.toIndexedSeq)
          if (cur != null) state.update(cur)
          closed.iterator
      }
  }

  case class Scd2Buffer(open: Option[Scd2State], pending: Seq[Event])

  /** Out-of-order-tolerant streaming SCD2 — the watermark-buffered
    * variant scd2Stream's contract points to: events are HELD in state
    * until the watermark passes them, then folded in (ts, event_id)
    * order, so any disorder within the watermark delay cannot corrupt
    * version numbering. Closed versions appear once their closing
    * event is watermark-final — the emitted set is always a prefix
    * (by valid_to ≤ watermark) of the batch answer.
    *
    * The price vs scd2Stream is state linear in the horizon (pending
    * events per user within the delay) instead of O(1) — the standard
    * buffer-until-watermark trade. Eviction of the BUFFER is by
    * event-time timeout at the earliest pending event; the open
    * version itself still never expires (it is the product).
    *
    * Events LATER than the watermark never reach the fold: Spark
    * filters below-watermark input rows before flatMapGroupsWithState
    * (verified in StreamingSpec — a late event older than an
    * already-closed version is dropped, not mis-folded), so `ripe`
    * here only ever contains buffered rows the watermark just passed,
    * in order. */
  def scd2StreamOoO(events: Dataset[Event],
      watermarkDelay: String = "1 hour"): Dataset[Scd2Closed] = {
    import events.sparkSession.implicits._
    localFs(events)
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[Scd2Buffer]) =>
          val st = state.getOption.getOrElse(Scd2Buffer(None, Nil))
          val wm = state.getCurrentWatermarkMs()
          val (ripe, hold) = (st.pending ++ evs)
            .partition(_.ts.getTime <= wm)
          val (closed, cur) = foldScd2(uid, st.open.orNull, ripe)
          state.update(Scd2Buffer(Option(cur), hold))
          // wake when the watermark passes the earliest held event so
          // it gets folded even if this key never sees data again
          if (hold.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(hold.map(_.ts.getTime).min, wm + 1))
          closed.iterator
      }
  }

  case class FunnelState(stage: Int, window_until: Long)
  case class FunnelHit(user_id: Long, stage: Int, ts: java.sql.Timestamp)

  /** Streaming funnel — the real-time twin of the batch funnel_steps:
    * per-user stage machine (view → click → purchase, each within
    * `withinHours` of the previous stage's event) emitting a hit row
    * the moment a user reaches a stage. Batch parity (per-stage
    * distinct-user counts) is asserted in StreamingSpec under ordered
    * replay.
    *
    * Same ordered-ingest assumption as scd2Stream (events folded in
    * (ts, event_id) order within a batch, batches time-ordered): the
    * reference's polling loop delivers that; disorder within a
    * watermark horizon would take scd2StreamOoO's buffer-until-final
    * pattern unchanged.
    *
    * State is O(1) per user (stage + deadline) with NO timeout BY
    * DESIGN (scd2Stream's trade, same reasoning): evicting ANY key —
    * terminal or lapsed — lets a later view restart that user's
    * funnel, emitting duplicate stage hits under re-entry semantics
    * and diverging from the batch first-touch definition (an early
    * version evicted completed users and the parity test caught
    * exactly that duplicate). The store is bounded by |users|, not by
    * event history; for an unbounded churning user space, either
    * accept re-entry semantics (evict on window_until + horizon) or
    * archive cold keys through the batch path. */
  def funnel(events: Dataset[Event], withinHours: Int = 24,
      watermarkDelay: String = "1 hour"): Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    val withinMs = withinHours * 3600L * 1000
    localFs(events)
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(0, 0L))
          val hits = Seq.newBuilder[FunnelHit]
          // equal-ts events fold in STAGE order (view < click <
          // purchase), not event_id order: the batch chain's predicate
          // is ts >= prev_ts, so a click sharing its timestamp with
          // the qualifying view must see the view applied first — an
          // event_id tiebreak dropped it whenever the click's id
          // sorted lower (batch/stream parity on timestamp ties)
          val stageRank = Map("view" -> 0, "click" -> 1, "purchase" -> 2)
          for (e <- evs.toSeq.sortBy(e =>
              (e.ts.getTime, stageRank.getOrElse(e.event_type, 3), e.event_id))) {
            val t = e.ts.getTime
            st.stage match {
              case 0 if e.event_type == "view" =>
                st = FunnelState(1, t + withinMs)
                hits += FunnelHit(uid, 1, e.ts)
              case 1 if e.event_type == "click" && t <= st.window_until =>
                st = FunnelState(2, t + withinMs)
                hits += FunnelHit(uid, 2, e.ts)
              case 2 if e.event_type == "purchase" && t <= st.window_until =>
                st = FunnelState(3, 0L)
                hits += FunnelHit(uid, 3, e.ts)
              case _ => () // non-advancing event (ordered fold: a
              // click before any view, a lapsed window, stage 3)
            }
          }
          state.update(st)
          hits.result().iterator
      }
  }

  private val HourMs = 3600L * 1000
  private val DayMs = 24 * HourMs

  private def isoDay(day: Long): String =
    java.time.LocalDate.ofEpochDay(day).toString

  /** One key's state in [[bucketFold]]: the open bucket (units since
    * the epoch; `Long.MinValue` before the key's first event) and the
    * operator's carried state. */
  case class Bucket[S](open: Long, carry: S)

  /** The ordered bucket fold behind the hour/day monitors — the
    * arbitrary-state fold Structured Streaming gives
    * flatMapGroupsWithState, written once. Per key, each micro-batch's
    * events are replayed in (ts, event_id) order and cut into
    * `unitMs` buckets by floor division, so a pre-1970 event lands in
    * its own bucket as batch `date_trunc` puts it. Events of the open
    * bucket fold into the carried state through `add`; the first event
    * of a later bucket closes it through `close`, which gets the key
    * and the closed bucket and returns the new carried state and at
    * most one output row. The last open bucket emits only when a later
    * event arrives, so batch parity is over closed buckets. The
    * ordered-replay contract is enforced, not assumed: an event older
    * than the open bucket would reopen a closed bucket or close the
    * open one early, silently corrupting every later close, so it
    * throws instead. */
  private def bucketFold[K, S, U](events: Dataset[Event], name: String,
      unitMs: Long)(key: Event => K)(carry0: S)(add: (S, Event) => S)(
      close: (K, Long, S) => (S, Option[U]))(implicit kEnc: Encoder[K],
      sEnc: Encoder[Bucket[S]], uEnc: Encoder[U]): Dataset[U] =
    localFs(events)
      .groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (k: K, evs: Iterator[Event], state: GroupState[Bucket[S]]) =>
          var st = state.getOption.getOrElse(Bucket(Long.MinValue, carry0))
          val out = Seq.newBuilder[U]
          for (e <- evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))) {
            val b = Math.floorDiv(e.ts.getTime, unitMs)
            if (st.open == Long.MinValue) st = Bucket(b, st.carry)
            else if (b < st.open)
              throw new IllegalStateException(s"$name replay-order violation " +
                s"for key '$k': bucket $b after open bucket ${st.open}")
            else if (b > st.open) {
              val (carry, row) = close(k, st.open, st.carry)
              out ++= row
              st = Bucket(b, carry)
            }
            st = Bucket(st.open, add(st.carry, e))
          }
          state.update(st)
          out.result().iterator
      }

  case class AnomalyRow(bucket: java.sql.Timestamp, n: Long,
      z: Option[Double], is_anomaly: Boolean)

  /** Real-time delay-spike monitor — the streaming twin of batch
    * ts_anomaly: hourly event counts scored by a trailing-24-BUCKET
    * z (rows, not wall hours — exactly the batch rowsBetween(-24,-1)
    * frame, so gap hours are skipped in both engines). One global
    * key carries O(24) state: the open hour's count plus the last 24
    * closed counts — timeline-sized state, not data-sized, mirroring
    * the batch plan whose window input is |hours| rows. An hour closes
    * when the ordered replay crosses its boundary ([[bucketFold]]);
    * batch parity is over closed hours (proven in StreamingSpec).
    * Integer s/ss accumulate in the fold, so the float z is the
    * IDENTICAL one-expression computation the batch engine runs. */
  def anomaly(events: Dataset[Event]): Dataset[AnomalyRow] = {
    import events.sparkSession.implicits._
    bucketFold(events, "stream_anomaly", HourMs)(_ => 0)(
        (0L, Seq.empty[Long])) {
      case ((n, hist), _) => (n + 1, hist)
    } { case (_, hour, (n, hist)) =>
      val row = if (hist.size < 24) None else {
        val s = hist.sum
        val ss = hist.map(h => h * h).sum
        val mean = s.toDouble / 24
        val variance = (ss.toDouble - s.toDouble * s.toDouble / 24) / 24
        val z = if (variance > 0)
          Some(BigDecimal((n.toDouble - mean) / math.sqrt(variance))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        else None
        Some(AnomalyRow(new java.sql.Timestamp(hour * HourMs), n, z,
          variance > 0 && math.abs(n.toDouble - mean) > 3 * math.sqrt(variance)))
      }
      ((0L, (hist :+ n).takeRight(24)), row)
    }
  }

  case class RetentionState(cohortDay: Long, mask: Long)
  case class RetentionDelta(cohort: java.sql.Timestamp, day_offset: Long,
      delta: Long)

  /** Streaming cohort retention — the stateful twin of batch
    * retention_cohort. Keyed by user; per-user state is EXACTLY two
    * longs however long the stream runs: the cohort day (epoch days
    * of the first event seen, floored like batch `date_trunc`) and a
    * 64-day seen-offset bitmask. A (user, day_offset) pair emits a +1
    * delta row the FIRST time it appears and never again — so
    * `sum(delta)` per (cohort, offset)
    * downstream equals the batch matrix's `countDistinct(user_id)`
    * exactly (each user contributes at most one to each cell, proven
    * in StreamingSpec under ordered replay). Offsets ≥ 64 are outside
    * the tracked horizon and dropped — the horizon is the state-size
    * dial (2 longs ↔ 64 days; widen the mask array for more), the
    * same bounded-state trade stream_anomaly makes with its 24-bucket
    * history. Ordered replay gives the within-batch sort the same
    * first-event semantics as batch min(ts). */
  def retention(events: Dataset[Event]): Dataset[RetentionDelta] = {
    import events.sparkSession.implicits._
    localFs(events)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (_: Long, evs: Iterator[Event], state: GroupState[RetentionState]) =>
          val out = Seq.newBuilder[RetentionDelta]
          var st = state.getOption.orNull
          for (e <- evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))) {
            val day = Math.floorDiv(e.ts.getTime, DayMs)
            if (st == null) st = RetentionState(day, 0L)
            val off = day - st.cohortDay
            if (off >= 0 && off < 64 && ((st.mask >> off) & 1L) == 0L) {
              st = RetentionState(st.cohortDay, st.mask | (1L << off))
              out += RetentionDelta(
                new java.sql.Timestamp(st.cohortDay * DayMs), off, 1L)
            }
          }
          if (st != null) state.update(st)
          out.result().iterator
      }
  }

  case class EwmaRow(event_type: String, day: String, n: Long, ewma: Double)

  /** Streaming EWMA of daily counts per type — the stateful twin of
    * batch ts_ewma, and the ring-buffer pattern its scaleNote
    * promises: per-type state is the open day's count plus the last
    * ≤7 closed day counts — O(8) longs per key however long the
    * stream runs. A day closes when a later day's event arrives for
    * that type ([[bucketFold]]); the closed day's EWMA uses the SAME
    * halving integer weights over the same row-lag semantics as the
    * batch window (only days present in the data occupy lag slots),
    * with exact BIGINT numerator/denominator and one final rounded
    * division — so closed-day rows are bit-equal to batch
    * (StreamingSpec). */
  def ewma(events: Dataset[Event]): Dataset[EwmaRow] = {
    import events.sparkSession.implicits._
    bucketFold(events, "stream_ewma", DayMs)(_.event_type)(
        (0L, Seq.empty[Long])) {
      case ((n, hist), _) => (n + 1, hist)
    } { case (typ, day, (n, hist)) =>
      // lag k = k-th most recent closed day, weight 2^(7-k); the
      // closing day itself carries 128 — exactly the batch terms
      var num = n * 128L
      var den = 128L
      for ((nk, idx) <- hist.reverse.take(7).zipWithIndex) {
        val wgt = 1L << (7 - (idx + 1))
        num += nk * wgt
        den += wgt
      }
      val e = BigDecimal(num.toDouble / den)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      ((0L, (hist :+ n).takeRight(7)), Some(EwmaRow(typ, isoDay(day), n, e)))
    }
  }

  case class HoltRow(event_type: String, day: String, n: Long,
      level_micro: Long, trend_micro: Long, forecast_micro: Long)

  /** Streaming Holt linear smoothing — the twin of batch
    * ts_holt_linear and the form its scaleNote names for unbounded
    * series: per-type state is the open day's count plus the (level,
    * trend) pair once a day has closed — O(1) FOREVER, where ewma's
    * ring buffer is O(8) and a windowed recompute would be
    * O(history). Each day close advances the recursion one step in
    * the identical integer micro-unit arithmetic (the same explicit
    * floor division, so stream and batch agree bit-for-bit through
    * negative trends) and emits the closed day's (level, trend,
    * forecast) row. */
  def holt(events: Dataset[Event]): Dataset[HoltRow] = {
    import events.sparkSession.implicits._
    bucketFold(events, "stream_holt", DayMs)(_.event_type)(
        (0L, Option.empty[(Long, Long)])) {
      case ((n, lb), _) => (n + 1, lb)
    } { case (typ, day, (n, lb)) =>
      val x = n * 1000000L
      val (l, b) = lb.fold((x, 0L)) { case (l0, b0) =>
        val lp = Math.floorDiv(x + 4 * (l0 + b0), 5L)
        (lp, Math.floorDiv(lp - l0 + 4 * b0, 5L))
      }
      ((0L, Some((l, b))), Some(HoltRow(typ, isoDay(day), n, l, b, l + b)))
    }
  }

  case class HwRow(event_type: String, day: String, n: Long,
      level_micro: Long, trend_micro: Long, seasonal_micro: Long,
      forecast_micro: Long)

  /** Streaming Holt-Winters — the twin of batch ts_holt_winters and
    * the O(period) live form its scaleNote names: per-type state is
    * the open day's count, the (level, trend) pair once a day has
    * closed, and the rotating 7-slot seasonal window — exactly the
    * state the batch fold carries, so the recursion advances in the
    * IDENTICAL integer micro-unit arithmetic (same explicit floor
    * division through negative trends and seasonals) and stream
    * agrees with batch bit-for-bit on every closed day. The forecast
    * emitted at day close is the true one-step-ahead l + b + s_{t−6},
    * read from the window BEFORE rotation — the live anomaly baseline
    * a monitor compares tomorrow's count against. */
  def holtWinters(events: Dataset[Event]): Dataset[HwRow] = {
    import events.sparkSession.implicits._
    bucketFold(events, "stream_holt_winters", DayMs)(_.event_type)(
        (0L, Option.empty[(Long, Long)], Seq.fill(7)(0L))) {
      case ((n, lb, seas), _) => (n + 1, lb, seas)
    } { case (typ, day, (n, lb, seas)) =>
      val x = n * 1000000L
      val sp = seas.head // s_{t-7}
      val sn = seas(1)   // s_{t-6}: next day's seasonal
      val (l, b, sv) = lb.fold((x, 0L, 0L)) { case (l0, b0) =>
        val lp = Math.floorDiv(x - sp + 4 * (l0 + b0), 5L)
        val bp = Math.floorDiv(lp - l0 + 4 * b0, 5L)
        (lp, bp, Math.floorDiv(x - lp + 4 * sp, 5L))
      }
      ((0L, Some((l, b)), seas.tail :+ sv),
        Some(HwRow(typ, isoDay(day), n, l, b, sv, l + b + sn)))
    }
  }
  case class IslandState(start: Long, end: Long, n: Long, emitted: Long)
  case class IslandRow(user_id: Long, island_id: Long, start_sec: Long,
      end_sec: Long, dur_sec: Long, n_intervals: Long)

  /** Streaming interval merge — the live form of batch interval_merge,
    * and the shape that makes the interval family incremental in
    * production: per-user state is ONLY the one open island (start,
    * end, size, emit counter); an arriving interval either extends it
    * (end = max) or closes it — the closed island is emitted exactly
    * once, in Append mode, the moment its successor proves nothing
    * can merge into it again. Intervals are the batch op's exactly
    * (start = event second, end = start + (event_id % 1800) + 60),
    * and island ids are the same per-user dense ordinals, so the
    * emitted rows are a strict prefix of the batch island table: all
    * islands but each user's final (still-open) one. Ordered-replay
    * contract enforced like ewma/calendar_gaps: an interval starting
    * before the open island's start throws rather than silently
    * mis-merging. */
  def intervalMerge(events: Dataset[Event]): Dataset[IslandRow] = {
    import events.sparkSession.implicits._
    localFs(events)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[IslandState]) =>
          var st = state.getOption
            .getOrElse(IslandState(Long.MinValue, 0L, 0L, 0L))
          val out = Seq.newBuilder[IslandRow]
          for (e <- evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))) {
            val s = Math.floorDiv(e.ts.getTime, 1000L)
            val en = s + (e.event_id % 1800) + 60
            if (st.start == Long.MinValue)
              st = IslandState(s, en, 1L, st.emitted)
            else if (s > st.end) {
              out += IslandRow(uid, st.emitted + 1, st.start, st.end,
                st.end - st.start, st.n)
              st = IslandState(s, en, 1L, st.emitted + 1)
            } else {
              if (s < st.start) throw new IllegalStateException(
                s"stream_interval_merge replay-order violation for user " +
                  s"$uid: start $s before open island ${st.start}")
              st = IslandState(st.start, math.max(st.end, en),
                st.n + 1, st.emitted)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  case class GapRow(event_type: String, day: String, hours_observed: Long,
      n_events: Long, hours_missing: Long, has_gap: Boolean)

  /** Streaming missed-poll monitor — the twin of batch
    * ts_calendar_gaps its scaleNote promises. Per-type state is the
    * open day's (24-bit hour-presence mask, count) pair — O(1)
    * however long the stream runs; a day closes when a later day's
    * event arrives for that type ([[bucketFold]]), emitting the SAME
    * (observed, missing, alarm) row the batch rollup computes. The
    * hour mask is the agg_bitmap_presence idea at stream granularity:
    * presence is a bit_or, popcount is the distinct-hour count, and
    * the gap alarm is mask ≠ full. */
  def calendarGaps(events: Dataset[Event]): Dataset[GapRow] = {
    import events.sparkSession.implicits._
    bucketFold(events, "stream_calendar_gaps", DayMs)(_.event_type)((0L, 0L)) {
      case ((mask, n), e) =>
        val hour = Math.floorMod(Math.floorDiv(e.ts.getTime, HourMs), 24L)
        (mask | (1L << hour), n + 1)
    } { case (typ, day, (mask, n)) =>
      val observed = java.lang.Long.bitCount(mask).toLong
      ((0L, 0L), Some(GapRow(typ, isoDay(day), observed, n,
        24L - observed, observed < 24)))
    }
  }

  /** Stream ⋈ static dimension — the schedule-enrichment join
    * [P match_ids.py]: each micro-batch joins against the broadcast
    * static side with no streaming state. */
  def joinStatic(events: DataFrame, dim: DataFrame): DataFrame =
    localFs(events).join(broadcast(dim), Seq("user_id"), "left")

  /** One polling-cycle passage record (batch delay_board's input row). */
  case class Passage(station_id: String, num: String, miss: String,
      term: String, expected_ts: java.sql.Timestamp, mode: String,
      etat: String, request_day: String, request_time: String,
      day_train_num: String)

  /** One live board entry — the streaming twin of a batch delay_board
    * output row, plus the request_time that versioned it. */
  case class BoardRow(station_id: String, day_train_num: String,
      num: String, miss: String, term: String, trip_id: String,
      expected_ts: java.sql.Timestamp, scheduled_ts: java.sql.Timestamp,
      delay_sec: Long, delay_min: Long, cancelled: Boolean,
      request_time: String)

  /** The LIVE departure board — streaming twin of the batch
    * delay_board flagship, and the closest thing to what the reference
    * actually runs in production (each polling cycle matched, delayed,
    * and upserted into the keyed store [P extract_api.py
    * operate_one_cycle · utils_dynamo.py]).
    *
    * Shape: `sched` (`trip_id`, `station7`, `stop_sequence`,
    * `departure_secs`) is collected into [[Transit.callIndex]] and
    * broadcast once, when this is called; a micro-batch is one job —
    * scan, shuffle by (station, day_train_num), and a
    * flatMapGroupsWithState that folds cycles into latest-state board
    * rows (stream_last_state's shape). Inside the group fn each
    * passage resolves with [[Transit.pickCall]], the batch match's own
    * rule (unique trip, first call); only observed (mode=R) cycles
    * with a scheduled departure reach the board; delay arithmetic
    * mirrors Transit.computeDelays exactly (epoch seconds floored;
    * UTC service-day start + departure_secs, truncating /60 for
    * minutes — all delays are minute-multiples in the parity
    * fixture). A board row is emitted only when the key's latest state
    * CHANGES (Update mode), so re-polls with no news are silent —
    * per-key state is ONE row however long the feed runs. */
  def delayBoard(passages: Dataset[Passage], sched: DataFrame): Dataset[BoardRow] = {
    import passages.sparkSession.implicits._
    val calls = passages.sparkSession.sparkContext.broadcast(Transit.callIndex(sched))
    localFs(passages)
      .groupByKey(p => (p.station_id, p.day_train_num))
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (key: (String, String), it: Iterator[Passage],
            state: GroupState[BoardRow]) =>
          val (station, dtn) = key
          val resolved = it.filter(_.mode == "R") // forecast cycles never board
            .flatMap(p => Transit.pickCall(calls.value, p.station_id, p.num)
              .flatMap(c => c.departure_secs.map { dep =>
                val dayStart = java.time.LocalDate.parse(p.request_day)
                  .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
                val schedSec = dayStart + dep
                val delay = Math.floorDiv(p.expected_ts.getTime, 1000L) - schedSec
                BoardRow(station, dtn, p.num, p.miss, p.term, c.trip_id,
                  p.expected_ts, new java.sql.Timestamp(schedSec * 1000L),
                  delay, delay / 60L, p.etat == "Supprimé", p.request_time)
              })).toSeq
          if (resolved.isEmpty) Iterator.empty // no news: state untouched
          else {
            val latest = (state.getOption.toSeq ++ resolved).maxBy(_.request_time)
            // content-based change detection: a re-poll that moved only
            // the version stamp (request_time) is NOT news — the board
            // stays silent, exactly like the keyed-store upsert whose
            // write is a no-op. State still advances to the new stamp.
            val changed = !state.getOption
              .exists(_.copy(request_time = latest.request_time) == latest)
            state.update(latest)
            if (changed) Iterator.single(latest) else Iterator.empty
          }
      }
  }

  /** Stream ⋈ stream interval join — observation↔observation
    * correlation (e.g. a click followed by a purchase within 30 min,
    * the passage↔passage re-poll correlation analog). Both sides carry
    * a watermark and the join condition bounds event time on BOTH
    * sides, so each side's state store evicts rows once the other
    * side's watermark passes the interval — bounded state at any
    * scale. Output columns are renamed up-front: a self-join of one
    * source stream would otherwise produce ambiguous attributes. */
  def joinStreamStream(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = localFs(clicks).select(col("event_id").as("click_id"),
      col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val p = purchases.select(col("event_id").as("purchase_id"),
      col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "10 minutes")
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
      "inner")
      .select("click_id", "user_id", "click_ts", "purchase_id", "purchase_ts")
  }

  /** Idempotent keyed upsert per micro-batch — the Dynamo batch-write
    * analog [P utils_dynamo.py]. Each batch is first collapsed to its
    * latest row per key (struct-max, same tie rule as lastState), then
    * merged into the store; replaying a batch is a no-op because the
    * merge keeps the (ts, event_id)-max row. */
  def upsertBatch(batch: DataFrame, store: UpsertStore): Unit = {
    val latest = batch
      .groupBy("user_id")
      .agg(max(struct(col("ts").as("t"), col("event_id").as("e"),
        col("value").as("v"))).as("s"))
      .select(col("user_id"), col("s.t"), col("s.e"), col("s.v"))
    // per-partition client writes, exactly as a production KV sink
    // would do them — each executor partition opens its "client" (here
    // the serializable TrieMap-backed store) and writes its own rows;
    // nothing is collected to the driver
    latest.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      rows.foreach { r =>
        store.put(r.getLong(0), (r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
      }
    }
  }

  case class HHState(summary: Map[String, Long], nSeen: Long)
  case class HHRow(n_seen: Long, term: String, est: Long)

  /** Streaming Misra–Gries heavy hitters — the stateful twin of batch
    * agg_heavy_hitters, and the real-time "which event types dominate
    * the feed RIGHT NOW" monitor. State is one ≤ k-entry (term, count)
    * map (bytes, forever, whatever the stream rate); each micro-batch
    * folds its rows through the SAME [[graft.functions.MisraGries]]
    * reduce step the batch aggregate runs, in (ts, event_id) order, so
    * under ordered replay the state after batch B is BIT-EQUAL to a
    * sequential MG fold of every event seen so far (StreamingSpec
    * pins this against a driver-side fold, plus the undercount /
    * N/(k+1) error-bound / heavy-all-present invariants vs exact
    * counts). Each batch emits the full ≤ k-row summary stamped with
    * n_seen, so the sink's latest stamp IS the current summary —
    * an O(k) emission, not a per-event one. */
  def heavyHitters(events: Dataset[Event], k: Int): Dataset[HHRow] = {
    import events.sparkSession.implicits._
    val mg = new graft.functions.MisraGries(k)
    localFs(events)
      .groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (_: Int, evs: Iterator[Event], state: GroupState[HHState]) =>
          val st = state.getOption.getOrElse(HHState(Map.empty, 0L))
          val ordered = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val summary = ordered.foldLeft(st.summary)(
            (m, e) => mg.reduce(m, e.event_type))
          val next = HHState(summary, st.nSeen + ordered.size)
          state.update(next)
          summary.toSeq.sortBy(_._1)
            .map { case (t, c) => HHRow(next.nSeen, t, c) }.iterator
      }
  }

  case class TouchState(t_ts: java.sql.Timestamp, touch: String)
  case class Attribution(p_id: Long, user_id: Long,
      p_ts: java.sql.Timestamp, channel: String, value: Double)

  /** Streaming last-touch attribution — the twin of batch
    * attribution_last_touch: per user the state is ONE (latest touch
    * ts, type) pair; a purchase arrival emits its attribution row
    * immediately (the real-time "which channel just converted"
    * signal the batch rollup only answers at day close). Events fold
    * in (ts, touches-before-purchases, event_id) order per
    * micro-batch: the batch rule credits touches with t_ts <= p_ts,
    * INCLUSIVE, so a same-instant touch+purchase pair must apply the
    * touch first — sorting purchases after their same-ts touches
    * makes the fold honor that without any uniqueness precondition
    * on per-user timestamps (r8, ADVICE; the spec's tie fixture pins
    * it). Residual contract: a same-instant pair SPLIT ACROSS
    * micro-batches with the purchase first still misses the touch —
    * unavoidable once the row is emitted; ordered replay by ts keeps
    * same-ts rows in one batch. Same-instant view/click ties keep
    * the batch's max-on-type rule. State is
    * O(1)/user with no timeout; the production variant sets an
    * event-time TTL of the attribution window (7 d) — evicting older
    * state is semantics-free because an expired touch can never win. */
  def attribution(events: Dataset[Event]): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    val windowMs = 7L * 24 * 3600 * 1000
    localFs(events)
      .filter(e => e.event_type == "purchase" || e.event_type == "view" ||
        e.event_type == "click")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[TouchState]) =>
          val out = Seq.newBuilder[Attribution]
          var cur = state.getOption.orNull
          // same-ts touches sort BEFORE the purchase (middle key) so
          // the inclusive t_ts <= p_ts batch rule holds in the fold
          for (e <- evs.toSeq.sortBy(x => (x.ts.getTime,
            if (x.event_type == "purchase") 1 else 0, x.event_id))) {
            if (e.event_type == "purchase") {
              val ch =
                if (cur != null && cur.t_ts.getTime <= e.ts.getTime &&
                  cur.t_ts.getTime >= e.ts.getTime - windowMs) cur.touch
                else "unattributed"
              out += Attribution(e.event_id, uid, e.ts, ch, e.value)
            } else if (cur == null || e.ts.getTime > cur.t_ts.getTime ||
              (e.ts.getTime == cur.t_ts.getTime && e.event_type > cur.touch)) {
              cur = TouchState(e.ts, e.event_type)
            }
          }
          if (cur != null) state.update(cur)
          out.result().iterator
      }
  }

  case class CoverState(maxEnd: Long, covered: Long, n: Long)
  case class CoverRow(user_id: Long, n_intervals: Long, covered_sec: Long)

  /** Streaming covered-time — the twin of batch interval_coverage's
    * sweep: per user the state is (running max end, covered seconds,
    * interval count) — THREE longs forever. The batch sweep's
    * window-max trick is exactly an ordered fold, so a stream
    * processes each interval in (start, event_id) order and adds
    * max(0, e − max(s, maxEnd)): after any prefix the state equals
    * the batch aggregate over that prefix (StreamingSpec pins final
    * equality). Each micro-batch emits the updated running totals
    * per touched user (Update mode — the live uptime/SLA counter). */
  def coverage(events: Dataset[Event]): Dataset[CoverRow] = {
    import events.sparkSession.implicits._
    localFs(events)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[CoverState]) =>
          var st = state.getOption.getOrElse(CoverState(Long.MinValue, 0L, 0L))
          for (e <- evs.toSeq.sortBy(x => (x.ts.getTime, x.event_id))) {
            val s = Math.floorDiv(e.ts.getTime, 1000L)
            val en = s + (e.event_id % 1800) + 60
            val contrib = math.max(0L, en - math.max(s, st.maxEnd))
            st = CoverState(math.max(st.maxEnd, en),
              st.covered + contrib, st.n + 1)
          }
          state.update(st)
          Iterator(CoverRow(uid, st.n, st.covered))
      }
  }

  case class TrendRow(event_type: String, day_closed: String,
      n_days: Long, slope: Double, intercept: Double)

  /** Streaming trend fit — the twin of batch ts_linear_forecast: per
    * type the state is the OPEN day's count, the first closed day d0,
    * and the five exact integer OLS moments over closed days (n, Σx,
    * Σy, Σxy, Σx², with x = day − d0) — O(1) whatever the stream
    * length, and the moments are the same mergeable partials the
    * batch op aggregates, so each day close ([[bucketFold]]) updates
    * the fit in constant time and the emitted (slope, intercept)
    * after day D is bit-equal to the batch fit over days ≤ D
    * (StreamingSpec pins this against a batch recomputation). */
  def trend(events: Dataset[Event]): Dataset[TrendRow] = {
    import events.sparkSession.implicits._
    bucketFold(events, "stream_trend", DayMs)(_.event_type)(
        (0L, 0L, 0L, 0L, 0L, 0L, 0L)) {
      case ((y, d0, n, sx, sy, sxy, sxx), _) => (y + 1, d0, n, sx, sy, sxy, sxx)
    } { case (t, day, (y, d0Seen, n0, sx0, sy0, sxy0, sxx0)) =>
      val d0 = if (n0 == 0) day else d0Seen
      val x = day - d0
      val (n, sx, sy, sxy, sxx) =
        (n0 + 1, sx0 + x, sy0 + y, sxy0 + x * y, sxx0 + x * x)
      val den = n * sxx - sx * sx
      val row = if (den == 0) None else {
        val slope = (n * sxy - sx * sy).toDouble / den.toDouble
        val icept = (sy.toDouble - slope * sx.toDouble) / n.toDouble
        Some(TrendRow(t, isoDay(day), n, slope, icept))
      }
      ((0L, d0, n, sx, sy, sxy, sxx), row)
    }
  }

  case class Doc(doc_id: Long, text: String)

  /** Streaming Gopher-style quality gate — the stateless live twin of
    * batch quality_gopher_rules, and the posture an ingest stream
    * needs: every arriving document is gated IN the micro-batch, with
    * the batch op's own rule flags and stopword list
    * ([[QualityOps.gopherRules]]), before anything stateful (dedup
    * indexes, upsert stores) sees it. Map-only: the per-doc counts
    * come from HOF folds over the split array (the batch op's
    * explode+groupBy computes the same values through a shuffle —
    * fine for a corpus pass, wrong for a per-batch gate), so this
    * composes in front of every stateful op like stream_quarantine.
    * The repetition max is a run-length fold over the SORTED token
    * array — array_sort makes the fold order a property of the data,
    * never of arrival or partition order. */
  def qualityGate(docs: Dataset[Doc]): DataFrame = {
    val ws = split(col("text"), " ")
    QualityOps.gopherRules(localFs(docs).toDF()
      .select(col("doc_id"), ws.as("ws"))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("n_word_chars",
        expr("aggregate(ws, 0L, (a, w) -> a + length(w))"))
      .withColumn("n_stop", size(filter(col("ws"),
        _.isin(QualityOps.StopWords: _*))).cast("long"))
      .withColumn("max_word_cnt", expr(
        "aggregate(array_sort(ws), " +
          "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L), " +
          "(acc, w) -> named_struct(" +
          "'prev', w, " +
          "'run', IF(acc.prev <=> w, acc.run + 1L, 1L), " +
          "'best', greatest(acc.best, IF(acc.prev <=> w, acc.run + 1L, 1L))), " +
          "acc -> acc.best)"))
      .drop("ws"))
  }

  case class SourceDoc(doc_id: Long, source: String, text: String,
      n_chars: Long)

  /** Live code/prose ROUTER panel — the streaming form of
    * text_code_detect, and the stage order matters: routing is the
    * FIRST decision a mixed ingest stream makes (code and prose go
    * to different dedup/quality/tokenizer paths), so it has to run
    * on the stream, not in the nightly batch. The panel IS the batch
    * op's per-source rollup ([[TextVector.codeRouteSums]]: keyword
    * count over split tokens, literal replace symbol counts — scalar
    * codegen inside the micro-batch, no state per doc) as one
    * complete-mode aggregate; the routing rate per source recomposes
    * from the emitted integers. Because the flag
    * is a pure function of the document, stream and batch CANNOT
    * disagree on any doc — the parity test proves the panel equals
    * the batch report after replay. */
  def codeRoute(docs: Dataset[SourceDoc]): DataFrame =
    TextVector.codeRouteSums(localFs(docs).toDF())

  case class LangDoc(doc_id: Long, lang: String, text: String)

  /** Streaming readability dashboard — the live per-language twin of
    * batch text_readability: every arriving document contributes its
    * three exact integer counts (words, vowel-group syllables,
    * centi-quantized Flesch score) to a running per-lang aggregate.
    * Because the per-doc float composes ONCE map-side and is floor-
    * quantized before it ever aggregates (the batch op's contract),
    * the running sums are plain BIGINT adds — a streaming aggregate
    * in complete mode whose state is |langs| rows of six longs, and
    * whose final table after replay is BIT-EQUAL to the batch
    * report (parity-proven). This is the ingest-quality panel that
    * runs next to stream_quality_gate: the gate drops documents,
    * this watches the quality DISTRIBUTION drift per language. */
  def readability(docs: Dataset[LangDoc]): DataFrame =
    TextVector.readabilityReport(localFs(docs).toDF())

  /** Live feed-freshness panel — dq_freshness' streaming twin
    * (stream_freshness, r12), and the form freshness monitoring
    * NATIVELY takes (the batch op exists for audits; the alert runs
    * on the stream): per feed, arrival count and the max event time
    * in exact epoch micros, one complete-mode aggregate of |feeds|
    * rows of two longs. The watermark, per-feed lags, and SLA
    * verdicts all recompose from the emitted integers exactly as
    * the batch edge expression — max() is an order-independent fold,
    * so after full replay the panel is bit-equal to the batch
    * audit's cells (parity-proven, with a mid-replay monotonicity
    * pin: a feed's last-seen time never goes backward). */
  def freshness(events: Dataset[Event]): DataFrame =
    localFs(events).toDF()
      .select(col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"), max(col("us")).as("mx"))

  /** Live PER-FEED-SLA freshness panel — dq_freshness_sla's
    * streaming twin (stream_freshness_sla, r13): the SLA manifest
    * is a static broadcast dimension, LEFT-joined onto the arriving
    * rows BEFORE the aggregate (stream-static joins are pre-agg
    * legal; post-agg joins are not in complete mode), so sla_s
    * rides as a constant group key — an unmanifested feed carries a
    * NULL SLA through the panel rather than vanishing, the batch
    * op's uncovered-feed fence live. Per-feed lag vs the panel-wide
    * watermark, the per-SLA verdict, and n_uncovered all recompose
    * from the emitted integers exactly as the batch edge
    * expression (parity-proven after full replay). */
  def freshnessSla(events: Dataset[Event],
      manifest: Seq[(String, Long)]): DataFrame = {
    val s = localFs(events).sparkSession
    import s.implicits._
    val sla = manifest.toDF("event_type", "sla_s")
    events.toDF()
      .select(col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .join(broadcast(sla), Seq("event_type"), "left")
      .groupBy("event_type", "sla_s")
      .agg(count(lit(1)).as("n_rows"), max(col("us")).as("mx"))
  }

  /** Live data-quality profile — the streaming form of
    * dq_profile_approx's PRODUCTION pass (stream_dq_profile, r12):
    * the profile a 100 TB feed actually maintains is not a nightly
    * batch but a continuously-updated panel, and the sketch design
    * is WHY it can stream — every aggregate here has a fixed-size
    * mergeable state (counts, min/max, six-KB HLL++ registers), so
    * the whole panel is ONE complete-mode global aggregate row
    * regardless of feed volume. HLL++ register merge is max-fold —
    * commutative, associative, replay-order-independent — so the
    * streamed sketch estimates are BIT-EQUAL to a batch
    * approx_count_distinct over the same rows (proven in-spec), and
    * sit inside the batch op's 2+10 % tolerance of the exact
    * distincts. */
  def dqProfile(events: Dataset[Event]): DataFrame =
    localFs(events).toDF().agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null_value"),
      approx_count_distinct(col("event_id"), 0.02).as("ad_event_id"),
      approx_count_distinct(col("user_id"), 0.02).as("ad_user_id"),
      approx_count_distinct(col("event_type"), 0.02).as("ad_event_type"),
      approx_count_distinct(col("value"), 0.02).as("ad_value"),
      min(col("user_id")).as("mn_user_id"),
      max(col("user_id")).as("mx_user_id"),
      min(col("value")).as("mn_value"),
      max(col("value")).as("mx_value"))

  /** Live mixture-drift panel — the streaming form of corpus_mix_kl,
    * which is explicitly "the alert a recurring build fires": the
    * alert belongs ON the stream (stream_mix_kl, r12). Per-language
    * (n_docs, chars) counters in ONE complete-mode aggregate, chars
    * computed from the arriving text (length(text) ≡ the batch
    * table's n_chars by the fixture contract, so the counters are
    * the batch op's exact integers). State is |langs| rows of two
    * BIGINTs; the KL — each contribution ONE ln() of exact integer
    * ratios floor-quantized to micro-nats — and the ≤0.2-nat gate
    * verdict recompose from the emitted integers exactly as the
    * batch edge expression, parity-proven bit-for-bit after replay
    * with a mid-replay conservation pin (Σchars accounts for every
    * char seen so far — a drifting crawler moves this panel long
    * before per-language doc counts look alarming). */
  def mixKl(docs: Dataset[LangDoc]): DataFrame =
    localFs(docs).toDF()
      .select(col("lang"), length(col("text")).cast("long").as("chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("chars")).as("chars"))

  /** Live DSIR selection panel (stream_dsir, r14) — the streaming
    * form of corpus_dsir/sample_dsir's SCORING stage, in the shape
    * an online selector actually deploys: the 64-bucket weight model
    * is FROZEN offline and passed in as a literal map (train batch,
    * apply in-stream — the model never refits on the stream), each
    * arriving doc is scored STATELESSLY with one aggregate() HOF
    * over its tokens (the exact integer dot product of bucket counts
    * with frozen micro-nat weights — no explode, no per-doc state,
    * the batch op's own [[CorpusOps.dsirBucket]]), and the panel keeps
    * per (lang, selected) doc/token/logw counters in one
    * complete-mode aggregate: ≤ 2·|langs| rows of three BIGINTs.
    * Per-doc scores being pure functions of (text, frozen model),
    * the panel recomposes batch corpus_dsir's (lang, selected)
    * rollup bit-for-bit — parity + doc-mass conservation proven in
    * StreamingSpec. */
  def dsirSelection(docs: Dataset[LangDoc],
      wMicro: Map[Long, Long]): DataFrame = {
    val keys = wMicro.keys.toSeq.sorted
    val wmap = map_from_arrays(
      array(keys.map(lit(_)): _*),
      array(keys.map(k => lit(wMicro(k))): _*))
    localFs(docs).toDF()
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        aggregate(split(col("text"), " "), lit(0L),
          (acc, w) => acc +
            coalesce(element_at(wmap, CorpusOps.dsirBucket(w)), lit(0L)))
          .as("logw_micro"))
      .withColumn("selected", col("logw_micro") > 0L)
      .groupBy("lang", "selected")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("logw_micro")).as("logw_sum"))
  }

  /** Live BPE merge-candidate counting (stream_pair_counts, r15) —
    * the streaming form of tokenizer_pair_counts' counting stage, in
    * the shape an ONLINE tokenizer-trainer's candidate counter
    * deploys: each arriving doc maps STATELESSLY to its adjacent
    * char-pair multiset (two explodes, no per-doc state), and one
    * complete-mode aggregate keeps the per-pair counter — ≤ |Σ|²
    * rows of one BIGINT, alphabet-bounded, never corpus-bound.
    * PARITY CONTRACT (r16, ADVICE — stated to match what the spec
    * asserts, no wider): the proven equivalence is against the
    * UNLIMITED raw char-bigram reformulation of the batch counting
    * stage (words → f, then Σ f per adjacent char pair, NO top-50
    * limit and raw 2-char keys rather than the trainer's
    * symbol-spaced 'e r' spelling), plus a merged-token/count match
    * for the ROUND-1 crown only (the argmax an online trainer would
    * apply at the next checkpoint) against tokenizer_bpe_merges —
    * both replayed in StreamingSpec with mid-replay pair-mass
    * conservation. The declared batch op tokenizer_pair_counts is
    * that reformulation top-50-limited and symbol-keyed; rounds ≥ 2
    * need the merged symbol state and are the batch trainer's job. */
  def pairCounts(docs: Dataset[LangDoc]): DataFrame =
    CorpusOps.trainWords(localFs(docs).toDF())
      .select(explode(CorpusOps.charPairs).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))

  /** Live BPE ENCODE panel (stream_bpe_apply, r16 — VERDICT r15
    * "next" #6, the deep trainer's online apply side, closing the
    * tokenizer family's loop: stream_pair_counts covers the live
    * COUNT half, this covers the live ENCODE half): the merge table
    * is trained offline and FROZEN (stream_dsir's train-batch/
    * apply-online contract), shipped as the round-K word→sym vocab
    * relation — the precomputed encode cache production tokenizer
    * serving reads (sink_bpe_history round K verbatim). Each
    * arriving doc's words join STATELESSLY against the static vocab
    * (a stream-static equi join — no per-doc state, broadcast-able
    * at any stream rate since the vocab is bounded); an OOV word
    * falls back to its character spelling (zero merges apply — the
    * slow-path spelling) and is counted separately, so an OOV surge
    * — the signal that the frozen vocab has gone stale against the
    * live distribution — is visible on the panel long before
    * compression degrades. The panel keeps per-lang word/OOV/char/
    * token counters in one complete-mode aggregate: |langs| rows of
    * four BIGINTs. Per-word encodes being pure functions of (word,
    * frozen vocab), replaying the training corpus recomposes
    * tokenizer_apply_k's per-lang (n_tokens_char, n_tokens_bpe)
    * rollup bit-for-bit with zero OOV — parity + token-mass
    * conservation + the planted-OOV fallback proven in
    * StreamingSpec. */
  def bpeApply(docs: Dataset[LangDoc], vocab: DataFrame): DataFrame =
    CorpusOps.trainWords(localFs(docs).toDF(), "lang")
      .join(vocab.select(col("word"), col("sym")), Seq("word"), "left")
      .select(col("lang"), col("sym").isNull.as("oov"),
        length(col("word")).cast("long").as("chars"),
        size(split(coalesce(col("sym"), CorpusOps.spelled(col("word"))), " "))
          .cast("long").as("toks"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("oov"), 1L).otherwise(0L)).as("n_oov"),
        sum(col("chars")).as("n_tokens_char"),
        sum(col("toks")).as("n_tokens_bpe"))

  /** Live value-distribution panel — the streaming form of
    * dq_drift_psi (stream_psi, r13): per (feed, bin) counters under
    * the SAME stated literal edges (ONE CASE string —
    * [[graft.queries.PipelineOps.PsiBinCase]] — shared by the batch
    * op, its oracle, and this panel, so all three bin identically by
    * construction) in one complete-mode aggregate: |feeds|·10 rows of
    * one BIGINT each. Complete-mode counters are CUMULATIVE, which is
    * exactly what a live PSI wants: freeze a snapshot at baseline
    * time as the reference, difference the current panel against it
    * for the live window (counts subtract cell-wise — no second
    * scan, no history replay), then the Laplace-smoothed
    * floor-quantized PSI composes from the two integer tables
    * exactly as the batch edge expression. Parity + conservation +
    * the snapshot-differencing identity proven in StreamingSpec. */
  def psiCounts(events: Dataset[Event]): DataFrame =
    localFs(events).toDF()
      .select(col("event_type"),
        expr(PipelineOps.PsiBinCase).cast("long").as("bin"))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("n"))

  /** Live SPC counter panel — the streaming form of ts_cusum
    * (stream_cusum, r13): per (feed, day) event counters in one
    * complete-mode aggregate — the integers Page's chart is a pure
    * function of. The closed form (prefix sum minus running min over
    * deviation prefixes) and both alarm verdicts recompose from the
    * emitted counters exactly as the batch edge expression, so the
    * live chart needs no ordered state and no history replay — the
    * panel IS the sufficient statistic. Parity with batch ts_cusum
    * (every chart cell and alarm bit) proven in StreamingSpec after
    * full replay, with mid-replay count conservation pinned. */
  def cusumDaily(events: Dataset[Event]): DataFrame =
    Analytics.cusumCounts(localFs(events).toDF())

  /** Streaming sample-ratio-mismatch panel — the live form of batch
    * ab_test_srm, which is the check that RUNS continuously by
    * design (every readout refresh re-validates the split; the
    * batch scaleNote's strict α exists exactly because this panel
    * never stops). First exposure per user is deduplicated in-stream
    * (unbounded per-user state — the exposure set IS the experiment
    * population, the same state every per-user experiment readout
    * carries), then the running per-arm counts aggregate in complete
    * mode: |arms| rows of one long each. The GOF verdict composes
    * from the emitted integers exactly as the batch op's edge
    * expression — parity-proven against ab_test_srm's cells after
    * full replay. */
  def srm(events: Dataset[Event]): DataFrame =
    localFs(events).toDF()
      .filter(col("event_type") === "view")
      .select(col("user_id"))
      .dropDuplicates("user_id")
      .withColumn("v", col("user_id") % 3)
      .groupBy("v")
      .agg(count(lit(1)).as("n"))

  /** Live experiment-planning panel — the streaming form of
    * ab_power_mde, and the reason the moment design matters: the
    * panel keeps ONE (n, Σv, Σv²) BIGINT triple per arm in a
    * complete-mode aggregate, and the dashboard composes the MDE /
    * required-n for any target power from the two emitted rows —
    * "when can we stop this experiment" updates continuously without
    * any recomputation over history. The emitted integers are
    * EXACTLY the batch op's moment aggregate, so the parity test
    * recomposes the batch MDE bit-for-bit from the streamed cells. */
  def powerMoments(events: Dataset[Event]): DataFrame =
    Analytics.armMoments(localFs(events).toDF())

  /** Live target-encoder refresh — the streaming form of
    * feat_target_encode: the train/val split is a pure hash of the
    * event id (so an event's membership never depends on arrival
    * order or batch boundaries — the property that lets the encoder
    * stream at all), and the panel keeps per-category conditional
    * (n, Σcents) pairs for both splits in one complete-mode
    * aggregate. The smoothed encoding and the train-global prior
    * both recompose from the emitted integers (prior = Σs_train /
    * Σn_train over the rows), so a model server can refresh its
    * encoding table from the panel without a batch job. */
  def targetEncodeMoments(events: Dataset[Event]): DataFrame =
    PipelineOps.targetEncodeSums(
      PipelineOps.targetEncodeRows(localFs(events).toDF()))

  /** Streaming Poisson bootstrap — the live form of ab_bootstrap_ci,
    * and the reason the Poisson form wins in production: each
    * arriving purchase draws its 64 resample weights LOCALLY (the
    * batch op's own md5-u16 → Poisson(1) inverse-CDF,
    * [[Analytics.poissonMeans]] — a pure function of (event_id, b), so
    * replay and batch agree bit-for-bit), and the running state is
    * just 64 (Σw·v, Σw) BIGINT pairs in a complete-mode aggregate.
    * Every batch emits the 64 exact integer resample means; the CI is
    * the 4th/61st order statistic of the emitted table — which a
    * dashboard (or the parity test) computes from 64 rows. A classical
    * multinomial bootstrap cannot stream at all: it needs n before it
    * draws. */
  def bootstrapMeans(events: Dataset[Event]): DataFrame =
    Analytics.poissonMeans(Analytics.purchaseCents(localFs(events).toDF()))

  case class BandRow(band_key: Long, doc_id: Long, toks: Array[Long])
  case class BandBucket(ids: Seq[Long], toks: Seq[Seq[Long]],
      drops: Long = 0L)

  /** Arrivals rejected by a frozen (at-cap) band bucket in the most
    * recent dedupNear stream — the observable counter for the
    * stream-vs-batch contract divergence (r9, ADVICE): batch drops an
    * over-cap bucket RETROACTIVELY while the stream freezes it and
    * keeps its earlier pairs, so any nonzero value here means the
    * parity claim no longer holds and the bucket cap needs retuning.
    * Zero at every tested SF (StreamingSpec pins parity). Backed by a
    * named LongAccumulator so it also surfaces in the Spark UI. */
  @transient @volatile private var frozenAcc:
      org.apache.spark.util.LongAccumulator = _
  def frozenBucketDrops: Long =
    Option(frozenAcc).map(_.value: Long).getOrElse(0L)
  case class NearPair(id1: Long, id2: Long, jac: Double)

  /** Per-document LSH signature computed EXACTLY as the batch pipeline
    * does (graft.queries.NearDup): word-3-gram shingles, K=64 minhash
    * minima of the same derandomized affine family over the same
    * interpreted xxhash64 (XxHash64Function IS what the Catalyst
    * expression evaluates), band keys as the same xxhash64(band idx,
    * m2j, m2j+1) left-fold — so a doc's 32 band keys and its sorted
    * verify-token set are BIT-IDENTICAL to the batch banded/toks
    * tables. Docs with < 3 tokens have no shingles and return None
    * (they never enter either pipeline). */
  private[graft] def lshSignature(text: String): Option[(Array[Long], Array[Long])] = {
    import graft.queries.NearDup.{P, NumHashes, Rows, Bands, coefA, coefB}
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    def xxh(v: Any, t: org.apache.spark.sql.types.DataType, seed: Long) =
      XxHash64Function.hash(v, t, seed)
    val w = text.split(" ", -1)
    if (w.length < 3) return None
    val shHash = Array.tabulate(w.length - 2) { i =>
      xxh(UTF8String.fromString(s"${w(i)} ${w(i + 1)} ${w(i + 2)}"),
        StringType, 42L)
    }
    val mins = Array.fill(NumHashes)(Long.MaxValue)
    var s = 0
    while (s < shHash.length) {
      val h = ((shHash(s) % P) + P) % P
      var i = 0
      while (i < NumHashes) {
        val v = ((coefA(i) * h + coefB(i)) % P + P) % P
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      s += 1
    }
    val bandKeys = Array.tabulate(Bands) { j =>
      xxh(Long.box(mins(j * Rows + 1)), LongType,
        xxh(Long.box(mins(j * Rows)), LongType,
          xxh(Int.box(j), IntegerType, 42L)))
    }
    Some((bandKeys, shHash.distinct.sorted))
  }

  /** Streaming LSH-index incremental near-dup detection — the twin of
    * batch dedup_near and THE production dedup mechanism
    * dedup_clusters_incremental's scaleNote names (SCALE.md): the band
    * buckets are an inverted index held as per-band-key state; each
    * arriving doc probes its 32 band keys against that PERSISTED index
    * (|delta|·32 lookups, never a corpus re-band) and emits its new
    * verified pairs (exact Jaccard ≥ tau on the sorted token sets)
    * the moment it lands. A pair colliding in several bands emits once
    * per band with the identical jac (exact Jaccard is band-
    * independent) — readers take the distinct set, as the parity test
    * does. Densification guard: a bucket at MaxBucketDocs freezes
    * (late arrivals to it neither probe nor join — the epoch-pinned
    * cap decision any streaming LSH index makes; batch drops the
    * whole over-cap bucket retroactively, and at tested SFs no bucket
    * reaches the cap, so stream ≡ batch — StreamingSpec pins it).
    * Every frozen-bucket rejection is COUNTED (r9, ADVICE): the
    * `frozen_bucket_drops` accumulator / [[frozenBucketDrops]] and the
    * bucket's persisted `drops` field make the stream≠batch contract
    * break observable the moment real data reaches the cap.
    * State per bucket: ≤ 64 (doc_id, token-set) members; at 100 TB
    * the store shards by band_key (RocksDB), and token sets for
    * verify can live in a side lookup to keep state skinny. */
  def dedupNear(docs: Dataset[Doc], tau: Double = 0.5): Dataset[NearPair] = {
    import docs.sparkSession.implicits._
    val cap = graft.queries.NearDup.MaxBucketDocs.toInt
    // the freeze counter (r9, ADVICE): every arrival a frozen bucket
    // turns away bumps this accumulator AND the bucket's own drops
    // field, so the silent stream≠batch divergence has a runtime
    // signal (UI metric + frozenBucketDrops) and a persisted trace
    // (state survives restarts with the bucket)
    val frozen = localFs(docs).sparkSession.sparkContext
      .longAccumulator("graft.stream_dedup_near.frozen_bucket_drops")
    frozenAcc = frozen
    docs
      .flatMap { d =>
        lshSignature(d.text) match {
          case Some((bands, toks)) =>
            bands.iterator.map(bk => BandRow(bk, d.doc_id, toks))
          case None => Iterator.empty
        }
      }
      .groupByKey(_.band_key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[BandRow], state: GroupState[BandBucket]) =>
          var st = state.getOption.getOrElse(BandBucket(Nil, Nil))
          val out = Seq.newBuilder[NearPair]
          for (r <- rows.toSeq.sortBy(_.doc_id)) {
            if (st.ids.size >= cap && !st.ids.contains(r.doc_id)) {
              // frozen bucket turning away a new doc: count it — the
              // contract violation must be observable, not silent
              frozen.add(1L)
              st = st.copy(drops = st.drops + 1L)
            } else if (st.ids.size < cap && !st.ids.contains(r.doc_id)) {
              for ((mid, mtoks) <- st.ids.zip(st.toks)) {
                val ni = sortedIntersect(mtoks, r.toks)
                val un = mtoks.size + r.toks.length - ni
                if (un > 0 && ni.toDouble / un >= tau) {
                  val jac = BigDecimal(ni.toDouble / un)
                    .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
                  out += NearPair(math.min(mid, r.doc_id),
                    math.max(mid, r.doc_id), jac)
                }
              }
              st = BandBucket(st.ids :+ r.doc_id,
                st.toks :+ r.toks.toIndexedSeq, st.drops)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  case class CurveState(n: Long)
  case class CurveRow(thr_bp: Int, n_pairs: Long)

  /** Streaming threshold-tuning curve (r10, VERDICT task 7) — the live
    * consumer of batch emb_threshold_curve's measurement, fed by
    * [[dedupNear]]'s emitted pair stream: a RUNNING count of verified
    * near-dup pairs at each similarity cutoff (exact int basis points,
    * the batch grid), one CurveRow per (threshold, micro-batch with
    * new pairs). The tuning table every production dedup watches live:
    * a release-over-release knee shift in this curve is threshold
    * drift arriving WITH the data instead of at the next batch audit.
    *
    * State is O(|thresholds|) — one counter per cutoff. Distinctness
    * needs no pair memory: dedupNear creates a pair exactly once,
    * in the micro-batch where its second member arrives (the index
    * state prevents re-pairing), and its per-band duplicate emissions
    * land in that SAME batch — so a within-batch distinct set in the
    * fold is complete deduplication. Chained fMGWS stages run in
    * Append mode (multi-stateful support); the running counts are
    * monotone, so readers take max(n_pairs) per threshold — exactly
    * the per-key last-emit. StreamingSpec parity-proves the final
    * curve against the batch pair table on ordered replay. */
  def thresholdCurve(pairs: Dataset[NearPair],
      thresholds: Seq[Int] = Seq(2500, 5000, 7500, 9000, 9500)): Dataset[CurveRow] = {
    import pairs.sparkSession.implicits._
    val thr = thresholds.toArray
    localFs(pairs)
      .flatMap(p => thr.iterator
        .filter(t => p.jac >= t.toDouble / 10000.0)
        .map(t => (t, p.id1, p.id2)))
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (t: Int, rows: Iterator[(Int, Long, Long)],
            state: GroupState[CurveState]) =>
          // within-batch distinct set = complete dedup (see scaladoc)
          val fresh = rows.map(r => (r._2, r._3)).toSet.size
          val n = state.getOption.map(_.n).getOrElse(0L) + fresh
          state.update(CurveState(n))
          Iterator(CurveRow(t, n))
      }
  }

  /** Streaming malformed-line quarantine — the live twin of batch
    * source_quarantine and the posture the reference's polling loop
    * needs EVERY cycle (a feed API mid-deploy emits truncated JSON;
    * the cycle must neither die nor silently shrink): each
    * micro-batch's raw lines are parsed with from_json, good rows
    * flow on typed, bad lines route to quarantine WITH their raw
    * bytes. Stateless (map-only — the stream analog of a scan-side
    * predicate), so it composes in front of every stateful op here;
    * the per-batch quarantine count is the feed-health signal
    * ts_calendar_gaps watches day-over-day. StreamingSpec proves the
    * routed totals equal the batch operator's on the same planted
    * fixture lines. */
  def quarantine(lines: DataFrame): DataFrame = {
    // a malformed line parses to a row of nulls, not a NULL struct:
    // the corrupt-record column is what flags it
    val bad = col("r").isNull || col("r._corrupt_record").isNotNull
    localFs(lines)
      .select(col("line"),
        from_json(col("line"), SourceOps.QuarantineSchema).as("r"))
      .select(
        when(bad, lit("quarantine")).otherwise(lit("ok")).as("kind"),
        when(!bad, col("r.page")).as("page"),
        when(!bad, col("r.station")).as("station"),
        when(!bad, col("r.num")).as("num"),
        when(!bad, col("r.delay_min")).as("delay_min"),
        when(bad, col("line")).as("bad_raw"))
  }

  /** Merge-count over two ascending-sorted distinct hash sequences —
    * the in-fold analog of plans.SortedIntersectCount. */
  private def sortedIntersect(a: Seq[Long], b: Array[Long]): Int = {
    val ai = a.iterator.buffered
    var bi = 0
    var n = 0
    while (ai.hasNext && bi < b.length) {
      val x = ai.head
      if (x == b(bi)) { n += 1; ai.next(); bi += 1 }
      else if (x < b(bi)) ai.next()
      else bi += 1
    }
    n
  }
}

/** Durable keyed upsert sink over parquet — the Dynamo table analog
  * with real storage: each micro-batch merges into a compacted state
  * table (latest row per key by (ts, event_id), the same tie rule as
  * everywhere else). Write is atomic via directory swap; replaying a
  * batch is a no-op because the merge is idempotent.
  *
  * 100 TB note: this is the compact-on-write strategy — correct for
  * state tables that fit a rewrite (|keys| bounded). For unbounded
  * state use partition-overwrite on a bucketed key range or a log-
  * structured table format; the merge expression is unchanged. */
class ParquetUpsertSink(path: String) extends Serializable {
  import org.apache.spark.sql.{DataFrame, SaveMode}

  def upsert(batch: DataFrame): Unit = {
    val spark = batch.sparkSession
    val dst = new org.apache.hadoop.fs.Path(path)
    // the PATH's own filesystem, not the default one — FileSystem.get
    // (conf) returns the default FS, and with e.g. an hdfs:// default
    // and an s3a:// sink path every exists()/rename() below would
    // either throw Wrong FS or consult the wrong store (an exists(dst)
    // = false on the wrong FS silently drops all prior state)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def collapse(df: DataFrame) = df
      .groupBy("user_id")
      .agg(max(struct(col("ts").as("t"), col("event_id").as("e"),
        col("value").as("v"))).as("s"))
      .select(col("user_id"), col("s.t").as("ts"),
        col("s.e").as("event_id"), col("s.v").as("value"))
    val latestOfBatch = collapse(batch)
    // crash recovery: a failure between rename(dst, backup) and
    // rename(tmp, dst) leaves no dst but a complete dst.backup —
    // restore it before merging, otherwise this batch would silently
    // rebuild state from itself alone
    val backup0 = new org.apache.hadoop.fs.Path(path + ".backup")
    if (!fs.exists(dst) && fs.exists(backup0)) fs.rename(backup0, dst)
    // existence via the SAME filesystem the writes use (a java.io.File
    // check would silently discard prior state on hdfs://, s3a://, …)
    val merged = if (fs.exists(dst))
      collapse(spark.read.parquet(path).unionByName(latestOfBatch))
    else latestOfBatch
    val tmp = new org.apache.hadoop.fs.Path(path + ".staging")
    merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // swap keeps a recoverable copy at every step: old state moves to
    // .backup before the new table takes its place, and the backup is
    // dropped only after the new state is in position. A crash leaves
    // either dst or dst.backup intact — true atomicity needs a
    // manifest/table format; this is the closest a directory swap gets.
    val backup = new org.apache.hadoop.fs.Path(path + ".backup")
    fs.delete(backup, true)
    if (fs.exists(dst)) fs.rename(dst, backup)
    fs.rename(tmp, dst)
    fs.delete(backup, true)
  }

  def state(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.read.parquet(path)
}

/** In-memory keyed KV standing in for the DynamoDB sink in tests.
  * Upsert keeps the (ts, event_id)-max value per key — idempotent
  * under micro-batch replay.
  *
  * The backing map lives in a JVM-wide registry keyed by store id
  * (the MemorySink pattern): task closures serialize a COPY of this
  * object, and the copy resolves to the same map, so per-partition
  * executor writes stay visible to the driver-side instance in
  * local/test mode. A multi-JVM cluster needs a real external KV —
  * that path is [[ParquetUpsertSink]]. */
object UpsertStore {
  private val stores = scala.collection.concurrent.TrieMap
    .empty[String, scala.collection.concurrent.TrieMap[Long, (java.sql.Timestamp, Long, Double)]]
  private[streaming] def mapFor(id: String) =
    stores.getOrElseUpdate(id,
      scala.collection.concurrent.TrieMap.empty[Long, (java.sql.Timestamp, Long, Double)])
}

class UpsertStore extends Serializable {
  private val id = java.util.UUID.randomUUID().toString
  private def m = UpsertStore.mapFor(id)
  /** Drop this store's backing map from the JVM-wide registry — the
    * registry holds the only strong reference, so without close() a
    * long-lived process accumulates one map per store instance. */
  def close(): Unit = UpsertStore.stores.remove(id)
  def put(k: Long, v: (java.sql.Timestamp, Long, Double)): Unit =
    m.updateWith(k) {
      case Some(old) if Ordering[(Long, Long)].gteq(
        (old._1.getTime, old._2), (v._1.getTime, v._2)) => Some(old)
      case _ => Some(v)
    }
  def snapshot: Map[Long, (java.sql.Timestamp, Long, Double)] = m.toMap
  def size: Int = m.size
}
