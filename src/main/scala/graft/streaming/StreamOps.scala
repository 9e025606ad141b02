package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming extension (SURVEY §2.10: the reference is pure
  * batch — this is our engine's stream surface, same operators compiled
  * over unbounded input).
  *
  * Each transform takes a streaming OR batch DataFrame — identical plans
  * either way, which is the point: the batch analogs in
  * [[graft.queries.EventQueries]] are oracle-checked, and these are the
  * watermarked incremental forms (state cleanup bounded by the watermark;
  * at scale state lives in the state store keyed by the groupBy columns —
  * one shuffle, partitioned like any agg).
  */
object StreamOps {

  /** Tumbling-window counts per event type with late-data bound. */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Stream–static enrichment: each event joined to a static dim table on
    * `key`. Stateless — no watermark needed (nothing is buffered); the
    * static side is broadcast, so the unbounded fact stream never
    * shuffles. Batch twin: `e7_stream_static_enrich`.
    */
  def enrich(events: DataFrame, dim: DataFrame, key: Seq[String]): DataFrame =
    events.join(broadcast(dim), key)

  /** Streaming dedup on event_id within the watermark horizon
    * (dropDuplicates — the streaming form of [[graft.ops.Dedup.keepFirst]]).
    */
  def dedup(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicates("event_id")

  /** Exactly-once-BY-KEY streaming ingest into a parquet table, with an
    * UNBOUNDED dedup horizon: [[dedup]]'s dropDuplicates state is bounded
    * by the watermark (a key recurring a week later lands twice), this
    * foreachBatch sink instead anti-joins each batch against the keys
    * already ON DISK — the [[graft.domain.MemoCache]] discipline applied
    * to a stream. Within a batch, keep-first is deterministic by
    * (orderCol, key). Batch replays after a crash are idempotent for any
    * COMMITTED prior write (already-present keys filter out); the same
    * single-writer assumption as MemoCache applies. At scale the
    * anti-join probe is one keyed shuffle of the (small) batch against
    * the table's key column — column-pruned to the key, never the
    * payload.
    */
  def startDedupIngest(src: DataFrame, key: String, orderCol: String,
                       path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    src.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(key)).orderBy(col(orderCol), col(key))
        val fresh = batch
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        // only a missing table, or one with no committed file, is empty:
        // a table without the key column fails the batch, never appends it
        graft.domain.MemoCache.readTable(batch.sparkSession, path)
          .fold(fresh)(e => fresh.join(e.select(col(key)), Seq(key), "left_anti"))
          .write.mode("append").parquet(path)
      }
      .start()

  /** Stream–stream interval join (the canonical attribution join: each
    * error matched to same-user clicks within the preceding `lag`). BOTH
    * sides carry a watermark and the join has a two-sided time-range
    * condition — that pair is what lets the state store evict buffered
    * rows once the watermark passes the window; with either missing, the
    * buffered side grows without bound. One shuffle per side on the user
    * key, range pruning inside the state store. Column contract:
    * errors(error_id, e_user, ets), clicks(click_id, c_user, cts) with
    * timestamp-typed ets/cts.
    *
    * Skew/state bound (measured — StreamingSpec "interval-join state is
    * bounded on a skewed key"): per-key state holds only rows still inside
    * the watermark+lag horizon, NOT the key's total history — a 200-row
    * hot-key history holds ~42 state rows (its 40-minute horizon window)
    * while hot and evicts once the watermark passes (cts + lag). So a hot
    * key costs rate × horizon rows of state; the
    * knob is the watermark delay. The batch tier's RangeJoinBinningRule
    * has no streaming analog here because the state store already
    * range-prunes on the watermark — binning would add a shuffle key
    * without shrinking state.
    */
  def intervalJoin(errors: DataFrame, clicks: DataFrame,
                   lag: String = "10 minutes",
                   watermark: String = "2 hours"): DataFrame = {
    val e = errors.withWatermark("ets", watermark)
    val c = clicks.withWatermark("cts", watermark)
    e.join(c, col("e_user") === col("c_user") &&
      col("cts") >= col("ets") - expr(s"interval $lag") &&
      col("cts") <= col("ets"))
      .select(col("error_id"), col("click_id"), col("e_user").as("user_id"),
        col("ets"), col("cts"))
  }

  /** LEFT OUTER stream-stream interval join: like [[intervalJoin]], but an
    * error with NO click in its window still emits (null click) — the
    * "errors without a preceding interaction" feed. Outer stream-stream
    * joins REQUIRE both the watermarks and the time-range condition: the
    * null side of an unmatched row is only decidable once the watermark
    * passes the row's match window, so unmatched results trail the event
    * by the watermark delay (they flush on a later batch), while state
    * stays bounded by the same window-pruning as the inner form.
    */
  def intervalJoinOuter(errors: DataFrame, clicks: DataFrame,
                        lag: String = "10 minutes",
                        watermark: String = "2 hours"): DataFrame = {
    val e = errors.withWatermark("ets", watermark)
    val c = clicks.withWatermark("cts", watermark)
    e.join(c, col("e_user") === col("c_user") &&
      col("cts") >= col("ets") - expr(s"interval $lag") &&
      col("cts") <= col("ets"), "left_outer")
      .select(col("error_id"), col("click_id"), col("e_user").as("user_id"),
        col("ets"), col("cts"))
  }

  /** Streaming materialized view: the update-mode twin of
    * [[tumblingCounts]] merged into a parquet SERVING table keyed by
    * (win_start, event_type) — the "stream keeps a dashboard table
    * current" shape. Each micro-batch emits only the (window, type) rows
    * whose counts changed; the sink upserts them: anti-join the current
    * table on the key (drop superseded rows), union the fresh ones,
    * rewrite. The merged frame is eagerly checkpointed BEFORE the
    * overwrite — the plan reads the same path it is about to replace, and
    * parquet reads are lazy — and freed after it, so a long-running stream
    * holds no per-batch copy of the view. Rewrite-the-table is exact for a
    * dashboard-sized view; at lake scale the same merge targets only
    * touched partitions (partitionBy(win_start) + dynamic partition
    * overwrite) or a MERGE-capable table format.
    */
  def startCountsMatView(events: DataFrame, path: String, checkpoint: String,
                         window_ : String = "1 hour",
                         watermark: String = "2 hours")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val counts = events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))
    counts.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val keys = Seq("win_start", "event_type")
        // only a missing table, or one with no committed file, is empty:
        // a table that cannot be read fails the batch, never overwrites it
        val merged = graft.domain.MemoCache.readTable(spark, path)
          .fold(batch)(e => e.join(batch, keys, "left_anti").unionByName(batch))
        // the checkpoint severs the plan from the path we overwrite
        graft.ops.Blocks.using(merged)(_.write.mode("overwrite").parquet(path))
      }
      .start()
  }

  /** Event-time in unix MICROseconds. State ops sort and difference by
    * this, matching their batch twins' epoch_us arithmetic — getTime's
    * milliseconds would truncate sub-ms ordering, and the order-sensitive
    * ops (ewma's fold, funnel stage decisions, session gaps, quota
    * admission) would then diverge from the batch definitions on
    * same-millisecond events. TTL clocks stay in getTime milliseconds
    * (GroupState timeouts are ms-based).
    */
  private def eventMicros(t: Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000

  case class Evt(event_id: Long, ts: Timestamp, user_id: Long,
                 event_type: String, value: Double)
  case class SessionState(sessionStart: Long, lastTs: Long, nEvents: Int)
  case class SessionOut(user_id: Long, session_start_us: Long, n_events: Int,
                        duration_us: Long)

  /** Session windows via flatMapGroupsWithState (the streaming analog of
    * EventQueries.e2): a session is emitted when a later event of the same
    * user arrives beyond the gap, OR when the event-time WATERMARK passes
    * the session's gap horizon — without the timeout branch each user's
    * FINAL session would sit in state forever and never reach the sink.
    * Event-time (not processing-time) timeouts: the watermark both drives
    * flushes and bounds state, and the query settles between batches
    * (processing-time timeouts spin continuous empty micro-batches).
    */
  def sessionize(spark: SparkSession, events: Dataset[Evt],
                 gapUs: Long = 30L * 60 * 1000 * 1000,
                 watermarkDelay: String = "1 minute"): Dataset[SessionOut] = {
    import spark.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[Evt], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed lastTs + gap with no new events: flush
            val st = state.get
            state.remove()
            Iterator(SessionOut(user, st.sessionStart, st.nEvents,
              st.lastTs - st.sessionStart))
          } else {
            val sorted = rows.toSeq.sortBy(e => (eventMicros(e.ts), e.event_id))
            var st = state.getOption.orNull
            val out = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val tUs = eventMicros(e.ts)
              if (st == null) st = SessionState(tUs, tUs, 1)
              else if (tUs - st.lastTs > gapUs) {
                out += SessionOut(user, st.sessionStart, st.nEvents,
                  st.lastTs - st.sessionStart)
                st = SessionState(tUs, tUs, 1)
              } else
                // cross-batch disorder: a late in-window event must never
                // regress lastTs (negative durations, earlier timeout) or
                // it extends the session START backwards instead
                st = SessionState(math.min(st.sessionStart, tUs),
                  math.max(st.lastTs, tUs), st.nEvents + 1)
            }
            if (st != null) {
              state.update(st)
              state.setTimeoutTimestamp(st.lastTs / 1000 + gapUs / 1000) // ms
            }
            out.result().iterator
          }
      }
  }

  /** e10's BUILT-IN `session_window` under readStream — literally the same
    * aggregation as the batch gate query, which is the entire point of
    * using the built-in operator: one code path for both modes. Append
    * mode + watermark: a session row is emitted once (final) when the
    * watermark passes its end. Output matches e10's shape — end_us = last
    * event + gap, half-open boundary (a delta of exactly the gap starts a
    * new session). Use [[sessionize]] when emission must also fire on the
    * in-stream gap-crossing event (custom state), this when the built-in
    * watermark-final contract suffices.
    */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
                     watermarkDelay: String = "1 minute"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"), col("n_events"))

  case class FunnelOut(user_id: Long, stage: Int, at_us: Long)
  case class FunnelState(tView: Long, tClick: Long, tPurchase: Long,
                         lastTsMs: Long)

  /** Streaming conversion funnel — the e13 twin: per user, emit a row each
    * time the funnel ADVANCES (view → click → purchase), with the same
    * ordered-and-windowed semantics as the batch query: a stage counts
    * only strictly after the previous stage and within `windowUs` of it.
    * State is three fixed timestamps per user (-1 = not reached) — O(1)
    * regardless of event volume, the property that makes a funnel viable
    * over an unbounded stream — plus the quota op's TTL discipline so
    * forever-idle users expire. Monotone-advance semantics: rows are
    * processed in event-time order WITHIN each batch, and a cross-batch
    * straggler that would have qualified earlier cannot retract an
    * already-advanced stage (same at-watermark finality trade every
    * streaming funnel makes; the batch e13 is the exact retrospective
    * form).
    */
  def funnel(spark: SparkSession, events: Dataset[Evt],
             windowUs: Long = 24L * 3600 * 1000 * 1000,
             watermarkDelay: String = "1 minute",
             ttlMs: Long = 2L * 3600 * 1000): Dataset[FunnelOut] = {
    import spark.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[Evt], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(e => (eventMicros(e.ts), e.event_id))
            var st = state.getOption
              .getOrElse(FunnelState(-1L, -1L, -1L, 0L))
            val out = Seq.newBuilder[FunnelOut]
            sorted.foreach { e =>
              val tUs = eventMicros(e.ts)
              e.event_type match {
                case "view" if st.tView < 0 =>
                  st = st.copy(tView = tUs); out += FunnelOut(user, 1, tUs)
                case "click" if st.tClick < 0 && st.tView >= 0 &&
                    tUs > st.tView && tUs <= st.tView + windowUs =>
                  st = st.copy(tClick = tUs); out += FunnelOut(user, 2, tUs)
                case "purchase" if st.tPurchase < 0 && st.tClick >= 0 &&
                    tUs > st.tClick && tUs <= st.tClick + windowUs =>
                  st = st.copy(tPurchase = tUs); out += FunnelOut(user, 3, tUs)
                case _ =>
              }
            }
            st = st.copy(lastTsMs = math.max(st.lastTsMs,
              sorted.lastOption.map(_.ts.getTime).getOrElse(st.lastTsMs)))
            state.update(st)
            state.setTimeoutTimestamp(st.lastTsMs + ttlMs)
            out.result().iterator
          }
      }
  }

  case class EwmaOut(user_id: Long, event_id: Long, value: Double,
                     ewma: Double)
  case class EwmaState(window: List[Double], lastTsMs: Long)

  /** Per-key streaming EWMA — the `w6_ewma` twin: each event emits the
    * 30-row truncated smoother, recomputed as the SAME left fold
    * (acc·½ + x·½) over the retained window, so on in-order data the
    * streamed values converge bit-for-bit to the batch query. State per
    * key is a ≤`window`-element list plus the TTL clock — bounded
    * regardless of stream length — and idle keys expire via event-time
    * timeout (the quota op's discipline). Rows are folded in event-time
    * order within each batch; a cross-batch straggler smooths from the
    * state as of its arrival (at-watermark finality, the same trade the
    * funnel makes — batch w6 is the exact retrospective form).
    */
  def ewma(spark: SparkSession, events: Dataset[Evt], window: Int = 30,
           watermarkDelay: String = "1 minute",
           ttlMs: Long = 2L * 3600 * 1000): Dataset[EwmaOut] = {
    import spark.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[Evt], state: GroupState[EwmaState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // micro-ordered: the fold is order-sensitive (acc·½ + x·½),
            // and the batch w6 twin orders by unix micros
            val sorted = rows.toSeq.sortBy(e => (eventMicros(e.ts), e.event_id))
            var st = state.getOption.getOrElse(EwmaState(Nil, Long.MinValue))
            val out = Seq.newBuilder[EwmaOut]
            sorted.foreach { e =>
              val win = (st.window :+ e.value).takeRight(window)
              val sm = win.tail.foldLeft(win.head)((a, x) => a * 0.5 + x * 0.5)
              out += EwmaOut(user, e.event_id, e.value, sm)
              st = st.copy(window = win)
            }
            st = st.copy(lastTsMs = math.max(st.lastTsMs,
              sorted.lastOption.map(_.ts.getTime).getOrElse(st.lastTsMs)))
            state.update(st)
            state.setTimeoutTimestamp(st.lastTsMs + ttlMs)
            out.result().iterator
          }
      }
  }

  case class GapOut(event_id: Long, user_id: Long, event_type: String,
                    gap_s: Long)
  case class GapState(lastMicros: Long, lastTsMs: Long)

  /** Per-event inter-arrival gap — the streaming twin of the batch lag
    * window feeding `e17_interevent_gaps` (the batch query then
    * aggregates the gap stream to per-type percentiles; a streaming
    * deployment feeds the same cells table incrementally). State is ONE
    * (last-event-micros, ttl-clock) pair per user — a 100-event user
    * holds exactly one state row, the funnel/EWMA bound discipline — and
    * idle users expire via event-time timeout. Within each batch rows
    * fold in (event micros, event_id) order — the batch twin's lag
    * ordering — so in-order streams reproduce the batch gaps exactly;
    * the first event of a key emits nothing (lag's NULL row, filtered).
    * A cross-batch straggler (late but inside the watermark) is DROPPED,
    * not emitted, and the state clock advances monotonically — a
    * straggler must never rewind `lastMicros`, or it would emit a
    * negative gap itself AND make the next in-order event measure
    * against the straggler instead of the latest event seen (events at
    * t=100, straggler t=10, t=110 would yield gaps −90 and 100 instead
    * of the correct 10). At-watermark finality, the EWMA trade.
    */
  def interEventGaps(spark: SparkSession, events: Dataset[Evt],
                     watermarkDelay: String = "1 minute",
                     ttlMs: Long = 2L * 3600 * 1000): Dataset[GapOut] = {
    import spark.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[GapState, GapOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[Evt], state: GroupState[GapState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(e => (eventMicros(e.ts), e.event_id))
            var st = state.getOption.getOrElse(GapState(Long.MinValue, Long.MinValue))
            val out = Seq.newBuilder[GapOut]
            sorted.foreach { e =>
              val m = eventMicros(e.ts)
              // a straggler below the state clock emits nothing and the
              // clock only ever advances (see scaladoc: no rewinds)
              if (st.lastMicros != Long.MinValue && m >= st.lastMicros)
                out += GapOut(e.event_id, user, e.event_type,
                  Math.floorDiv(m - st.lastMicros, 1000000L))
              st = GapState(math.max(st.lastMicros, m),
                math.max(st.lastTsMs, e.ts.getTime))
            }
            state.update(st)
            if (st.lastTsMs != Long.MinValue)
              state.setTimeoutTimestamp(
                math.max(st.lastTsMs + ttlMs, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  case class CusumOut(event_id: Long, user_id: Long, cusum: Double)
  case class CusumState(s: Double, lastMicros: Long, lastTsMs: Long)

  /** One-sided CUSUM drift detector — the streaming twin of the batch
    * `w7_cusum` fold: s ← max(0, s + (x − target)) per user, emitted per
    * event so an alerting sink can threshold the statistic the moment it
    * drifts (the batch query reads the same value at rest). State is ONE
    * (double, clock) row per user — the funnel/EWMA bound — with
    * event-time TTL expiry. Within a batch rows fold in (event-micros,
    * event_id) order — w7's sort_array order — so an in-order stream's
    * last emission per user is bit-identical to the batch statistic
    * (same IEEE adds, same max). Cross-batch stragglers (late but inside
    * the watermark) are DROPPED and the clock never rewinds — the gaps
    * discipline: a CUSUM fold can't be retroactively reordered without
    * replaying the suffix, so the stream honestly tracks the on-time
    * subsequence rather than silently folding out of order.
    */
  def cusumDrift(spark: SparkSession, events: Dataset[Evt],
                 target: Double = 50.0, watermarkDelay: String = "1 minute",
                 ttlMs: Long = 2L * 3600 * 1000): Dataset[CusumOut] = {
    import spark.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[Evt], state: GroupState[CusumState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(e => (eventMicros(e.ts), e.event_id))
            var st = state.getOption
              .getOrElse(CusumState(0.0, Long.MinValue, Long.MinValue))
            val out = Seq.newBuilder[CusumOut]
            sorted.foreach { e =>
              val m = eventMicros(e.ts)
              if (m >= st.lastMicros) { // stragglers drop; clock never rewinds
                val s = math.max(st.s + e.value - target, 0.0)
                out += CusumOut(e.event_id, user, s)
                st = CusumState(s, m, math.max(st.lastTsMs, e.ts.getTime))
              }
            }
            state.update(st)
            if (st.lastTsMs != Long.MinValue)
              state.setTimeoutTimestamp(
                math.max(st.lastTsMs + ttlMs, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  case class HllOut(hour_start_ms: Long, est: Double, used: Long, zeros: Long)
  case class HllState(regs: Array[Byte])

  /** Approximate distinct users per tumbling hour — the streaming twin of
    * the batch HLL calibration (`hll1_distinct_calibration`), sharing its
    * ENTIRE core through [[graft.functions.Hll]]: same packed hash, same
    * quadratic spread, same register/rho derivation, same estimator
    * literals — so feeding the stream and the batch query the same events
    * yields bit-identical registers and estimates (the spec pins it).
    *
    * Why this is THE streaming distinct-count shape: exact streaming
    * distinct needs per-key membership state that grows with cardinality
    * (unbounded); the HLL state is ONE 256-byte register array per open
    * window — a million-user hour holds the same 256 bytes as a ten-user
    * hour. Emission is watermark-final via event-time timeout: exactly
    * one row per window, after the watermark passes the window end —
    * never a stream of revisions (the funnel/EWMA finality trade).
    */
  def approxDistinct(spark: SparkSession, events: Dataset[Evt],
                     watermarkDelay: String = "1 minute"): Dataset[HllOut] = {
    import spark.implicits._
    import graft.functions.{Hll, StableHash}
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(e => e.ts.getTime - Math.floorMod(e.ts.getTime, 3600000L))
      .flatMapGroupsWithState[HllState, HllOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (hourMs: Long, rows: Iterator[Evt], state: GroupState[HllState]) =>
          if (state.hasTimedOut) {
            val regs = state.get.regs
            state.remove()
            val (est, used, zeros) = Hll.estimate(regs)
            Iterator.single(HllOut(hourMs, est, used, zeros))
          } else {
            val st = state.getOption.getOrElse(
              HllState(new Array[Byte](Hll.M)))
            rows.foreach { e =>
              val h = StableHash.polyHash64Local("u" + e.user_id)
              val r = Hll.register(h)
              val rho = Hll.rho(h).toByte
              if (rho > st.regs(r)) st.regs(r) = rho
            }
            state.update(st)
            // fire when the watermark passes the window end (guard: the
            // timeout must sit above the current watermark)
            state.setTimeoutTimestamp(math.max(hourMs + 3600000L,
              state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  case class PairEvt(pair_ms: Long, in_a: Boolean, user_id: Long,
                     ts: Timestamp)
  case class OverlapOut(hour_a_ms: Long, hour_b_ms: Long, est_a: Double,
                        est_b: Double, est_union: Double, est_inter: Double,
                        est_new: Double)
  case class OverlapState(regsA: Array[Byte], regsB: Array[Byte])

  /** HLL set algebra between consecutive hours — the streaming twin of
    * the batch sketch set-algebra tier (`sk6_hll_intersection`'s
    * inclusion-exclusion and `sk5_bottomk_new_users`' difference
    * readout), sharing the register/rho/estimator core with the batch
    * queries through [[graft.functions.Hll]] (one definition — the
    * approxDistinct rule), so identical inputs yield bit-identical
    * registers and estimates (the spec pins the cross-batch fold).
    *
    * One state row per OPEN consecutive-hour pair: each event lands its
    * hour's register update in TWO pair groups — as side b of (h−1, h)
    * and side a of (h, h+1) — so the pair's state is exactly two
    * 256-byte register arrays (512 bytes regardless of cardinality; the
    * spec asserts rows = f(open pairs)). The readout is the full set
    * algebra from those registers alone: union = element-wise register
    * max (the hll2 merge law), intersection = est_a + est_b − est_union
    * (sk6's I-E, same error-compounding caveat), new users = est_union −
    * est_a (sk5's question answered from registers instead of bottom-k
    * minima). Emission is watermark-final — one row per pair, after the
    * watermark passes the SECOND hour's end; pairs missing a side (the
    * stream's first/last hours) stay silent, matching the batch queries'
    * valid-pair join.
    */
  def approxOverlap(spark: SparkSession, events: Dataset[Evt],
                    watermarkDelay: String = "1 minute")
      : Dataset[OverlapOut] = {
    import spark.implicits._
    import graft.functions.{Hll, StableHash}
    events
      .flatMap { e =>
        val h = e.ts.getTime - Math.floorMod(e.ts.getTime, 3600000L)
        Seq(PairEvt(h - 3600000L, in_a = false, e.user_id, e.ts),
          PairEvt(h, in_a = true, e.user_id, e.ts))
      }
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.pair_ms)
      .flatMapGroupsWithState[OverlapState, OverlapOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (pairMs: Long, rows: Iterator[PairEvt],
         state: GroupState[OverlapState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            // a side with zero nonzero registers had NO events in its
            // hour: emit nothing (the batch tier's valid-pair rule)
            if (st.regsA.exists(_ > 0) && st.regsB.exists(_ > 0)) {
              val (ea, _, _) = Hll.estimate(st.regsA)
              val (eb, _, _) = Hll.estimate(st.regsB)
              val u = new Array[Byte](Hll.M)
              var i = 0
              while (i < Hll.M) {
                u(i) = if (st.regsA(i) >= st.regsB(i)) st.regsA(i)
                       else st.regsB(i)
                i += 1
              }
              val (eu, _, _) = Hll.estimate(u)
              Iterator.single(OverlapOut(pairMs, pairMs + 3600000L,
                ea, eb, eu, ea + eb - eu, eu - ea))
            } else Iterator.empty
          } else {
            val st = state.getOption.getOrElse(OverlapState(
              new Array[Byte](Hll.M), new Array[Byte](Hll.M)))
            rows.foreach { e =>
              val h = StableHash.polyHash64Local("u" + e.user_id)
              val r = Hll.register(h)
              val rho = Hll.rho(h).toByte
              val regs = if (e.in_a) st.regsA else st.regsB
              if (rho > regs(r)) regs(r) = rho
            }
            state.update(st)
            // the pair closes when the watermark passes hour b's END
            state.setTimeoutTimestamp(math.max(pairMs + 2 * 3600000L,
              state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  case class QuotaOut(event_id: Long, user_id: Long, quota_rank: Int)
  case class QuotaState(n: Int, lastTsMs: Long)

  /** Per-key streaming quota — the streaming twin of `t9_domain_quota`:
    * admit at most `k` events per key, each tagged with its admission
    * rank; everything past the cap is dropped. State is one (counter,
    * latest-event-time) pair per key, and an event-time timeout expires
    * idle counters (quota resets after `ttl` of key inactivity) so an
    * unbounded key space cannot grow state forever — the state-bound
    * discipline every production rate-cap/stratified-sampling stream
    * needs. The persisted latest-event-time keeps a late (but
    * watermark-valid) batch from rewinding the timeout below the key's
    * true latest activity.
    */
  def quota(spark: SparkSession, events: Dataset[Evt], k: Int = 10,
            watermarkDelay: String = "1 minute",
            ttlMs: Long = 2L * 3600 * 1000): Dataset[QuotaOut] = {
    import spark.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[QuotaState, QuotaOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[Evt], state: GroupState[QuotaState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val st = state.getOption.getOrElse(QuotaState(0, Long.MinValue))
            var n = st.n
            var lastTs = st.lastTsMs
            val out = Seq.newBuilder[QuotaOut]
            // deterministic admission under intra-batch disorder
            rows.toSeq.sortBy(e => (eventMicros(e.ts), e.event_id)).foreach { e =>
              lastTs = math.max(lastTs, e.ts.getTime)
              if (n < k) { n += 1; out += QuotaOut(e.event_id, user, n) }
            }
            state.update(QuotaState(n, lastTs))
            if (lastTs != Long.MinValue)
              // clamp: a ttl shorter than the watermark delay would target
              // a timestamp at/below the current watermark, which
              // setTimeoutTimestamp rejects (killing the query)
              state.setTimeoutTimestamp(
                math.max(lastTs + ttlMs, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  case class RunningOut(user_id: Long, event_id: Long, seq: Int,
                        running_value: Double)
  // total is held in scaled longs (cents): the batch twin w1_running_sum
  // folds in DECIMAL(18,2) for an order-stable exact sum, and cross-batch
  // arrival order differs from event-time order — a Double accumulator
  // would drift from the twin by FP rounding that depends on batch cuts
  case class RunningState(n: Int, totalCents: Long, lastTsMs: Long)

  /** Per-key running totals — the streaming twin of `w1_running_sum`'s
    * cumulative-ledger window. State per key is one (count, total,
    * latest-ts) triple; each event is emitted with its sequence number and
    * the cumulative value. Within a batch events are folded in (ts,
    * event_id) order so intra-batch disorder is deterministic; cross-batch
    * order is event-arrival (a true global event-time order over an
    * unbounded stream would require unbounded buffering — the watermarked
    * batch twin is the exact-order form). Event-time timeout expires idle
    * keys so unbounded key spaces cannot grow state forever.
    */
  def runningTotals(spark: SparkSession, events: Dataset[Evt],
                    watermarkDelay: String = "1 minute",
                    ttlMs: Long = 2L * 3600 * 1000): Dataset[RunningOut] = {
    import spark.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RunningState, RunningOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[Evt], state: GroupState[RunningState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var st = state.getOption.getOrElse(RunningState(0, 0L, Long.MinValue))
            val out = Seq.newBuilder[RunningOut]
            rows.toSeq.sortBy(e => (eventMicros(e.ts), e.event_id)).foreach { e =>
              st = RunningState(st.n + 1,
                st.totalCents + math.round(e.value * 100),
                math.max(st.lastTsMs, e.ts.getTime))
              out += RunningOut(user, e.event_id, st.n, st.totalCents / 100.0)
            }
            state.update(st)
            if (st.lastTsMs != Long.MinValue)
              state.setTimeoutTimestamp(
                math.max(st.lastTsMs + ttlMs, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  case class AsOfOut(event_id: Long, user_id: Long, match_id: Option[Long])
  // pending = left rows awaiting finality; rights = right rows above the
  // watermark; anchor = the single latest right at-or-below the watermark
  // (all older rights collapse into it — the state bound)
  case class AsOfState(pending: List[(Long, Long)], rights: List[(Long, Long)],
                       anchor: Option[(Long, Long)], lastTsMs: Long)

  /** Stream–stream AS-OF enrichment — the streaming twin of
    * `ao1`/`ao4_asof_native` (Flink's event-time temporal join): each
    * `leftType` event is matched with the key's latest `rightType` event
    * at-or-before it.
    *
    * Correctness under cross-batch disorder is the crux: an out-of-order
    * right row arriving in a LATER batch could be the true match for an
    * already-seen left row, so a left row is emitted only once the
    * event-time watermark passes its timestamp — for watermark-valid
    * input the match is then FINAL. Exactly-once per left row, in
    * watermark order. (flatMapGroupsWithState does not auto-drop
    * beyond-watermark rows; they are handled best-effort: a late right
    * folds into the anchor for FUTURE lefts, a late left emits
    * immediately with current knowledge — the same horizon contract as
    * every watermarked op here.)
    *
    * State per key is bounded: pending lefts live only until the
    * watermark passes them; buffered rights at-or-below the watermark
    * collapse into ONE anchor row (the as-of carry for every future
    * left); equal-time rights merge by max id (ao1's dedup
    * precondition). Idle keys expire after `ttlMs` — an expired key
    * loses its anchor, the same horizon trade every watermarked state op
    * makes. At scale this is one shuffle on the key, state-store
    * resident, like any flatMapGroupsWithState op.
    */
  def asofEnrich(spark: SparkSession, events: Dataset[Evt],
                 leftType: String = "error", rightType: String = "click",
                 watermarkDelay: String = "1 minute",
                 ttlMs: Long = 2L * 3600 * 1000): Dataset[AsOfOut] = {
    import spark.implicits._
    def flush(st: AsOfState, wmMs: Long, uid: Long): (AsOfState, Seq[AsOfOut]) = {
      // rights at-or-below the watermark are final candidates; MATCH done
      // lefts against them first (filtered to rt <= lt — folding into the
      // anchor before matching would let a ripe right AFTER a done left
      // masquerade as its match), then collapse them into the new anchor
      val (ripe, rest) = st.rights.partition(_._1 <= wmMs)
      val candidates = (st.anchor.toList ++ ripe).sortBy(r => (r._1, r._2))
      val (done, pend) = st.pending.partition(_._1 <= wmMs)
      val outs = done.sorted.map { case (lt, lid) =>
        // latest eligible right; equal times resolve to max id (ao1's
        // right-side dedup precondition)
        AsOfOut(lid, uid, candidates.filter(_._1 <= lt).lastOption.map(_._2))
      }
      (AsOfState(pend, rest, candidates.lastOption, st.lastTsMs), outs)
    }
    events.withWatermark("ts", watermarkDelay)
      .filter(e => e.event_type == leftType || e.event_type == rightType)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfState, AsOfOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[Evt], state: GroupState[AsOfState]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val st0 = state.getOption.getOrElse(
            AsOfState(Nil, Nil, None, Long.MinValue))
          val rs = rows.toSeq
          val st1 =
            if (rs.isEmpty) st0
            else AsOfState(
              st0.pending ++ rs.filter(_.event_type == leftType)
                .map(e => (e.ts.getTime, e.event_id)),
              st0.rights ++ rs.filter(_.event_type == rightType)
                .map(e => (e.ts.getTime, e.event_id)),
              st0.anchor,
              math.max(st0.lastTsMs, rs.map(_.ts.getTime).max))
          val (st2, outs) = flush(st1, wmMs, user)
          // remove only at GENUINE idle-TTL: a timeout armed as an
          // emission wake (oldest pending left) must not discard the
          // anchor/rights the key's future lefts depend on
          if (state.hasTimedOut && st2.pending.isEmpty && st2.rights.isEmpty &&
              wmMs >= st1.lastTsMs + ttlMs) {
            state.remove()
          } else {
            state.update(st2)
            // wake when the watermark passes the oldest pending left (its
            // emission moment), else at idle-TTL for state cleanup
            val wake = st2.pending.map(_._1).minOption
              .getOrElse(math.max(st2.lastTsMs, wmMs) + ttlMs)
            state.setTimeoutTimestamp(math.max(wake, wmMs + 1))
          }
          outs.iterator
      }
  }

  case class QtOut(hour_start_ms: Long, n: Long, p50_est_cents: Long,
                   p90_est_cents: Long)
  case class QtState(counts: Array[Long])

  /** Streaming approximate quantiles per tumbling hour — completing the
    * bounded-state sketch triad (distinct → [[approxDistinct]],
    * frequent items → [[frequentTypes]], quantiles → here): a fixed
    * 256-bin equi-width histogram over integer cents, the streaming form
    * of st9's binned-quantile calibration. The honest streaming
    * trade-off, stated: a batch histogram derives its span from the
    * data; a stream cannot know the span before the window closes, so
    * the grid is FIXED a priori ([0, QtSpanCents), overflow clamped to
    * the top bin) — which is exactly how production fixed-grid quantile
    * state works, and why domain-free rank sketches exist for the
    * general case. State is ONE 256-long array per open window at any
    * event volume; emission is watermark-final: p50/p90 as bin midpoints
    * via the st9 integer rule (smallest bin with cum·q_den ≥ n·q_num —
    * no float thresholds).
    */
  val QtBins = 256
  val QtSpanCents = 40960L // bin width 160 cents; corpus max ~37k cents

  def approxQuantiles(spark: SparkSession, events: Dataset[Evt],
                      watermarkDelay: String = "1 minute"): Dataset[QtOut] = {
    import spark.implicits._
    val width = QtSpanCents / QtBins
    def pct(counts: Array[Long], n: Long, num: Long, den: Long): Long = {
      var cum = 0L
      var b = 0
      while (b < counts.length) {
        cum += counts(b)
        if (cum * den >= n * num) return b * width + width / 2
        b += 1
      }
      (counts.length - 1) * width + width / 2
    }
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(e => e.ts.getTime - Math.floorMod(e.ts.getTime, 3600000L))
      .flatMapGroupsWithState[QtState, QtOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (hourMs: Long, rows: Iterator[Evt], state: GroupState[QtState]) =>
          if (state.hasTimedOut) {
            val c = state.get.counts
            state.remove()
            val n = c.sum
            Iterator.single(QtOut(hourMs, n,
              pct(c, n, 1, 2), pct(c, n, 9, 10)))
          } else {
            val st = state.getOption.getOrElse(
              QtState(new Array[Long](QtBins)))
            rows.foreach { e =>
              // round-half-up cents (positive values), clamped into grid
              val cents = Math.round(e.value * 100)
              val bin = math.min(math.max(cents, 0L) / width, QtBins - 1L)
              st.counts(bin.toInt) += 1
            }
            state.update(st)
            state.setTimeoutTimestamp(math.max(hourMs + 3600000L,
              state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  case class MgOut(hour_start_ms: Long, token: String, mg_count: Long)
  case class MgState(m: Map[String, Long])

  /** Streaming Misra–Gries frequent items per tumbling hour — the
    * streaming twin of the batch heavy-hitters summary
    * (`hh1_heavy_hitters`), sharing its insertion core through
    * [[graft.functions.MisraGries.add1]] so the summary semantics can't
    * drift between tiers. State is ONE ≤capacity-entry map per open hour
    * regardless of the key domain (a million-type hour holds the same
    * few entries as a five-type hour) — the bounded-state property that
    * makes frequent-items streamable at all; exact streaming counts
    * would hold per-key state, unbounded in the domain.
    *
    * Emission is watermark-final (the approxDistinct finality trade):
    * one candidate set per window, sorted (count desc, token) for a
    * deterministic row order. MG summaries are fold-order dependent, so
    * the cross-tier contract is the CLASSIC GUARANTEE, not bit-equality:
    * every item with true in-window count > N/(capacity+1) IS present,
    * and each reported count understates truth by ≤ N/(capacity+1) —
    * the spec pins both, plus the state bound. Candidates feed the same
    * exact re-verify join as the batch path when final counts matter.
    */
  def frequentTypes(spark: SparkSession, events: Dataset[Evt],
                    capacity: Int = 3,
                    watermarkDelay: String = "1 minute"): Dataset[MgOut] = {
    import spark.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(e => e.ts.getTime - Math.floorMod(e.ts.getTime, 3600000L))
      .flatMapGroupsWithState[MgState, MgOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (hourMs: Long, rows: Iterator[Evt], state: GroupState[MgState]) =>
          if (state.hasTimedOut) {
            val m = state.get.m
            state.remove()
            m.toSeq.sortBy { case (t, c) => (-c, t) }
              .map { case (t, c) => MgOut(hourMs, t, c) }.iterator
          } else {
            val st = state.getOption.getOrElse(MgState(Map.empty))
            val m = rows.foldLeft(st.m)((acc, e) =>
              graft.functions.MisraGries.add1(acc, e.event_type, capacity))
            state.update(MgState(m))
            state.setTimeoutTimestamp(math.max(hourMs + 3600000L,
              state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  case class CovOut(user_id: Long, n_islands: Long, n_intervals: Long,
                    covered_us: Long)
  case class CovState(islandStart: Long, maxEnd: Long, covered: Long,
                      nIslands: Long, nIntervals: Long, lastTsMs: Long)

  /** Streaming interval-union coverage — the streaming twin of the batch
    * `rj3_interval_union` gate: each event opens a 5-minute activity
    * interval; overlapping intervals merge, and the per-user total covered
    * time accumulates as the sweep advances. The batch sweep-line becomes
    * a 6-long state row per user: the OPEN island's (start, max end) plus
    * closed-island totals — merging is associative left-to-right, so the
    * fold needs only the frontier, never the interval history. In-order
    * streams produce totals identical to the batch windows over the same
    * rows (spec-pinned); a straggler below the open island's start would
    * need retroactive merging, so it DROPS under the gaps monotone-clock
    * rule (stated trade — at-watermark ordering is the stream contract).
    * Emission at event-time TTL: one final coverage row per user.
    */
  def intervalUnion(spark: SparkSession, events: Dataset[Evt],
                    lenUs: Long = 300L * 1000000L,
                    watermarkDelay: String = "1 minute",
                    ttlMs: Long = 2L * 3600 * 1000): Dataset[CovOut] = {
    import spark.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CovState, CovOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[Evt], state: GroupState[CovState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(CovOut(user, st.nIslands,
              st.nIntervals, st.covered + (st.maxEnd - st.islandStart)))
          } else {
            val sorted = rows.toSeq.sortBy(e => (eventMicros(e.ts), e.event_id))
            var st = state.getOption.getOrElse(
              CovState(Long.MinValue, Long.MinValue, 0L, 0L, 0L, Long.MinValue))
            sorted.foreach { e =>
              val t = eventMicros(e.ts)
              if (st.maxEnd == Long.MinValue) // first interval: open island 1
                st = CovState(t, t + lenUs, 0L, 1L, 1L, e.ts.getTime)
              else if (t >= st.islandStart) { // monotone clock: no rewinds
                if (t > st.maxEnd) // gap: close the island, open a new one
                  st = CovState(t, t + lenUs,
                    st.covered + (st.maxEnd - st.islandStart),
                    st.nIslands + 1, st.nIntervals + 1,
                    math.max(st.lastTsMs, e.ts.getTime))
                else // overlap: extend the open island
                  st = CovState(st.islandStart,
                    math.max(st.maxEnd, t + lenUs), st.covered,
                    st.nIslands, st.nIntervals + 1,
                    math.max(st.lastTsMs, e.ts.getTime))
              } // else: straggler below the open island start — dropped
            }
            state.update(st)
            if (st.lastTsMs != Long.MinValue)
              state.setTimeoutTimestamp(
                math.max(st.lastTsMs + ttlMs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  case class BsOut(hour_start_ms: Long, b: Int, n_eff: Long,
                   sum_wcents: Long, rep_mean_cents: Option[Double])
  case class BsState(neff: Array[Long], sums: Array[Long])

  /** Streaming Poisson-bootstrap replicate accumulation per tumbling hour
    * — the streaming twin of the batch `ab3_bootstrap_ci` gate. The
    * Poisson bootstrap is the ONE resampling scheme a stream can run at
    * all: every replicate weight is a pure row-local function of
    * (event_id, replicate), so folding a row into all B replicate
    * accumulators needs no sampling coordination and no buffering — state
    * is exactly 2·B longs per open window at ANY event volume (the
    * fixed-grid-quantile bounded-state property, for resampling).
    * Weights come from [[graft.ops.Bootstrap.weightLocal]], the same
    * thresholds the batch Column expression and its DuckDB oracle use, so
    * in-order streams produce replicate sums BIT-IDENTICAL to the batch
    * fold over the same rows (BootstrapSpec pins this). Emission is
    * watermark-final; each replicate mean is one double division of two
    * exact integers.
    */
  def bootstrapReplicates(spark: SparkSession, events: Dataset[Evt],
                          watermarkDelay: String = "1 minute"
                         ): Dataset[BsOut] = {
    import spark.implicits._
    val B = graft.ops.Bootstrap.B
    events.filter(_.event_type == "purchase")
      .withWatermark("ts", watermarkDelay)
      .groupByKey(e => e.ts.getTime - Math.floorMod(e.ts.getTime, 3600000L))
      .flatMapGroupsWithState[BsState, BsOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (hourMs: Long, rows: Iterator[Evt], state: GroupState[BsState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            (0 until B).iterator.map { b =>
              // P(n_eff = 0) = e^-n per replicate — routine for sparse
              // hours (1-2 purchases); emit null, never 0/0 NaN (the
              // batch ab3 gate applies the same guard)
              BsOut(hourMs, b, st.neff(b), st.sums(b),
                if (st.neff(b) > 0)
                  Some(st.sums(b).toDouble / st.neff(b).toDouble)
                else None)
            }
          } else {
            val st = state.getOption.getOrElse(
              BsState(new Array[Long](B), new Array[Long](B)))
            rows.foreach { e =>
              val cents = Math.round(e.value * 100)
              var b = 0
              while (b < B) {
                val w = graft.ops.Bootstrap.weightLocal(e.event_id, b)
                st.neff(b) += w
                st.sums(b) += w * cents
                b += 1
              }
            }
            state.update(st)
            state.setTimeoutTimestamp(math.max(hourMs + 3600000L,
              state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }
}
