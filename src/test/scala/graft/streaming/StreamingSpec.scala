package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Structured Streaming extension tests: the same operators as the batch
  * EventQueries, run incrementally through MemoryStream with watermarks.
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(minute: Int) = new Timestamp(1704067200000L + minute * 60000L)

  private def mkEvents(rows: Seq[StreamOps.Evt]) = {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[StreamOps.Evt]
    ms.addData(rows: _*)
    ms
  }

  test("tumbling window counts accumulate per window across batches") {
    val ms = mkEvents(Seq(
      StreamOps.Evt(1, ts(0), 1, "click", 1.0),
      StreamOps.Evt(2, ts(5), 1, "click", 2.0),
      StreamOps.Evt(3, ts(65), 2, "view", 3.0)))
    val q = StreamOps.tumblingCounts(ms.toDF(), "1 hour", "2 hours")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("tumbling")
        .select("event_type", "n").as[(String, Long)].collect().toMap
      assert(rows("click") == 2 && rows("view") == 1)
    } finally q.stop()
  }

  test("stream-static enrich joins dim attributes without a watermark") {
    val ms = mkEvents(Seq(
      StreamOps.Evt(1, ts(0), 10, "click", 1.0),
      StreamOps.Evt(2, ts(1), 11, "view", 2.0),
      StreamOps.Evt(3, ts(2), 99, "click", 3.0))) // no dim row → dropped
    val dim = Seq((10L, "BUILDING"), (11L, "MACHINERY")).toDF("user_id", "segment")
    val q = StreamOps.enrich(ms.toDF(), dim, Seq("user_id"))
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("enrich_out")
        .select("event_id", "segment").as[(Long, String)].collect().toMap
      assert(rows == Map(1L -> "BUILDING", 2L -> "MACHINERY"))
    } finally q.stop()
  }

  test("streaming dedup drops repeated event ids") {
    val ms = mkEvents(Seq(
      StreamOps.Evt(7, ts(0), 1, "click", 1.0),
      StreamOps.Evt(7, ts(1), 1, "click", 1.0),
      StreamOps.Evt(8, ts(2), 1, "view", 2.0)))
    val q = StreamOps.dedup(ms.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 2)
    } finally q.stop()
  }

  test("watermark drops data later than the horizon (append mode)") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[StreamOps.Evt]
    val q = StreamOps.tumblingCounts(ms.toDF(), "1 hour", "1 hour")
      .writeStream.format("memory").queryName("late_wm")
      .outputMode("append").start()
    try {
      // batch 1: events in hour 0
      ms.addData(StreamOps.Evt(1, ts(0), 1, "click", 1.0),
        StreamOps.Evt(2, ts(30), 1, "click", 1.0))
      q.processAllAvailable()
      // batch 2: event 3 hours later → watermark passes hour 0, window emits
      ms.addData(StreamOps.Evt(3, ts(200), 1, "view", 1.0))
      q.processAllAvailable()
      val afterEmit = spark.table("late_wm")
        .select("event_type", "n").as[(String, Long)].collect().toMap
      assert(afterEmit.get("click").contains(2L), s"hour-0 window should have emitted: $afterEmit")
      // batch 3: a LATE click back in hour 0 — behind the watermark → dropped
      ms.addData(StreamOps.Evt(4, ts(10), 1, "click", 1.0))
      q.processAllAvailable()
      val afterLate = spark.table("late_wm")
        .select("event_type", "n").as[(String, Long)].collect().toMap
      assert(afterLate.get("click").contains(2L), "late row must not reopen the window")
    } finally q.stop()
  }

  test("stateful sessionization emits a session after the gap") {
    val ms = mkEvents(Seq(
      StreamOps.Evt(1, ts(0), 1, "click", 1.0),
      StreamOps.Evt(2, ts(10), 1, "click", 1.0),
      StreamOps.Evt(3, ts(60), 1, "click", 1.0))) // 50-min gap → new session
    val q = StreamOps.sessionize(spark, ms.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val done = spark.table("sessions")
        .select("user_id", "n_events").as[(Long, Int)].collect()
      // first session (2 events) closed by the third event's gap
      assert(done.contains((1L, 2)))
    } finally q.stop()
  }

  test("built-in session_window emits watermark-final sessions (e10 twin)") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[StreamOps.Evt]
    val q = StreamOps.sessionWindows(ms.toDS().toDF())
      .writeStream.format("memory").queryName("swin")
      .outputMode("append").start()
    try {
      // user 1: two events 10 min apart (one session), then one 50 min
      // later (second session); user 2 far in the future advances the
      // watermark past both so they emit as FINAL rows
      ms.addData(
        StreamOps.Evt(1, ts(0), 1, "click", 1.0),
        StreamOps.Evt(2, ts(10), 1, "click", 1.0),
        StreamOps.Evt(3, ts(60), 1, "click", 1.0))
      q.processAllAvailable()
      ms.addData(StreamOps.Evt(4, ts(600), 2, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("swin")
        .select("user_id", "start_us", "end_us", "n_events")
        .as[(Long, Long, Long, Long)].collect().filter(_._1 == 1L).sortBy(_._2)
      val base = 1704067200000000L // ts(0) in µs
      val gapUs = 30L * 60 * 1000 * 1000
      assert(rows.toSeq == Seq(
        (1L, base, base + 10L * 60 * 1000 * 1000 + gapUs, 2L),
        (1L, base + 60L * 60 * 1000 * 1000,
          base + 60L * 60 * 1000 * 1000 + gapUs, 1L)),
        s"got ${rows.toSeq}")
      // same rows as the batch form of the identical aggregation
      val batch = StreamOps.sessionWindows(
        Seq(
          StreamOps.Evt(1, ts(0), 1, "click", 1.0),
          StreamOps.Evt(2, ts(10), 1, "click", 1.0),
          StreamOps.Evt(3, ts(60), 1, "click", 1.0)).toDS().toDF())
        .filter(col("user_id") === 1)
        .select("user_id", "start_us", "end_us", "n_events")
        .as[(Long, Long, Long, Long)].collect().sortBy(_._2)
      assert(batch.toSeq == rows.toSeq)
    } finally q.stop()
  }

  test("late in-window event never regresses lastTs (no negative durations)") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[StreamOps.Evt]
    val q = StreamOps.sessionize(spark, ms.toDS(), watermarkDelay = "2 hours")
      .writeStream.format("memory").queryName("sessions_ooo")
      .outputMode("append").start()
    try {
      ms.addData(StreamOps.Evt(1, ts(10), 1, "click", 1.0))
      q.processAllAvailable()
      // batch 2: out-of-order event EARLIER than lastTs, still in-window
      ms.addData(StreamOps.Evt(2, ts(5), 1, "click", 1.0))
      q.processAllAvailable()
      // advance watermark far → flush
      ms.addData(StreamOps.Evt(3, ts(600), 2, "view", 1.0))
      q.processAllAvailable()
      val r = spark.table("sessions_ooo")
        .select("user_id", "n_events", "duration_us")
        .as[(Long, Int, Long)].collect().filter(_._1 == 1L)
      assert(r.nonEmpty)
      assert(r.head._2 == 2 && r.head._3 == 5L * 60 * 1000 * 1000,
        s"expected 2-event 5-min session, got ${r.toSeq}")
    } finally q.stop()
  }

  test("stream-stream interval join matches clicks in the window, drops outside") {
    implicit val sql = spark.sqlContext
    val errs = MemoryStream[StreamOps.Evt]
    val clks = MemoryStream[StreamOps.Evt]
    val eDf = errs.toDF().select(col("event_id").as("error_id"),
      col("user_id").as("e_user"), col("ts").as("ets"))
    val cDf = clks.toDF().select(col("event_id").as("click_id"),
      col("user_id").as("c_user"), col("ts").as("cts"))
    val q = StreamOps.intervalJoin(eDf, cDf, lag = "10 minutes")
      .writeStream.format("memory").queryName("ijoin")
      .outputMode("append").start()
    try {
      // user 1: click 3 min before the error (in window), click 20 min
      // before (outside), click AFTER the error (outside — one-sided);
      // user 2: click in-window but different user than the error
      clks.addData(StreamOps.Evt(101, ts(12), 1, "click", 1.0),
        StreamOps.Evt(102, ts(-5), 1, "click", 1.0),
        StreamOps.Evt(103, ts(20), 1, "click", 1.0),
        StreamOps.Evt(104, ts(14), 2, "click", 1.0))
      errs.addData(StreamOps.Evt(201, ts(15), 1, "error", 1.0))
      q.processAllAvailable()
      val rows = spark.table("ijoin")
        .select("error_id", "click_id").as[(Long, Long)].collect().toSet
      assert(rows == Set((201L, 101L)), s"got $rows")
    } finally q.stop()
  }

  test("interval-join state is bounded on a skewed key: watermark evicts the hot backlog") {
    // the 100 TB question for stream-stream joins: a hot key (one user
    // producing most of the click volume) buffers rows in the state store —
    // does state grow with the key's TOTAL history, or only with its rate ×
    // the watermark+lag horizon? This pins the latter with numbers from
    // StateOperatorProgress: 200 hot-key clicks buffered while live, then
    // evicted once the watermark passes (cts + lag), leaving only the rows
    // a future match could still need. Per-key state ∝ rate × horizon —
    // the mitigation knob for skew is the watermark delay, not a rewrite.
    implicit val sql = spark.sqlContext
    val errs = MemoryStream[StreamOps.Evt]
    val clks = MemoryStream[StreamOps.Evt]
    val eDf = errs.toDF().select(col("event_id").as("error_id"),
      col("user_id").as("e_user"), col("ts").as("ets"))
    val cDf = clks.toDF().select(col("event_id").as("click_id"),
      col("user_id").as("c_user"), col("ts").as("cts"))
    val q = StreamOps.intervalJoin(eDf, cDf,
        lag = "10 minutes", watermark = "30 minutes")
      .writeStream.format("memory").queryName("ijoin_skew")
      .outputMode("append").start()
    try {
      def stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      // skewed key: user 1 emits 200 clicks over minutes 0..199
      clks.addData((0 until 200).map(i =>
        StreamOps.Evt(1000 + i, ts(i), 1, "click", 1.0)): _*)
      errs.addData(StreamOps.Evt(1, ts(199), 1, "error", 1.0))
      q.processAllAvailable()
      val backlog = stateRows
      // measured: 42 = 41 clicks inside the 40-min watermark+lag horizon
      // (minutes 159..199) + the live error — processAllAvailable already
      // ran the eviction batch after the watermark advanced to 169, so the
      // 160-click prefix of the hot key's history never survives the call.
      // State ∝ rate × horizon even while the key is hot: the bound.
      assert(backlog >= 40L && backlog <= 60L,
        s"hot-key state must equal the horizon window (~42), not the " +
          s"200-row history: state=$backlog")
      // advance event time far past the horizon: the whole window evicts
      clks.addData(StreamOps.Evt(2000, ts(600), 1, "click", 1.0))
      errs.addData(StreamOps.Evt(2, ts(600), 1, "error", 1.0))
      q.processAllAvailable()
      clks.addData(StreamOps.Evt(2001, ts(601), 1, "click", 1.0))
      errs.addData(StreamOps.Evt(3, ts(601), 1, "error", 1.0))
      q.processAllAvailable()
      val evicted = stateRows
      assert(evicted <= 20L && evicted < backlog / 2,
        s"state must shrink to the live horizon after the watermark passes: " +
          s"before=$backlog after=$evicted")
    } finally q.stop()
  }

  test("counts mat-view converges to the batch aggregate across updates") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[StreamOps.Evt]
    val dir = java.nio.file.Files.createTempDirectory("graft-matview").toString
    // each batch checkpoints the merged view; its blocks must be freed
    // once the overwrite lands, not left for GC (checked before any GC)
    def persistIds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persistIds
    val q = StreamOps.startCountsMatView(ms.toDF(), s"$dir/view", s"$dir/ckpt")
    try {
      val all = Seq(
        StreamOps.Evt(1, ts(5), 1, "click", 1.0),
        StreamOps.Evt(2, ts(10), 2, "click", 1.0),
        StreamOps.Evt(3, ts(15), 1, "view", 1.0),
        // second batch UPDATES hour 0's click count and adds a later hour
        StreamOps.Evt(4, ts(20), 3, "click", 1.0),
        StreamOps.Evt(5, ts(90), 1, "click", 1.0))
      ms.addData(all.take(3): _*); q.processAllAvailable()
      ms.addData(all.drop(3): _*); q.processAllAvailable()
      val grown = persistIds -- before
      assert(grown.isEmpty, s"mat-view batches left checkpoints cached: $grown")
      val got = spark.read.parquet(s"$dir/view")
        .select("win_start", "event_type", "n")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val want = all.toDF()
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start"), col("event_type"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(got == want, s"got $got\nwant $want")
    } finally q.stop()
  }

  test("counts mat-view fails on a view it cannot read instead of " +
    "overwriting it with one batch") {
    // a session that skips corrupt files infers no schema from a view
    // whose only file is corrupt: Spark raises the same AnalysisException
    // as for a missing path, which must not read as "no view yet"
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    val ms = MemoryStream[StreamOps.Evt](s2)
    val dir = java.nio.file.Files.createTempDirectory("graft-matview")
    val view = java.nio.file.Files.createDirectory(dir.resolve("view"))
    val file = view.resolve("part-00000.parquet")
    java.nio.file.Files.write(file, "not parquet".getBytes("UTF-8"))
    val q = StreamOps.startCountsMatView(ms.toDF(), view.toString, s"$dir/ckpt")
    try {
      ms.addData(StreamOps.Evt(1, ts(5), 1, "click", 1.0))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(java.nio.file.Files.exists(file), "the view must not be overwritten")
    } finally q.stop()
  }

  test("dedup ingest sink lands each key once across batches, keep-first") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[StreamOps.Evt]
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val q = StreamOps.startDedupIngest(ms.toDF(), "event_id", "ts",
      s"$dir/table", s"$dir/ckpt")
    try {
      // batch 1: key 1 twice (keep the earlier ts), key 2 once
      ms.addData(StreamOps.Evt(1, ts(5), 10, "a", 1.0),
        StreamOps.Evt(1, ts(1), 11, "b", 1.0),
        StreamOps.Evt(2, ts(2), 12, "c", 1.0))
      q.processAllAvailable()
      // batch 2: key 1 AGAIN (must not land — on-disk horizon), key 3 new
      ms.addData(StreamOps.Evt(1, ts(9), 13, "d", 1.0),
        StreamOps.Evt(3, ts(3), 14, "e", 1.0))
      q.processAllAvailable()
      val rows = spark.read.parquet(s"$dir/table")
        .select("event_id", "user_id").as[(Long, Long)].collect().toSet
      assert(rows == Set((1L, 11L), (2L, 12L), (3L, 14L)), s"got $rows")
    } finally q.stop()
  }

  test("dedup ingest sink fails on a table without the key column instead " +
    "of reading it as empty") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[StreamOps.Evt]
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    Seq(("x", 1L)).toDF("other", "n").write.parquet(s"$dir/table")
    val q = StreamOps.startDedupIngest(ms.toDF(), "event_id", "ts",
      s"$dir/table", s"$dir/ckpt")
    try {
      ms.addData(StreamOps.Evt(1, ts(1), 10, "a", 1.0))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(spark.read.parquet(s"$dir/table").count() == 1,
        "no batch row may be appended")
    } finally q.stop()
  }

  test("outer interval join emits unmatched errors with null click after watermark") {
    implicit val sql = spark.sqlContext
    val errs = MemoryStream[StreamOps.Evt]
    val clks = MemoryStream[StreamOps.Evt]
    val eDf = errs.toDF().select(col("event_id").as("error_id"),
      col("user_id").as("e_user"), col("ts").as("ets"))
    val cDf = clks.toDF().select(col("event_id").as("click_id"),
      col("user_id").as("c_user"), col("ts").as("cts"))
    val q = StreamOps.intervalJoinOuter(eDf, cDf,
        lag = "10 minutes", watermark = "1 minute")
      .writeStream.format("memory").queryName("ojoin")
      .outputMode("append").start()
    try {
      // user 1: matched error; user 2: error with no click in its window
      clks.addData(StreamOps.Evt(101, ts(12), 1, "click", 1.0))
      errs.addData(StreamOps.Evt(201, ts(15), 1, "error", 1.0),
        StreamOps.Evt(202, ts(15), 2, "error", 1.0))
      q.processAllAvailable()
      // matched row is out immediately; the unmatched one must NOT be
      // (its window could still fill until the watermark passes it)
      def rows() = spark.table("ojoin")
        .select("error_id", "click_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(rows() == Set((201L, 101L)), s"got ${rows()}")
      // advance the watermark far past error 202's window on both streams
      clks.addData(StreamOps.Evt(102, ts(300), 3, "click", 1.0))
      errs.addData(StreamOps.Evt(203, ts(300), 3, "error", 1.0))
      q.processAllAvailable()
      assert(rows().contains((202L, -1L)),
        s"unmatched error not flushed as null row: ${rows()}")
    } finally q.stop()
  }

  test("final session flushes via event-time timeout when the watermark passes") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[StreamOps.Evt]
    val q = StreamOps.sessionize(spark, ms.toDS())
      .writeStream.format("memory").queryName("sessions_flush")
      .outputMode("append").start()
    try {
      // user 1's only session: 2 events, then silence
      ms.addData(StreamOps.Evt(1, ts(0), 1, "click", 1.0),
        StreamOps.Evt(2, ts(5), 1, "click", 1.0))
      q.processAllAvailable()
      assert(spark.table("sessions_flush").count() == 0) // still open
      // a much later event from ANOTHER user advances the watermark past
      // user 1's gap horizon → the open session must flush
      ms.addData(StreamOps.Evt(3, ts(300), 2, "view", 1.0))
      q.processAllAvailable()
      val done = spark.table("sessions_flush")
        .select("user_id", "n_events").as[(Long, Int)].collect()
      assert(done.contains((1L, 2)), s"final session not flushed: ${done.toSeq}")
    } finally q.stop()
  }

  test("streaming quota admits k per key across batches, then drops") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[StreamOps.Evt]
    ms.addData(
      StreamOps.Evt(1, ts(0), 1, "click", 1.0),
      StreamOps.Evt(2, ts(1), 1, "click", 1.0),
      StreamOps.Evt(3, ts(1), 2, "view", 1.0))
    val q = StreamOps.quota(spark, ms.toDS(), k = 2)
      .writeStream.format("memory").queryName("quota_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // second batch: user 1 is already at its cap, user 2 admits one more
      ms.addData(
        StreamOps.Evt(4, ts(2), 1, "click", 1.0),
        StreamOps.Evt(5, ts(2), 2, "view", 1.0),
        StreamOps.Evt(6, ts(3), 2, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("quota_out")
        .select("event_id", "user_id", "quota_rank")
        .as[(Long, Long, Int)].collect().sortBy(_._1)
      assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 5L),
        s"admissions wrong: ${rows.toSeq}")
      assert(rows.collect { case (_, 1L, r) => r }.toSeq == Seq(1, 2))
      assert(rows.collect { case (_, 2L, r) => r }.toSeq == Seq(1, 2))
    } finally q.stop()
  }

  test("streaming running totals accumulate per key across batches") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[StreamOps.Evt]
    // batch 1 arrives out of order within the batch: fold must be (ts, id)
    ms.addData(
      StreamOps.Evt(2, ts(5), 1, "click", 2.0),
      StreamOps.Evt(1, ts(0), 1, "click", 1.0),
      StreamOps.Evt(3, ts(1), 2, "view", 10.0))
    val q = StreamOps.runningTotals(spark, ms.toDS())
      .writeStream.format("memory").queryName("running_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      ms.addData(StreamOps.Evt(4, ts(6), 1, "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table("running_out")
        .select("event_id", "user_id", "seq", "running_value")
        .as[(Long, Long, Int, Double)].collect().sortBy(_._1)
      assert(rows.toSeq == Seq(
        (1L, 1L, 1, 1.0), (2L, 1L, 2, 3.0), (3L, 2L, 1, 10.0),
        (4L, 1L, 3, 7.0)), s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("as-of enrich: left matched with latest right at-or-before it") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[StreamOps.Evt]
    val q = StreamOps.asofEnrich(spark, ms.toDS())
      .writeStream.format("memory").queryName("asof1")
      .outputMode("append").start()
    try {
      // clicks at 10, 20; errors at 15 (-> click@10), 25 (-> click@20),
      // 5 (-> none); equal-time click matches (>= semantics)
      ms.addData(
        StreamOps.Evt(101, ts(10), 1, "click", 1.0),
        StreamOps.Evt(102, ts(20), 1, "click", 1.0),
        StreamOps.Evt(201, ts(15), 1, "error", 1.0),
        StreamOps.Evt(202, ts(25), 1, "error", 1.0),
        StreamOps.Evt(203, ts(5), 1, "error", 1.0),
        StreamOps.Evt(301, ts(30), 2, "click", 1.0),
        StreamOps.Evt(302, ts(30), 2, "error", 1.0))
      q.processAllAvailable()
      // advance the watermark past every left so all emissions flush
      ms.addData(StreamOps.Evt(9, ts(600), 3, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("asof1")
        .select("event_id", "match_id").as[(Long, Option[Long])]
        .collect().toMap
      assert(rows == Map(201L -> Some(101L), 202L -> Some(102L),
        203L -> None, 302L -> Some(301L)), s"got $rows")
    } finally q.stop()
  }

  test("as-of enrich: out-of-order right in a LATER batch still matches") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[StreamOps.Evt]
    val q = StreamOps.asofEnrich(spark, ms.toDS(), watermarkDelay = "2 hours")
      .writeStream.format("memory").queryName("asof2")
      .outputMode("append").start()
    try {
      // batch 1: the left arrives FIRST
      ms.addData(StreamOps.Evt(201, ts(15), 1, "error", 1.0))
      q.processAllAvailable()
      // batch 2: its true match arrives later, out of order but
      // watermark-valid (2h delay) - the left must NOT have been emitted
      // unmatched in between
      ms.addData(StreamOps.Evt(101, ts(10), 1, "click", 1.0))
      q.processAllAvailable()
      assert(spark.table("asof2").isEmpty) // still pending: wm < ts(15)
      // batch 3: advance the watermark past the left -> final emission
      ms.addData(StreamOps.Evt(9, ts(600), 2, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("asof2")
        .select("event_id", "match_id").as[(Long, Option[Long])]
        .collect().toMap
      assert(rows == Map(201L -> Some(101L)), s"got $rows")
    } finally q.stop()
  }

  test("as-of enrich: anchor carries across batches; agrees with batch twin") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[StreamOps.Evt]
    val q = StreamOps.asofEnrich(spark, ms.toDS(), watermarkDelay = "1 minute")
      .writeStream.format("memory").queryName("asof3")
      .outputMode("append").start()
    val evts = Seq(
      StreamOps.Evt(101, ts(0), 1, "click", 1.0),
      StreamOps.Evt(201, ts(2), 1, "error", 1.0),
      StreamOps.Evt(102, ts(4), 1, "click", 1.0),
      StreamOps.Evt(202, ts(6), 1, "error", 1.0),
      StreamOps.Evt(203, ts(8), 1, "error", 1.0),
      StreamOps.Evt(103, ts(8), 1, "click", 1.0), // equal-time -> matches 203
      StreamOps.Evt(204, ts(100), 2, "error", 1.0)) // keyed apart, no match
    try {
      // feed one event per micro-batch: the anchor (latest ripe right)
      // must survive arbitrarily many batch boundaries
      evts.foreach { e => ms.addData(e); q.processAllAvailable() }
      ms.addData(StreamOps.Evt(9, ts(600), 3, "view", 1.0))
      q.processAllAvailable()
      val streamed = spark.table("asof3")
        .select("event_id", "match_id").as[(Long, Option[Long])]
        .collect().toMap
      // batch twin on the same rows (composed form = the ao1 gate shape)
      import org.apache.spark.sql.functions.col
      val errors = evts.filter(_.event_type == "error")
        .map(e => (e.user_id, e.event_id, e.ts.getTime)).toDF("k", "lid", "lt")
      val clicks = evts.filter(_.event_type == "click")
        .map(e => (e.user_id, e.event_id, e.ts.getTime)).toDF("k", "rid", "rt")
      val batch = graft.ops.AsOfJoin.asofJoin(errors, clicks, Seq("k"),
          col("lt"), col("rt"), Seq("match_id" -> col("rid")))
        .select("lid", "match_id").as[(Long, Option[Long])].collect().toMap
      assert(streamed == batch, s"streamed $streamed vs batch $batch")
    } finally q.stop()
  }

  test("as-of enrich property: random disorder + batch splits == batch twin") {
    implicit val sql = spark.sqlContext
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 2) {
      // bounded disorder (jitter 2 min) well inside the 10-min watermark
      // delay, so every event is watermark-valid and the streaming result
      // must agree with the batch as-of EXACTLY
      var t = 0L
      val evts = (1 to 40).map { i =>
        t += rnd.nextInt(5) * 60000L
        val jitter = rnd.nextInt(3) * 60000L
        StreamOps.Evt(i.toLong,
          new Timestamp(1704067200000L + 3600000L + t - jitter),
          rnd.nextInt(3).toLong,
          if (rnd.nextBoolean()) "error" else "click", 1.0)
      }
      val ms = MemoryStream[StreamOps.Evt]
      val name = s"asof_prop_$trial"
      val q = StreamOps.asofEnrich(spark, ms.toDS(),
          watermarkDelay = "10 minutes")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        var rest = evts
        while (rest.nonEmpty) {
          val k = 1 + rnd.nextInt(7)
          ms.addData(rest.take(k): _*)
          q.processAllAvailable()
          rest = rest.drop(k)
        }
        ms.addData(StreamOps.Evt(999, ts(100000), 99, "view", 1.0)) // flush
        q.processAllAvailable()
        val streamed = spark.table(name)
          .select("event_id", "match_id").as[(Long, Option[Long])]
          .collect().toMap
        val errors = evts.filter(_.event_type == "error")
          .map(e => (e.user_id, e.event_id, e.ts.getTime)).toDF("k", "lid", "lt")
        val clicks = evts.filter(_.event_type == "click")
          .map(e => (e.user_id, e.event_id, e.ts.getTime)).toDF("k", "rid", "rt")
          .groupBy("k", "rt").agg(org.apache.spark.sql.functions.max("rid").as("rid"))
        val batch = graft.ops.AsOfJoin.asofJoin(errors, clicks, Seq("k"),
            org.apache.spark.sql.functions.col("lt"),
            org.apache.spark.sql.functions.col("rt"),
            Seq("match_id" -> org.apache.spark.sql.functions.col("rid")))
          .select("lid", "match_id").as[(Long, Option[Long])].collect().toMap
        assert(streamed == batch, s"trial $trial: $streamed vs $batch")
      } finally q.stop()
    }
  }

  test("streaming funnel advances stages in order within the conversion " +
    "window and holds O(1) state per user (e13 twin)") {
    // user 1: full funnel in order; user 2: purchase arrives BEFORE any
    // click (must not convert); user 3: click outside the window (stalls)
    val windowUs = 30L * 60 * 1000 * 1000 // 30 min
    val ms = mkEvents(Seq(
      StreamOps.Evt(1, ts(0), 1, "view", 1.0),
      StreamOps.Evt(2, ts(5), 1, "click", 1.0),
      StreamOps.Evt(3, ts(10), 1, "purchase", 1.0),
      StreamOps.Evt(4, ts(0), 2, "view", 1.0),
      StreamOps.Evt(5, ts(3), 2, "purchase", 1.0),
      StreamOps.Evt(6, ts(0), 3, "view", 1.0),
      StreamOps.Evt(7, ts(40), 3, "click", 1.0)))
    val q = StreamOps.funnel(spark, ms.toDS(), windowUs = windowUs)
      .writeStream.format("memory").queryName("funnel")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("funnel")
        .select("user_id", "stage").as[(Long, Int)].collect().toSet
      assert(rows == Set((1L, 1), (1L, 2), (1L, 3), (2L, 1), (3L, 1)),
        rows.toString)
    } finally q.stop()
  }

  test("streaming funnel final stages agree with the batch e13 definition " +
    "on in-order data") {
    // deterministic corpus: 12 users, staggered event mixes
    val evts = (1L to 12L).flatMap { u =>
      val base = Seq(StreamOps.Evt(u * 100, ts(0), u, "view", 1.0))
      val click = if (u % 2 == 0)
        Seq(StreamOps.Evt(u * 100 + 1, ts(5), u, "click", 1.0)) else Nil
      val buy = if (u % 4 == 0)
        Seq(StreamOps.Evt(u * 100 + 2, ts(9), u, "purchase", 1.0)) else Nil
      base ++ click ++ buy
    }
    val windowUs = 30L * 60 * 1000 * 1000
    val ms = mkEvents(evts)
    val q = StreamOps.funnel(spark, ms.toDS(), windowUs = windowUs)
      .writeStream.format("memory").queryName("funnel_agree")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("funnel_agree")
        .groupBy("user_id")
        .agg(org.apache.spark.sql.functions.max("stage").as("stage"))
        .as[(Long, Int)].collect().toMap
      // the batch retrospective definition on the same rows
      val batch = (1L to 12L).map { u =>
        u -> (if (u % 4 == 0) 3 else if (u % 2 == 0) 2 else 1)
      }.toMap
      assert(streamed == batch, s"$streamed vs $batch")
    } finally q.stop()
  }

  test("streaming ewma converges bit-for-bit to the batch w6 fold, " +
    "across batches, with the 30-row truncation biting") {
    // 2 users × 40 in-order events (past the 30-row window), deterministic
    // values; fed in TWO batches so the smoother must carry state across a
    // micro-batch boundary
    val all = for { u <- 1L to 2L; i <- 0 until 40 } yield
      StreamOps.Evt(u * 1000 + i, ts(i), u, "view",
        ((u * 31 + i * 7) % 13).toDouble)
    val (b1, b2) = all.partition(e => e.ts.getTime < ts(25).getTime)
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[StreamOps.Evt]
    ms.addData(b1: _*)
    val q = StreamOps.ewma(spark, ms.toDS())
      .writeStream.format("memory").queryName("ewma_twin")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      ms.addData(b2: _*)
      q.processAllAvailable()
      val streamed = spark.table("ewma_twin")
        .select("user_id", "event_id", "ewma")
        .as[(Long, Long, Double)].collect().toSet
      // the independent reference: the batch w6 expression tree (Catalyst
      // window + higher-order fold) over the same rows
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ets", "event_id")
        .rowsBetween(-29, org.apache.spark.sql.expressions.Window.currentRow)
      val batch = all.toDS()
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ets"), col("value"))
        .withColumn("arr", collect_list(col("value")).over(w))
        .withColumn("ewma",
          aggregate(slice(col("arr"), 2, 29), element_at(col("arr"), 1),
            (a, x) => a * lit(0.5) + x * lit(0.5)))
        .select("user_id", "event_id", "ewma")
        .as[(Long, Long, Double)].collect().toSet
      assert(streamed.size == 80 && streamed == batch,
        s"streamed ${streamed.size} rows; diff ${(streamed diff batch).take(3)}")
    } finally q.stop()
  }

  test("streaming ewma folds same-millisecond events in MICRO-time order, " +
    "not event_id order (the batch window's epoch_us semantics)") {
    def tsMicro(micros: Int) = {
      val t = new Timestamp(1704067200000L)
      t.setNanos(micros * 1000); t
    }
    // the LARGER event_id has the EARLIER micro-timestamp — an
    // event_id-ordered fold would swap them
    val ms = mkEvents(Seq(
      StreamOps.Evt(10, tsMicro(900), 1, "view", 4.0),
      StreamOps.Evt(20, tsMicro(400), 1, "view", 8.0)))
    val q = StreamOps.ewma(spark, ms.toDS())
      .writeStream.format("memory").queryName("ewma_micro")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ewma_micro")
        .select("event_id", "ewma").as[(Long, Double)].collect().toMap
      // micro order: 20 first (8.0), then 10 (8.0·½ + 4.0·½ = 6.0)
      assert(got == Map(20L -> 8.0, 10L -> 6.0), got.toString)
    } finally q.stop()
  }

  test("funnel state is rows = f(keys), not f(events): a 100-event user " +
    "holds exactly one state row") {
    // the interval-join bound test's discipline applied to the funnel op
    // (r6 verdict #6): the O(1)-state claim — three timestamps per user —
    // must be pinned from StateOperatorProgress, not inferred from the
    // case class. 5 users × 100 events each; views past the first are
    // no-ops but MUST NOT accumulate state.
    val evts = for (u <- 1 to 5; i <- 0 until 100)
      yield StreamOps.Evt(u * 1000L + i, ts(i), u.toLong, "view", 1.0)
    val ms = mkEvents(evts)
    val q = StreamOps.funnel(spark, ms.toDS())
      .writeStream.format("memory").queryName("funnel_state")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == 5L,
        s"funnel state must be one row per user (5), not per event: $stateRows")
    } finally q.stop()
  }

  test("ewma state is rows = f(keys): a 200-event user holds one bounded " +
    "window row") {
    // same pin for the smoother: state per key is ONE row (≤30-element
    // window + TTL clock) regardless of stream length — 4 users × 200
    // events must leave exactly 4 state rows.
    val evts = for (u <- 1 to 4; i <- 0 until 200)
      yield StreamOps.Evt(u * 10000L + i, ts(i), u.toLong, "metric", i.toDouble)
    val ms = mkEvents(evts)
    val q = StreamOps.ewma(spark, ms.toDS())
      .writeStream.format("memory").queryName("ewma_state")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == 4L,
        s"ewma state must be one row per user (4), not per event: $stateRows")
    } finally q.stop()
  }

  test("streaming inter-event gaps match the batch lag window across batches") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[StreamOps.Evt]
    // user 1: events at minutes 0, 2, 5 split ACROSS batches (the state
    // must carry the last timestamp over); user 2: single event → no gap
    ms.addData(
      StreamOps.Evt(1, ts(0), 1, "view", 1.0),
      StreamOps.Evt(2, ts(2), 1, "click", 1.0),
      StreamOps.Evt(3, ts(1), 2, "view", 1.0))
    val q = StreamOps.interEventGaps(spark, ms.toDS())
      .writeStream.format("memory").queryName("gaps_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      ms.addData(StreamOps.Evt(4, ts(5), 1, "purchase", 1.0))
      q.processAllAvailable()
      val rows = spark.table("gaps_out")
        .select("event_id", "user_id", "event_type", "gap_s")
        .as[(Long, Long, String, Long)].collect().sortBy(_._1)
      // gap carries the CURRENT event's type (the batch twin groups the
      // lag output by the row's own event_type)
      assert(rows.toSeq == Seq(
        (2L, 1L, "click", 120L), (4L, 1L, "purchase", 180L)),
        s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("a cross-batch straggler never rewinds the gap clock") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[StreamOps.Evt]
    // batch 1 advances the clock to minute 10 (watermark = minute 9);
    // batch 2 delivers a straggler at minute 9.5 — late vs the state
    // clock but INSIDE the watermark, so Spark's late filter passes it
    // through to the operator — followed by an in-order event at minute
    // 11. The straggler must emit NOTHING (not a −30 s gap) and the
    // minute-11 event must measure against minute 10, not minute 9.5.
    ms.addData(
      StreamOps.Evt(1, ts(0), 1, "view", 1.0),
      StreamOps.Evt(2, ts(10), 1, "view", 1.0))
    val q = StreamOps.interEventGaps(spark, ms.toDS())
      .writeStream.format("memory").queryName("gaps_straggler")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val halfPast9 = new Timestamp(ts(9).getTime + 30000L)
      ms.addData(
        StreamOps.Evt(3, halfPast9, 1, "late", 1.0),
        StreamOps.Evt(4, ts(11), 1, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("gaps_straggler")
        .select("event_id", "gap_s").as[(Long, Long)].collect().sortBy(_._1)
      assert(rows.toSeq == Seq((2L, 600L), (4L, 60L)),
        s"straggler must be dropped and the clock must not rewind: ${rows.toSeq}")
    } finally q.stop()
  }

  test("streaming HLL emits watermark-final per-hour estimates identical " +
    "to the shared batch core") {
    implicit val sql = spark.sqlContext
    import graft.functions.{Hll, StableHash}
    val ms = MemoryStream[StreamOps.Evt]
    // hour 0: users 1..40 split ACROSS two batches (registers must merge
    // in state); hour 1: users 21..70. A third-batch sentinel far in the
    // future advances the watermark past both hour ends.
    val h0a = (1 to 25).map(u =>
      StreamOps.Evt(u.toLong, ts(u % 50), u.toLong, "view", 1.0))
    val h0b = (26 to 40).map(u =>
      StreamOps.Evt(100L + u, ts(u % 50), u.toLong, "view", 1.0))
    val h1 = (21 to 70).map(u =>
      StreamOps.Evt(200L + u, ts(60 + u % 50), u.toLong, "view", 1.0))
    val q = StreamOps.approxDistinct(spark, ms.toDS())
      .writeStream.format("memory").queryName("hll_out")
      .outputMode("append").start()
    try {
      ms.addData(h0a: _*); q.processAllAvailable()
      assert(spark.table("hll_out").count() == 0,
        "no window may emit before the watermark passes its end")
      // batch 2 merges h0b into hour 0's registers and advances the
      // watermark past hour 0's end (hour 1's data drives it) — hour 0
      // becomes final, hour 1 must still be open
      ms.addData(h0b ++ h1: _*); q.processAllAvailable()
      assert(spark.table("hll_out").count() == 1,
        "exactly the closed hour may emit, the open one must not")
      ms.addData(StreamOps.Evt(999, ts(6000), 999, "view", 1.0))
      q.processAllAvailable()
      val got = spark.table("hll_out")
        .as[StreamOps.HllOut].collect().sortBy(_.hour_start_ms)
      def expected(users: Range, hourMs: Long) = {
        val regs = new Array[Byte](Hll.M)
        users.foreach { u =>
          val h = StableHash.polyHash64Local("u" + u)
          val r = Hll.register(h)
          if (Hll.rho(h) > regs(r)) regs(r) = Hll.rho(h).toByte
        }
        val (est, used, zeros) = Hll.estimate(regs)
        StreamOps.HllOut(hourMs, est, used, zeros)
      }
      val hour0 = ts(0).getTime
      assert(got.toSeq == Seq(
        expected(1 to 40, hour0), expected(21 to 70, hour0 + 3600000L)),
        s"got ${got.toSeq}")
    } finally q.stop()
  }

  test("streaming HLL state is rows = f(open windows), not users") {
    // 3000 events from 3000 distinct users in ONE hour must leave exactly
    // one state row (one 256-byte register array) — the unbounded-
    // cardinality case exact streaming distinct cannot survive.
    val evts = (1 to 3000).map(u =>
      StreamOps.Evt(u.toLong, ts(u % 50), 100000L + u, "view", 1.0))
    val ms = mkEvents(evts)
    val q = StreamOps.approxDistinct(spark, ms.toDS())
      .writeStream.format("memory").queryName("hll_state")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == 1L,
        s"HLL state must be one register row per open hour: $stateRows")
    } finally q.stop()
  }

  test("inter-event gap state is rows = f(keys): one row per user") {
    val evts = for (u <- 1 to 3; i <- 0 until 150)
      yield StreamOps.Evt(u * 10000L + i, ts(i), u.toLong, "view", 1.0)
    val ms = mkEvents(evts)
    val q = StreamOps.interEventGaps(spark, ms.toDS())
      .writeStream.format("memory").queryName("gaps_state")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == 3L,
        s"gap state must be one row per user (3), not per event: $stateRows")
    } finally q.stop()
  }

  test("streaming quantile histogram: watermark-final, cross-batch fold " +
      "matches the independently computed bins") {
    // hour 0: values 1..100 dollars (cents 100..10000), split across two
    // batches — p50/p90 must come from the MERGED histogram. Batch 2's
    // event times sit ABOVE batch 1's watermark (minutes 30+ vs wm 28):
    // within-watermark lateness would DROP rows at the stateful op (the
    // approxDistinct test's staging rule).
    val h0 = (1 to 100).map(i => StreamOps.Evt(i.toLong,
      ts(if (i <= 60) i % 30 else 30 + i % 30), (i % 7).toLong, "view",
      i.toDouble))
    val (h0a, h0b) = h0.splitAt(60)
    val ms = mkEvents(h0a)
    val q = StreamOps.approxQuantiles(spark, ms.toDS())
      .writeStream.format("memory").queryName("qt_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("qt_out").count() == 0,
        "no window may emit before the watermark passes its end")
      ms.addData(h0b: _*); q.processAllAvailable()
      ms.addData(StreamOps.Evt(9999, ts(6000), 9999, "view", 1.0))
      q.processAllAvailable()
      val got = spark.table("qt_out").as[StreamOps.QtOut].collect()
        .filter(_.hour_start_ms == ts(0).getTime)
      assert(got.length == 1, s"exactly one final row per window: ${got.toSeq}")
      // independent recomputation: same grid, same smallest-bin rule
      val width = StreamOps.QtSpanCents / StreamOps.QtBins
      val counts = new Array[Long](StreamOps.QtBins)
      h0.foreach { e =>
        counts((math.min(math.max(Math.round(e.value * 100), 0L) / width,
          StreamOps.QtBins - 1L)).toInt) += 1
      }
      def pct(num: Long, den: Long): Long = {
        var cum = 0L
        val i = counts.indexWhere { c => cum += c; cum * den >= 100L * num }
        i * width + width / 2
      }
      assert(got.head == StreamOps.QtOut(ts(0).getTime, 100L,
        pct(1, 2), pct(9, 10)), s"got ${got.head}")
      // sanity on real positions: p50 of 1..100 dollars ≈ $50, p90 ≈ $90
      assert(math.abs(got.head.p50_est_cents - 5000) <= width &&
        math.abs(got.head.p90_est_cents - 9000) <= width, s"${got.head}")
    } finally q.stop()
  }

  test("streaming quantile state is rows = f(open windows), not events") {
    val evts = (1 to 3000).map(i =>
      StreamOps.Evt(i.toLong, ts(i % 50), i.toLong, "view", (i % 370).toDouble))
    val ms = mkEvents(evts)
    val q = StreamOps.approxQuantiles(spark, ms.toDS())
      .writeStream.format("memory").queryName("qt_state")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == 1L,
        s"quantile state must be one histogram row per open hour: $stateRows")
    } finally q.stop()
  }

  test("streaming bootstrap: watermark-final, cross-batch replicate sums " +
      "bit-identical to the local fold; non-purchases ignored") {
    // hour 0: 80 purchases split across two batches (batch 2 above
    // batch 1's watermark — the staging rule), plus clicks that must not
    // enter any replicate
    val buys = (1 to 80).map(i => StreamOps.Evt(i.toLong,
      ts(if (i <= 50) i % 28 else 30 + i % 28), (i % 7).toLong, "purchase",
      (i * 1.37) % 50.0))
    val noise = (81 to 99).map(i => StreamOps.Evt(i.toLong,
      ts(i % 28), 1L, "click", 5.0))
    val (b1, b2) = buys.splitAt(50)
    val ms = mkEvents(b1 ++ noise)
    val q = StreamOps.bootstrapReplicates(spark, ms.toDS())
      .writeStream.format("memory").queryName("bs_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("bs_out").count() == 0,
        "no window may emit before the watermark passes its end")
      ms.addData(b2: _*); q.processAllAvailable()
      ms.addData(StreamOps.Evt(9999, ts(6000), 9999, "purchase", 1.0))
      q.processAllAvailable()
      val got = spark.table("bs_out").as[StreamOps.BsOut].collect()
        .filter(_.hour_start_ms == ts(0).getTime)
      assert(got.length == graft.ops.Bootstrap.B,
        s"one row per replicate: ${got.length}")
      // independent fold with the shared weight core — must be bit-equal
      got.foreach { r =>
        var ne = 0L; var sw = 0L
        buys.foreach { e =>
          val w = graft.ops.Bootstrap.weightLocal(e.event_id, r.b)
          ne += w; sw += w * Math.round(e.value * 100)
        }
        assert(r.n_eff == ne && r.sum_wcents == sw, s"replicate ${r.b}: $r")
        val want = if (ne > 0) Some(sw.toDouble / ne.toDouble) else None
        assert(r.rep_mean_cents == want)
      }
    } finally q.stop()
  }

  test("streaming interval union: cross-batch totals match the batch " +
      "sweep-line; within-island stragglers fold, below-island ones drop") {
    // user 1, 5-min intervals: minutes 0,2,4 merge into one island
    // [0, 9); minute 20 opens island 2 [20, 25); minute 22 extends it to
    // [20, 27). Batch totals: covered = 9 + 7 = 16 min, 2 islands, 5 ivs.
    val b1 = Seq(
      StreamOps.Evt(1, ts(0), 1, "click", 1.0),
      StreamOps.Evt(2, ts(2), 1, "click", 1.0),
      StreamOps.Evt(3, ts(4), 1, "click", 1.0))
    val b2 = Seq(
      StreamOps.Evt(4, ts(20), 1, "click", 1.0),
      StreamOps.Evt(5, ts(22), 1, "click", 1.0))
    val ms = mkEvents(b1)
    val q = StreamOps.intervalUnion(spark, ms.toDS())
      .writeStream.format("memory").queryName("cov_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
      // TTL flush: advance the watermark far past user 1's last event
      ms.addData(StreamOps.Evt(99, ts(6000), 9, "click", 1.0))
      q.processAllAvailable()
      val got = spark.table("cov_out").as[StreamOps.CovOut].collect()
        .filter(_.user_id == 1L)
      assert(got.length == 1, s"one final row per user: ${got.toSeq}")
      assert(got.head == StreamOps.CovOut(1L, 2L, 5L, 16L * 60000000L),
        s"${got.head}")
    } finally q.stop()
  }

  test("streaming bootstrap state is rows = f(open windows), not events") {
    val evts = (1 to 3000).map(i =>
      StreamOps.Evt(i.toLong, ts(i % 50), i.toLong, "purchase",
        (i % 370).toDouble))
    val ms = mkEvents(evts)
    val q = StreamOps.bootstrapReplicates(spark, ms.toDS())
      .writeStream.format("memory").queryName("bs_state")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == 1L,
        s"bootstrap state must be one row per open hour: $stateRows")
    } finally q.stop()
  }

  test("streaming Misra-Gries: watermark-final, classic guarantee holds " +
      "across batches") {
    // hour-0 type mix: N = 100, capacity 3 ⇒ threshold N/(cap+1) = 25.
    // 'view' (40) and 'click' (30) exceed it and MUST be candidates;
    // every reported count c must satisfy true-25 ≤ c ≤ true.
    val mix = Seq("view" -> 40, "click" -> 30, "cart" -> 20,
      "buy" -> 6, "ship" -> 4)
    val trueCnt = mix.toMap
    // batch-2 minutes sit above batch-1's watermark (the staging rule:
    // within-watermark lateness drops rows at the stateful op)
    val h0 = mix.flatMap { case (t, n) => Seq.fill(n)(t) }
      .zipWithIndex.map { case (t, i) =>
        StreamOps.Evt(i.toLong, ts(if (i < 60) i % 30 else 30 + i % 30),
          (i % 7).toLong, t, 1.0) }
    val (h0a, h0b) = h0.splitAt(60) // cross-batch: state must carry the fold
    val ms = mkEvents(h0a)
    val q = StreamOps.frequentTypes(spark, ms.toDS())
      .writeStream.format("memory").queryName("mg_out")
      .outputMode("append").start()
    try {
      // mkEvents queued h0a as batch 1; h0b lands as batch 2, so the MG
      // fold must carry hour 0's summary through state across batches
      q.processAllAvailable()
      assert(spark.table("mg_out").count() == 0,
        "no window may emit before the watermark passes its end")
      ms.addData(h0b: _*); q.processAllAvailable()
      ms.addData(StreamOps.Evt(9999, ts(6000), 9999, "view", 1.0))
      q.processAllAvailable()
      val got = spark.table("mg_out").as[StreamOps.MgOut].collect()
        .filter(_.hour_start_ms == ts(0).getTime)
      assert(got.length <= 3, s"candidate set exceeds capacity: ${got.toSeq}")
      val cand = got.map(o => o.token -> o.mg_count).toMap
      assert(cand.contains("view") && cand.contains("click"),
        s"items above N/(cap+1) must be present: $cand")
      cand.foreach { case (t, c) =>
        val tc = trueCnt(t).toLong
        assert(c <= tc && c >= tc - 25,
          s"$t reported $c outside [true-25, true] = [${tc - 25}, $tc]")
      }
    } finally q.stop()
  }

  test("streaming Misra-Gries state is bounded under unbounded type domain") {
    // 3000 events of 3000 DISTINCT types in one hour: exact streaming
    // counts would hold 3000 state rows; the MG fold must hold ONE state
    // row (a ≤3-entry map) and emit ≤3 candidates.
    val evts = (1 to 3000).map(i =>
      StreamOps.Evt(i.toLong, ts(i % 50), i.toLong, s"type_$i", 1.0))
    val ms = mkEvents(evts)
    val q = StreamOps.frequentTypes(spark, ms.toDS())
      .writeStream.format("memory").queryName("mg_state")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == 1L,
        s"MG state must be one summary row per open hour: $stateRows")
      ms.addData(StreamOps.Evt(9999, ts(6000), 9999, "view", 1.0))
      q.processAllAvailable()
      assert(spark.table("mg_state").count() <= 3,
        "emitted candidate set must be capacity-bounded")
    } finally q.stop()
  }

  test("streaming CUSUM: cross-batch fold matches the batch w7 recursion " +
    "bit-for-bit on an in-order stream") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[StreamOps.Evt]
    // user 1 drifts above the target (values 60, 72, 68 → cusum climbs);
    // user 2 hovers below (40 → resets to 0). Batch 2 events sit ABOVE
    // batch 1's watermark (max ts minute 10 → wm minute 9) so the
    // stateful op sees them all (the Misra-Gries staging rule).
    ms.addData(
      StreamOps.Evt(1, ts(0), 1, "view", 60.0),
      StreamOps.Evt(2, ts(2), 1, "view", 72.0),
      StreamOps.Evt(3, ts(10), 2, "view", 40.0))
    val q = StreamOps.cusumDrift(spark, ms.toDS())
      .writeStream.format("memory").queryName("cusum_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      ms.addData(
        StreamOps.Evt(4, ts(12), 1, "view", 68.0),
        StreamOps.Evt(5, ts(13), 2, "view", 45.0))
      q.processAllAvailable()
      val rows = spark.table("cusum_out")
        .select("event_id", "user_id", "cusum")
        .as[(Long, Long, Double)].collect().sortBy(_._1)
      // w7's exact recursion, same IEEE adds: fold in event order
      def fold(vs: Seq[Double]): Seq[Double] =
        vs.scanLeft(0.0)((s, x) => math.max(s + x - 50.0, 0.0)).tail
      val u1 = fold(Seq(60.0, 72.0, 68.0))
      val u2 = fold(Seq(40.0, 45.0))
      assert(rows.toSeq == Seq(
        (1L, 1L, u1(0)), (2L, 1L, u1(1)), (3L, 2L, u2(0)),
        (4L, 1L, u1(2)), (5L, 2L, u2(1))), s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("streaming CUSUM: a cross-batch straggler is dropped, never folded " +
    "out of order, and the clock never rewinds") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[StreamOps.Evt]
    ms.addData(
      StreamOps.Evt(1, ts(0), 1, "view", 60.0),
      StreamOps.Evt(2, ts(10), 1, "view", 70.0))
    val q = StreamOps.cusumDrift(spark, ms.toDS())
      .writeStream.format("memory").queryName("cusum_straggler")
      .outputMode("append").start()
    try {
      q.processAllAvailable() // wm = minute 9
      val halfPast9 = new Timestamp(ts(9).getTime + 30000L)
      ms.addData(
        StreamOps.Evt(3, halfPast9, 1, "late", 99.0), // inside wm, below clock
        StreamOps.Evt(4, ts(11), 1, "view", 55.0))
      q.processAllAvailable()
      val rows = spark.table("cusum_straggler")
        .select("event_id", "cusum").as[(Long, Double)].collect().sortBy(_._1)
      // 60→10, 70→30; straggler 99 emits nothing; 55 folds on 30 → 35
      assert(rows.toSeq == Seq((1L, 10.0), (2L, 30.0), (4L, 35.0)),
        s"straggler must drop and the fold must not reorder: ${rows.toSeq}")
    } finally q.stop()
  }

  test("streaming set algebra: watermark-final pair readouts identical " +
    "to the shared register cores, cross-batch merge included") {
    implicit val sql = spark.sqlContext
    import graft.functions.{Hll, StableHash}
    val ms = MemoryStream[StreamOps.Evt]
    // hour 0: users 1..40 split ACROSS two batches (side-a registers of
    // pair (h0,h1) must merge in state); hour 1: users 21..70 (overlap
    // 21..40); hour 2: users 60..80 (overlap 60..70). Expected emissions:
    // pairs (h0,h1) and (h1,h2) — the boundary pairs (−1h,h0)/(h2,+1h)
    // are one-sided and must stay silent.
    val h0a = (1 to 25).map(u =>
      StreamOps.Evt(u.toLong, ts(u % 50), u.toLong, "view", 1.0))
    val h0b = (26 to 40).map(u =>
      StreamOps.Evt(100L + u, ts(u % 50), u.toLong, "view", 1.0))
    val h1 = (21 to 70).map(u =>
      StreamOps.Evt(200L + u, ts(60 + u % 50), u.toLong, "view", 1.0))
    val h2 = (60 to 80).map(u =>
      StreamOps.Evt(300L + u, ts(120 + u % 50), u.toLong, "view", 1.0))
    val q = StreamOps.approxOverlap(spark, ms.toDS())
      .writeStream.format("memory").queryName("ovl_out")
      .outputMode("append").start()
    try {
      ms.addData(h0a: _*); q.processAllAvailable()
      ms.addData(h0b ++ h1: _*); q.processAllAvailable()
      assert(spark.table("ovl_out").count() == 0,
        "no pair may emit before the watermark passes its SECOND hour")
      ms.addData(h2: _*); q.processAllAvailable()
      assert(spark.table("ovl_out").count() == 1,
        "only the (h0,h1) pair is closed after hour-2 data arrives")
      ms.addData(StreamOps.Evt(999, ts(6000), 999, "view", 1.0))
      q.processAllAvailable()
      val got = spark.table("ovl_out").as[StreamOps.OverlapOut]
        .collect().sortBy(_.hour_a_ms)
      def regsOf(users: Range): Array[Byte] = {
        val regs = new Array[Byte](Hll.M)
        users.foreach { u =>
          val h = StableHash.polyHash64Local("u" + u)
          val r = Hll.register(h)
          if (Hll.rho(h) > regs(r)) regs(r) = Hll.rho(h).toByte
        }
        regs
      }
      def expected(a: Range, b: Range, hourA: Long) = {
        val (ra, rb) = (regsOf(a), regsOf(b))
        val (ea, _, _) = Hll.estimate(ra)
        val (eb, _, _) = Hll.estimate(rb)
        val (eu, _, _) = Hll.estimate(
          ra.zip(rb).map { case (x, y) => if (x >= y) x else y })
        StreamOps.OverlapOut(hourA, hourA + 3600000L,
          ea, eb, eu, ea + eb - eu, eu - ea)
      }
      val hour0 = ts(0).getTime
      assert(got.toSeq == Seq(
        expected(1 to 40, 21 to 70, hour0),
        expected(21 to 70, 60 to 80, hour0 + 3600000L)),
        s"got ${got.toSeq}")
    } finally q.stop()
  }

  test("streaming set algebra state is rows = f(open pairs), not users") {
    // 3000 distinct users across two adjacent hours touch three pair
    // groups — (−1h,h0), (h0,h1), (h1,+1h) — of which the first has
    // already timed out (silently: side a empty) once the watermark
    // passed hour 0's end, so state settles at TWO 2×256-byte register
    // rows no matter the cardinality.
    val evts = (1 to 3000).map(u => StreamOps.Evt(u.toLong,
      ts(if (u % 2 == 0) u % 50 else 60 + u % 50), 100000L + u, "view", 1.0))
    val ms = mkEvents(evts)
    val q = StreamOps.approxOverlap(spark, ms.toDS())
      .writeStream.format("memory").queryName("ovl_state")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == 2L,
        s"set-algebra state must be one row per open pair (2): $stateRows")
    } finally q.stop()
  }
}
