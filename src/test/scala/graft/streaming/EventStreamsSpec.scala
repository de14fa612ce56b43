package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.SparkTestSession.withTempDir
import graft.sources.Tables

class EventStreamsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("streaming hourly counts equal the batch aggregation") {
    // file sources need a directory: stage the events parquet into one
    withTempDir("events-stream") { dir =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"${SparkTestSession.sf0001}/events.parquet"),
        dir.resolve("events.parquet"))
      val streamEvents = EventStreams.readEventStream(spark, dir.toString)
      val q = EventStreams.runToMemory(EventStreams.hourlyCounts(streamEvents), "hourly_test")
      q.awaitTermination(120000)
      q.stop()
      // sum_value is comparable now that hourlyCounts folds through
      // DECIMAL (raw double summation order would differ between the
      // streaming partial-agg and this batch recompute)
      val streamed = spark.table("hourly_test")
        .select($"hour", $"event_type", $"cnt", $"sum_value")
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = Tables.load(spark, SparkTestSession.sf0001, "events")
        .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
        .agg(count(lit(1)).as("cnt"),
          sum($"value".cast("decimal(18,2)")).cast("double").as("sum_value"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    }
  }

  test("watermark drops late data in append-mode windowed aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, Double)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val agg = input.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select($"w.start".as("hour"), $"cnt")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_test").start()
    // batch 1: events in the 10:00 window
    input.addData((ts("2024-01-01 10:05:00"), 1.0), (ts("2024-01-01 10:20:00"), 1.0))
    q.processAllAvailable()
    // batch 2: event far ahead — watermark passes 10:00+1h+10m, closing it
    input.addData((ts("2024-01-01 12:30:00"), 1.0))
    q.processAllAvailable()
    // batch 3: a late event for the already-closed 10:00 window
    input.addData((ts("2024-01-01 10:45:00"), 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("late_test")
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    // the 10:00 window emitted exactly once, with the on-time count only
    assert(rows(ts("2024-01-01 10:00:00")) == 2L)
  }

  test("streaming dropDuplicates dedups replayed events within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val deduped = input.toDF().toDF("event_id", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream_test").start()
    input.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:01:00")))
    q.processAllAvailable()
    // replay of event 1 (at-least-once delivery) plus a new event
    input.addData((1L, ts("2024-01-01 10:00:00")), (3L, ts("2024-01-01 10:02:00")))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_stream_test").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L))
  }

  test("bounded sessionization flushes an idle user's session via event-time timeout") {
    import EventStreams.{Event, Session}
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val q = EventStreams.sessionizeBounded(input.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append").format("memory")
      .queryName("sessions_bounded_test").start()
    // user 1 goes idle after two events; user 2 keeps the stream moving
    input.addData(
      Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 10:05:00"), 1, "click", 2.0))
    q.processAllAvailable()
    // advance the watermark far past 10:05 + 30min gap (+10min lateness)
    input.addData(Event(3, ts("2024-01-01 12:00:00"), 2, "view", 5.0))
    q.processAllAvailable()
    // one more batch so the post-watermark trigger processes the timeout
    input.addData(Event(4, ts("2024-01-01 12:01:00"), 2, "view", 1.0))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sessions_bounded_test").as[Session].collect()
    // user 1 never sent a closing event — the timeout flushed the session
    assert(sessions.exists(s => s.user_id == 1 && s.n_events == 2 && s.total_value == 3.0
      && s.start_ts == ts("2024-01-01 10:00:00").getTime
      && s.end_ts == ts("2024-01-01 10:05:00").getTime),
      sessions.mkString("; "))
  }

  test("bounded sessionization extends start for admissible late events, drops inadmissible ones") {
    import EventStreams.{Event, Session}
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val q = EventStreams.sessionizeBounded(input.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append").format("memory")
      .queryName("sessions_late_test").start()
    input.addData(Event(1, ts("2024-01-01 10:30:00"), 1, "click", 1.0))
    q.processAllAvailable() // watermark → 10:20
    // late but admissible (>= watermark): must extend the session START
    input.addData(Event(2, ts("2024-01-01 10:25:00"), 1, "click", 2.0))
    q.processAllAvailable()
    input.addData(Event(3, ts("2024-01-01 12:00:00"), 2, "view", 5.0))
    q.processAllAvailable() // watermark → 11:50, past user 1's 10:30+30m
    // inadmissible late event (10:00 << watermark): must be DROPPED, not
    // become a spurious one-event session after user 1's state flushed
    input.addData(Event(4, ts("2024-01-01 10:00:00"), 1, "click", 9.0),
      Event(5, ts("2024-01-01 12:01:00"), 2, "view", 1.0))
    q.processAllAvailable()
    q.stop()
    val u1 = spark.table("sessions_late_test").as[Session].collect().filter(_.user_id == 1)
    assert(u1.length == 1, u1.mkString("; "))
    assert(u1.head.start_ts == ts("2024-01-01 10:25:00").getTime, u1.head)
    assert(u1.head.end_ts == ts("2024-01-01 10:30:00").getTime && u1.head.n_events == 2, u1.head)
  }

  test("bounded sessionization does not bridge a >gap hole with a far-older admissible straggler") {
    import EventStreams.{Event, Session}
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    // lateness 2h > gap 30m makes a straggler admissible even when it is
    // more than a gap older than the open session's start
    val q = EventStreams.sessionizeBounded(input.toDS(), gapMinutes = 30, lateness = "2 hours")
      .writeStream.outputMode("append").format("memory")
      .queryName("sessions_hole_test").start()
    input.addData(Event(1, ts("2024-01-01 12:00:00"), 1, "click", 1.0))
    q.processAllAvailable() // watermark → 10:00
    // 10:45 is admissible (>= 10:00) but 75m before the open session's
    // start: the batch form keeps these as TWO sessions — so must we
    input.addData(Event(2, ts("2024-01-01 10:45:00"), 1, "click", 2.0))
    q.processAllAvailable()
    // advance the watermark far enough to flush user 1's open session
    input.addData(Event(3, ts("2024-01-01 15:00:00"), 2, "view", 5.0))
    q.processAllAvailable()
    q.stop()
    val u1 = spark.table("sessions_hole_test").as[Session].collect()
      .filter(_.user_id == 1).sortBy(_.start_ts)
    assert(u1.length == 2, u1.mkString("; "))
    assert(u1(0).start_ts == ts("2024-01-01 10:45:00").getTime && u1(0).n_events == 1, u1(0))
    assert(u1(1).start_ts == ts("2024-01-01 12:00:00").getTime && u1(1).n_events == 1, u1(1))
  }

  test("mutually-close stragglers merge into ONE session (batch-form agreement)") {
    import EventStreams.{Event, Session}
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val q = EventStreams.sessionizeBounded(input.toDS(), gapMinutes = 30, lateness = "4 hours")
      .writeStream.outputMode("append").format("memory")
      .queryName("sessions_multi_straggler").start()
    input.addData(Event(1, ts("2024-01-01 12:00:00"), 1, "click", 1.0))
    q.processAllAvailable() // open session at 12:00; watermark → 08:00
    // two admissible stragglers, each far older than the open session
    // but within gap of EACH OTHER: the batch form merges them into one
    // 2-event session — a per-event fold against only the open session
    // would emit two singletons
    input.addData(Event(2, ts("2024-01-01 08:30:00"), 1, "click", 2.0),
      Event(3, ts("2024-01-01 08:50:00"), 1, "click", 3.0))
    q.processAllAvailable()
    input.addData(Event(4, ts("2024-01-01 20:00:00"), 2, "view", 5.0))
    q.processAllAvailable() // flush user 1's open session
    q.stop()
    val u1 = spark.table("sessions_multi_straggler").as[Session].collect()
      .filter(_.user_id == 1).sortBy(_.start_ts)
    assert(u1.length == 2, u1.mkString("; "))
    assert(u1(0).start_ts == ts("2024-01-01 08:30:00").getTime &&
      u1(0).end_ts == ts("2024-01-01 08:50:00").getTime && u1(0).n_events == 2, u1(0))
    assert(u1(1).start_ts == ts("2024-01-01 12:00:00").getTime && u1(1).n_events == 1, u1(1))
  }

  test("a same-batch event chain bridges a straggler up to the open session") {
    import EventStreams.{Event, Session}
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val q = EventStreams.sessionizeBounded(input.toDS(), gapMinutes = 30, lateness = "4 hours")
      .writeStream.outputMode("append").format("memory")
      .queryName("sessions_chain_bridge").start()
    input.addData(Event(1, ts("2024-01-01 12:00:00"), 1, "click", 1.0))
    q.processAllAvailable()
    // 11:05 is >gap (55m) before 12:00, but 11:35 chains 11:05 → 11:35
    // → 12:00 (each hop exactly 30m ≤ gap): the batch form makes this
    // ONE 3-event session
    input.addData(Event(2, ts("2024-01-01 11:05:00"), 1, "click", 2.0),
      Event(3, ts("2024-01-01 11:35:00"), 1, "click", 3.0))
    q.processAllAvailable()
    input.addData(Event(4, ts("2024-01-01 20:00:00"), 2, "view", 5.0))
    q.processAllAvailable()
    q.stop()
    val u1 = spark.table("sessions_chain_bridge").as[Session].collect()
      .filter(_.user_id == 1)
    assert(u1.length == 1, u1.mkString("; "))
    assert(u1.head.start_ts == ts("2024-01-01 11:05:00").getTime &&
      u1.head.end_ts == ts("2024-01-01 12:00:00").getTime && u1.head.n_events == 3, u1.head)
  }

  test("batch gaps-and-islands sessions agree with streaming sessionize on real events") {
    import EventStreams.{Event, Session}
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.load(spark, SparkTestSession.sf0001, "events")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    input.addData(ev: _*)
    val q = EventStreams.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append").format("memory")
      .queryName("sessions_batch_cmp").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sessions_batch_cmp").as[Session].collect()
      .map(s => (s.user_id, s.start_ts, s.end_ts, s.n_events)).toSet
    val batch = EventStreams.batchSessions(
        Tables.load(spark, SparkTestSession.sf0001, "events"), gapMinutes = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // streaming emits only CLOSED sessions — each user's final session is
    // still open when the bounded input drains, so batch = streamed +
    // exactly one trailing session per user
    val lastPerUser = batch.groupBy(_._1).map { case (_, ss) => ss.maxBy(_._2) }.toSet
    assert(streamed.nonEmpty)
    assert(batch.toSet -- lastPerUser == streamed,
      s"batch=${batch.length}, streamed=${streamed.size}, users=${lastPerUser.size}")
  }

  test("batch sessions: an event exactly at the gap boundary stays in the session") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-01 10:30:00"), 2.0), // gap == 30m → same session (strict >)
      (1L, ts("2024-01-01 11:00:01"), 4.0), // 30m01s → new session
    ).toDF("user_id", "ts", "value")
    val out = EventStreams.batchSessions(df, gapMinutes = 30).orderBy("start_ts").collect()
    assert(out.length == 2)
    assert(out(0).getLong(3) == 2 && out(0).getDouble(4) == 3.0)
    assert(out(1).getLong(3) == 1 && out(1).getDouble(4) == 4.0)
  }

  test("sessionization groups events by user with gap semantics") {
    import EventStreams.{Event, Session}
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000)
    val events = Seq(
      Event(1, at(0), 1, "click", 1.0),
      Event(2, at(5), 1, "click", 2.0),
      Event(3, at(90), 1, "click", 3.0), // new session (gap 85min > 30)
      Event(4, at(2), 2, "view", 5.0),
    ).toDS()
    // batch Dataset drives the same logic path via groupByKey semantics:
    // run as a streaming query over a memory source for the real API
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    input.addData(events.collect().toSeq: _*)
    val q = EventStreams.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append").format("memory").queryName("sessions_test").start()
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sessions_test").as[Session].collect()
    // only CLOSED sessions are emitted mid-stream: user 1's first session
    assert(sessions.exists(s => s.user_id == 1 && s.n_events == 2 && s.total_value == 3.0))
  }

  /** Drive the transformWithState SessionProcessor over a MemoryStream
    * (RocksDB provider required by the operator; conf restored). */
  private def runSessionProcessor(name: String, naiveTimers: Boolean = false)(feed: (
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventStreams.Event],
      org.apache.spark.sql.streaming.StreamingQuery) => Unit): Array[EventStreams.Session] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventStreams.Event]
      spark.catalog.dropTempView(name)
      val q = input.toDS().withWatermark("ts", "10 minutes")
        .groupByKey(_.user_id)
        .transformWithState(new EventStreams.SessionProcessor(30 * 60000L, naiveTimers),
          TimeMode.EventTime(), OutputMode.Append())
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      feed(input, q)
      q.stop()
      spark.table(name).as[EventStreams.Session].collect()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** The comparator the s70 oracle's cutoff encodes — and the contract
    * DIFFERENCE from GroupState: an EventTimeTimeout fires iff
    * timeout < watermark (strict — s48's empirically-verified rule),
    * but a transformWithState timer fires when the watermark REACHES
    * its expiry (<=). Built so the watermark lands one ms below user
    * 1's 10:30:00.000 expiry (held), then exactly on it (flushed). */
  test("SessionProcessor timers fire AT the watermark (<=, unlike GroupState's strict <)") {
    import EventStreams.Event
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val sessions = runSessionProcessor("tws_boundary_test") { (input, q) =>
      input.addData(Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // wm → 10:29:59.999, one ms short of the expiry; the extra batch
      // gives the engine every chance to fire early
      input.addData(Event(2, new java.sql.Timestamp(
        ts("2024-01-01 10:40:00").getTime - 1), 2, "view", 1.0))
      q.processAllAvailable()
      input.addData(Event(3, new java.sql.Timestamp(
        ts("2024-01-01 10:40:00").getTime - 1), 2, "view", 1.0))
      q.processAllAvailable()
      assert(spark.table("tws_boundary_test").isEmpty,
        "timer fired BELOW its expiry")
      // wm → exactly 10:30:00.000 == expiry: must fire now (<=)
      input.addData(Event(4, ts("2024-01-01 10:40:00"), 2, "view", 1.0))
      q.processAllAvailable()
      input.addData(Event(5, ts("2024-01-01 10:40:00"), 2, "view", 1.0))
      q.processAllAvailable()
    }
    val u1 = sessions.filter(_.user_id == 1)
    assert(u1.length == 1 && u1.head.n_events == 1
      && u1.head.start_ts == ts("2024-01-01 10:00:00").getTime, u1.mkString("; "))
  }

  /** The r11 write-discipline's skip path: an out-of-order event that
    * MERGES into the open session without advancing lastSeen leaves
    * the expiry unchanged — the kernel skips the timer delete+register
    * entirely — yet the timer must still be live (the session flushes
    * at the original expiry) and the state write must still land (the
    * merged start/count are what flushes). */
  test("SessionProcessor: an expiry-preserving merge keeps the timer live and the state current") {
    import EventStreams.Event
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val sessions = runSessionProcessor("tws_skip_test") { (input, q) =>
      input.addData(Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0))
      q.processAllAvailable() // session open; timer @ 10:30; wm → 9:50
      // 9:55 is admissible (>= wm) and within gap: merges BEHIND the
      // open session — start moves, lastSeen (and so the expiry) does not
      input.addData(Event(2, ts("2024-01-01 09:55:00"), 1, "click", 2.0))
      q.processAllAvailable()
      // wm → 10:31, past the (unmoved) 10:30 expiry: the timer must fire
      input.addData(Event(3, ts("2024-01-01 10:41:00"), 2, "view", 1.0))
      q.processAllAvailable()
      input.addData(Event(4, ts("2024-01-01 10:41:00"), 2, "view", 1.0))
      q.processAllAvailable()
    }
    val u1 = sessions.filter(_.user_id == 1)
    assert(u1.length == 1 && u1.head.n_events == 2
      && u1.head.start_ts == ts("2024-01-01 09:55:00").getTime
      && u1.head.end_ts == ts("2024-01-01 10:00:00").getTime,
      s"merged session lost its timer or its state write: ${u1.mkString("; ")}")
  }

  /** Output equivalence of the two timer disciplines (the r11 fix is a
    * WRITE-VOLUME optimization, never a semantics change): one feed
    * exercising open/extend/merge-behind/expire/flush through both. */
  test("SessionProcessor: disciplined and naive timer writes emit identical sessions") {
    import EventStreams.Event
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def feed(input: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventStreams.Event],
             q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      input.addData(Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      input.addData(Event(2, ts("2024-01-01 10:20:00"), 1, "click", 2.0), // extend → timer moves
        Event(3, ts("2024-01-01 10:15:00"), 2, "view", 1.0))
      q.processAllAvailable()
      input.addData(Event(4, ts("2024-01-01 10:10:00"), 1, "view", 4.0)) // merge-behind → timer stays
      q.processAllAvailable()
      input.addData(Event(5, ts("2024-01-01 12:00:00"), 3, "view", 1.0)) // wm jumps → users 1,2 expire
      q.processAllAvailable()
      input.addData(Event(6, ts("2024-01-01 12:05:00"), 3, "view", 1.0))
      q.processAllAvailable()
    }
    val disciplined = runSessionProcessor("tws_eqv_disc")(feed).toSet
    val naive = runSessionProcessor("tws_eqv_naive", naiveTimers = true)(feed).toSet
    assert(disciplined.nonEmpty && disciplined == naive,
      s"disciplines diverged:\n  disc=${disciplined}\n  naive=${naive}")
  }

  /** The accumulate-vs-move discipline the kernel's scaladoc claims: a
    * session extended by a later batch must DELETE its stale timer —
    * otherwise the orphaned 10:30 expiry flushes the still-growing
    * session once the watermark passes it. */
  test("SessionProcessor moves (not accumulates) the timer when a session extends") {
    import EventStreams.Event
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val sessions = runSessionProcessor("tws_move_test") { (input, q) =>
      input.addData(Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0))
      q.processAllAvailable() // timer @ 10:30
      input.addData(Event(2, ts("2024-01-01 10:20:00"), 1, "click", 2.0))
      q.processAllAvailable() // session extends; timer must MOVE to 10:50
      // wm → 10:36, past the stale 10:30 expiry but short of 10:50
      input.addData(Event(3, ts("2024-01-01 10:46:00"), 2, "view", 1.0))
      q.processAllAvailable()
      input.addData(Event(4, ts("2024-01-01 10:46:30"), 2, "view", 1.0))
      q.processAllAvailable()
      assert(!spark.table("tws_move_test").as[EventStreams.Session].collect()
        .exists(_.user_id == 1),
        "a stale timer flushed a still-growing session")
      // wm → 11:50, past the moved 10:50 expiry: flush with BOTH events
      input.addData(Event(5, ts("2024-01-01 12:00:00"), 2, "view", 1.0))
      q.processAllAvailable()
      input.addData(Event(6, ts("2024-01-01 12:01:00"), 2, "view", 1.0))
      q.processAllAvailable()
    }
    val u1 = sessions.filter(_.user_id == 1)
    assert(u1.length == 1 && u1.head.n_events == 2
      && u1.head.start_ts == ts("2024-01-01 10:00:00").getTime
      && u1.head.end_ts == ts("2024-01-01 10:20:00").getTime, u1.mkString("; "))
  }

  /** Run `body` with no-data micro-batches disabled (and restored).
    * Disabling them makes the input-preempts-timeout ordering
    * DETERMINISTIC: normally the engine's post-watermark-advance
    * no-data batch fires a due timer before the next data batch can
    * deliver input for the same key; with it off, a batch carrying
    * only below-watermark events for an already-expired session is
    * exactly the race the kernels' expired-open-session rule handles —
    * and a production stream may legitimately run with this conf off,
    * so the kernel must be correct either way. */
  private def withoutNoDataBatches[T](body: => T): T = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("GroupState: an inadmissible-only batch flushes an already-expired session") {
    import EventStreams.{Event, Session}
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    withoutNoDataBatches {
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
      val q = EventStreams.sessionizeBounded(input.toDS(), gapMinutes = 30)
        .writeStream.outputMode("append").format("memory")
        .queryName("sessions_expired_flush_test").start()
      input.addData(Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0))
      q.processAllAvailable() // user 1 opens; expiry 10:30; wm → 9:50
      input.addData(Event(2, ts("2024-01-01 11:30:00"), 2, "view", 1.0))
      q.processAllAvailable() // wm during: 9:50 (timeout not due); after → 11:20
      // the race: user 1's expiry (10:30) is now < wm (11:20), but this
      // batch delivers user 1 ONLY an inadmissible event — the input
      // call preempts the timed-out call, so pushing the timeout to
      // wm+1 would orphan the session if the watermark never advances
      // again. The kernel must flush it directly.
      input.addData(Event(3, ts("2024-01-01 10:05:00"), 1, "click", 9.0))
      q.processAllAvailable()
      q.stop()
      val u1 = spark.table("sessions_expired_flush_test").as[Session]
        .collect().filter(_.user_id == 1)
      assert(u1.length == 1 && u1.head.n_events == 1
        && u1.head.start_ts == ts("2024-01-01 10:00:00").getTime
        && u1.head.end_ts == ts("2024-01-01 10:00:00").getTime, u1.mkString("; "))
    }
  }

  test("SessionProcessor: an inadmissible-only batch flushes an already-expired session") {
    import EventStreams.Event
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val sessions = withoutNoDataBatches {
      runSessionProcessor("tws_expired_flush_test") { (input, q) =>
        input.addData(Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0))
        q.processAllAvailable() // timer @ 10:30; wm → 9:50
        input.addData(Event(2, ts("2024-01-01 11:30:00"), 2, "view", 1.0))
        q.processAllAvailable() // wm during: 9:50; after → 11:20
        // same race as the GroupState twin, at the <= comparator: the
        // input phase deletes/moves the due timer, so only a direct
        // flush keeps the session from being orphaned
        input.addData(Event(3, ts("2024-01-01 10:05:00"), 1, "click", 9.0))
        q.processAllAvailable()
      }
    }
    val u1 = sessions.filter(_.user_id == 1)
    assert(u1.length == 1 && u1.head.n_events == 1
      && u1.head.start_ts == ts("2024-01-01 10:00:00").getTime, u1.mkString("; "))
  }

  /** MapState semantics (s74): per-entry accumulation across batches —
    * a type seen in both batches totals up; a type seen only in batch
    * 1 keeps its entry untouched by batch 2 (per-entry access, not a
    * whole-map rewrite). */
  test("TypeCountProcessor accumulates per-type MapState entries across batches") {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import EventStreams.{Event, TypeCount}
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
      spark.catalog.dropTempView("tws_mapstate_test")
      val q = input.toDS().groupByKey(_.user_id)
        .transformWithState(new EventStreams.TypeCountProcessor,
          TimeMode.None(), OutputMode.Update())
        .writeStream.outputMode("update").format("memory")
        .queryName("tws_mapstate_test").start()
      input.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Event(2, ts("2024-01-01 10:01:00"), 1, "click", 1.0),
        Event(3, ts("2024-01-01 10:02:00"), 1, "view", 1.0))
      q.processAllAvailable()
      input.addData(
        Event(4, ts("2024-01-01 10:03:00"), 1, "click", 1.0),
        Event(5, ts("2024-01-01 10:04:00"), 1, "purchase", 1.0))
      q.processAllAvailable()
      q.stop()
      val out = spark.table("tws_mapstate_test").as[TypeCount].collect()
      val finalCounts = out.groupBy(r => (r.user_id, r.event_type))
        .map { case (k, rs) => k -> rs.map(_.n).max }
      assert(finalCounts == Map(
        (1L, "click") -> 3L, (1L, "view") -> 1L, (1L, "purchase") -> 1L), out.mkString("; "))
      // batch 2 emitted only the entries it touched — view stayed silent
      assert(!out.exists(r => r.event_type == "view" && r.n != 1L), out.mkString("; "))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** ListState semantics (s75): the bounded recent list truncates at k
    * across batches (an old event falls off when newer ones arrive),
    * and the composed ValueState counter is monotonic so the final
    * emission is selectable per user. */
  test("RecentEventsProcessor keeps a bounded last-k list across batches") {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import EventStreams.{Event, RecentEvent}
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
      spark.catalog.dropTempView("tws_liststate_test")
      val q = input.toDS().groupByKey(_.user_id)
        .transformWithState(new EventStreams.RecentEventsProcessor(3),
          TimeMode.None(), OutputMode.Update())
        .writeStream.outputMode("update").format("memory")
        .queryName("tws_liststate_test").start()
      input.addData(
        Event(10, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Event(11, ts("2024-01-01 10:01:00"), 1, "view", 1.0))
      q.processAllAvailable()
      input.addData(
        Event(12, ts("2024-01-01 10:02:00"), 1, "click", 1.0),
        Event(13, ts("2024-01-01 10:03:00"), 1, "purchase", 1.0))
      q.processAllAvailable()
      q.stop()
      val out = spark.table("tws_liststate_test").as[RecentEvent].collect()
      val maxSeen = out.map(_.seen).max
      assert(maxSeen == 4L, out.mkString("; "))
      val fin = out.filter(_.seen == maxSeen).sortBy(_.rank)
      // k=3: event 10 fell off; newest-first order from cross-batch state
      assert(fin.map(_.event_id).toSeq == Seq(13L, 12L, 11L), fin.mkString("; "))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** The warm-start processor (s71): the state store is seeded from a
    * batch dataset, so the first streamed event bridges FROM the seed —
    * counted exactly as a cross-batch transition — while an unseeded
    * key starts cold (its first event bridges nothing). */
  test("TransitionCounterWithInit counts the bridge from seeded initial state") {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import EventStreams.{Event, LastSeenEvent, Transition}
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // user 1's history frontier: a click at 09:00 (event 100)
      val seed = spark.createDataset(Seq(
          (1L, LastSeenEvent(ts("2024-01-01 09:00:00").getTime * 1000L, 100L, "click"))))
        .groupByKey(_._1).mapValues(_._2)
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
      spark.catalog.dropTempView("tws_warmstart_test")
      val q = input.toDS()
        .groupByKey(_.user_id)
        .transformWithState(new EventStreams.TransitionCounterWithInit,
          TimeMode.None(), OutputMode.Update(), seed)
        .writeStream.outputMode("update").format("memory")
        .queryName("tws_warmstart_test").start()
      // user 1: one streamed event — its ONLY transition is the bridge
      // from the seed; user 2: unseeded, so view→click only
      input.addData(
        Event(200, ts("2024-01-01 10:00:00"), 1, "purchase", 1.0),
        Event(201, ts("2024-01-01 10:00:00"), 2, "view", 1.0),
        Event(202, ts("2024-01-01 10:01:00"), 2, "click", 1.0))
      q.processAllAvailable()
      q.stop()
      val out = spark.table("tws_warmstart_test").as[Transition].collect()
      assert(out.toSet == Set(
        Transition(1, "click", "purchase", 1),
        Transition(2, "view", "click", 1)), out.mkString("; "))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Lands `df` as ONE parquet file `<name>.parquet` in `src` (an atomic
    * move, so a stream never lists a half-written file). */
  private def land(df: org.apache.spark.sql.DataFrame, src: java.nio.file.Path,
                   name: String): Unit =
    java.nio.file.Files.move(stage(df, src.getParent, name), src.resolve(s"$name.parquet"))

  /** Writes `df` as one parquet file under `dir/staging-<name>`; its path. */
  private def stage(df: org.apache.spark.sql.DataFrame, dir: java.nio.file.Path,
                    name: String): java.nio.file.Path = {
    val out = dir.resolve(s"staging-$name")
    df.coalesce(1).write.parquet(out.toString)
    java.nio.file.Files.list(out).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
  }

  /** Janino compiles (generated-class cache misses) while `body` runs. */
  private def compiles(body: => Unit): Long = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** One checkpointed `AvailableNow` run to completion. */
  private def runAvailableNow(df: org.apache.spark.sql.DataFrame, mode: String,
                              checkpoint: String): Unit = {
    val q = df.writeStream.format("noop").outputMode(mode)
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    q.exception.foreach(e => throw e)
  }

  test("stream restarts reuse generated code: only watermark predicates recompile") {
    import EventStreams.Event
    // FRESH sessions start with artifact isolation at its default (on),
    // so this guard does not lean on an earlier test having routed the
    // shared session through a stream reader; the query-layer reader
    // gets a session of its own, so it must pass the helper itself
    val s = spark.newSession()
    val sq = spark.newSession()
    import s.implicits._
    val events = Tables.load(s, SparkTestSession.sf0001, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    // three time-ordered slices: each restart lands one, so every run
    // has new input and moves the watermark (nothing is late-dropped)
    val Array(lo, hi) = events.agg(min(unix_micros($"ts")), max(unix_micros($"ts")))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val cut = (1 to 2).map(i => lo + (hi - lo) * i / 3)
    val slices = Seq(unix_micros($"ts") <= cut(0),
      unix_micros($"ts") > cut(0) && unix_micros($"ts") <= cut(1),
      unix_micros($"ts") > cut(1))
    val runs = withTempDir("restart-guard") { root =>
      val src = java.nio.file.Files.createDirectories(root.resolve("src"))
      def restart(i: Int): Map[String, Long] = {
        land(events.where(slices(i)), src, s"batch$i")
        Map(
          "hourlyCounts" -> compiles(runAvailableNow(
            EventStreams.hourlyCounts(EventStreams.readEventStream(s, src.toString)),
            "complete", s"$root/ck/hourly")),
          "sessionizeBounded" -> compiles(runAvailableNow(
            EventStreams.sessionizeBounded(EventStreams.readEventStream(s, src.toString)
              .select("event_id", "ts", "user_id", "event_type", "value").as[Event]).toDF(),
            "append", s"$root/ck/sessions")),
          // the query-layer reader over its fixed time-split export: each
          // start is a fresh checkpoint over the same files, so the same
          // watermarks come back and nothing at all should recompile
          "splitEventStream" -> compiles(runAvailableNow(
            EventStreams.sessionizeBounded(
              graft.queries.StreamingQueries.splitEventStream(sq, SparkTestSession.sf0001)
                .as[Event]).toDF(),
            "append", s"$root/ck/split$i")))
      }
      (0 until 3).map(restart)
    }
    info(s"janino compiles per restart: ${runs.mkString(" | ")}")
    // what a restart may compile: only code that really changed. The
    // sessionization's late-event filter is a SpecificPredicate that
    // carries the new watermark as a literal (`ts <= <watermark µs>`);
    // the complete-mode hourly counts evict nothing and compile none.
    // With session isolation on, a restart recompiles every stage
    // (15–18 classes per stream here).
    val allowed = Map("hourlyCounts" -> 0L, "sessionizeBounded" -> 1L, "splitEventStream" -> 0L)
    val third = runs(2)
    assert(allowed.forall { case (k, n) => third(k) <= n },
      s"third restart recompiled $third; allowed $allowed")
  }

  /** Each process started from Hadoop's `Shell` while `body` runs, as
    * "command <- callers", recorded in-process by JFR. */
  private def shellForks(dir: java.nio.file.Path)(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try body finally rec.stop()
      val file = dir.resolve(s"forks-${System.nanoTime}.jfr")
      rec.dump(file)
      jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq.flatMap { e =>
        val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
        if (!frames.exists(_.startsWith("org.apache.hadoop.util.Shell"))) None
        else Some(s"${e.getString("command")} <- " +
          frames.filterNot(f => f.startsWith("java.") || f.contains(".Shell")).take(6).mkString(" < "))
      }
    } finally rec.close()
  }

  test("checkpointed stream restarts fork no shell process") {
    import EventStreams.Event
    val s = spark.newSession()
    import s.implicits._
    withTempDir("fork-guard") { root =>
      // the recorder sees a checkpoint write through Spark's default
      // manager fork, so an empty count below is not a blind recorder
      val default = new org.apache.spark.sql.execution.streaming.checkpointing
        .FileContextBasedCheckpointFileManager(new org.apache.hadoop.fs.Path(root.toUri),
          s.sessionState.newHadoopConf())
      val control = shellForks(root)(
        default.createAtomic(new org.apache.hadoop.fs.Path(s"$root/probe"), true).close())
      assert(control.nonEmpty, "JFR recorded no fork from the default manager's write")

      // three time-ordered slices, written before recording (a parquet
      // write forks chmod, which is not what this guards) and each landed
      // by a move before its restart
      val events = Tables.load(s, SparkTestSession.sf0001, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
      val Array(lo, hi) = events.agg(min(unix_micros($"ts")), max(unix_micros($"ts")))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      val cut = (1 to 2).map(i => lo + (hi - lo) * i / 3)
      val staged = Seq(unix_micros($"ts") <= cut(0),
        unix_micros($"ts") > cut(0) && unix_micros($"ts") <= cut(1),
        unix_micros($"ts") > cut(1)).zipWithIndex.map { case (slice, i) =>
        stage(events.where(slice), root, s"batch$i")
      }
      val src = java.nio.file.Files.createDirectories(root.resolve("src"))
      val forks = shellForks(root) {
        staged.zipWithIndex.foreach { case (file, i) =>
          java.nio.file.Files.move(file, src.resolve(s"batch$i.parquet"))
          runAvailableNow(
            EventStreams.hourlyCounts(EventStreams.readEventStream(s, src.toString)),
            "complete", s"$root/ck/hourly")
          runAvailableNow(
            EventStreams.sessionizeBounded(EventStreams.readEventStream(s, src.toString)
              .select("event_id", "ts", "user_id", "event_type", "value").as[Event]).toDF(),
            "append", s"$root/ck/sessions")
        }
      }
      info(s"shell forks: default-manager write ${control.size}, three restarts ${forks.size}")
      // a count, so a failure prints the first callers, not every fork
      assert(forks.size == 0, s"shell forks:\n${forks.distinct.take(10).mkString("\n")}")
    }
  }
}
