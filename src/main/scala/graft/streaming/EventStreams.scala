package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, StatefulProcessorWithInitialState, StreamingQuery, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}
import org.apache.spark.sql.types._

/**
 * Structured Streaming surface over the `events` table shape. The
 * reference has no streaming (SURVEY.md §2.3); this is the engine's
 * native extension of the same aggregations to unbounded input:
 * watermarked tumbling-window aggregation and stateful sessionization
 * via `flatMapGroupsWithState` — the two canonical patterns a pipeline
 * at scale needs (late-data tolerance; per-key custom state).
 *
 * The batch equivalents (a24_events_hourly) are oracle-checked; the
 * streaming specs drive these on the same parquet via a file source +
 * memory sink and assert batch/stream agreement.
 */
object EventStreams {

  /** Fallback events shape, used only when a stream starts over a
    * directory that has no files yet to infer from; populated
    * directories are always read with their actual on-disk schema.
    * `ts` is TIMESTAMP_NTZ-micros — the encoding the driver currently
    * ships — NOT the legacy long-nanos shape: a pinned nanos schema
    * would silently decode later-arriving micros files as ~1970
    * timestamps (the round-5 corruption class), whereas a wrong NTZ
    * guess against nanos files fails loudly at read time. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Lets every session cloned from `spark` reuse the generated classes
    * this JVM has already compiled, and write its `file:` checkpoints
    * without forking; returns `spark`.
    *
    * Spark 4.1 keys `CodeGenerator`'s generated-class cache by
    * (classloader, code), not by code alone. Each `writeStream.start()`
    * clones its session, the clone gets a fresh session UUID, and while
    * `spark.sql.artifact.isolation.enabled` keeps its default the
    * executor builds a new classloader per session UUID
    * (`Executor.isolatedSessionCache`). With that default, every
    * checkpointed `AvailableNow` restart misses the cache and janino
    * recompiles every stage, byte-identical code included (a perfbench
    * stream_ingest round loads ~62 generated classes that way). With
    * isolation off, the executor runs every session's tasks in the
    * default classloader, so a restart compiles only the code that
    * really changed: the predicate that carries the new watermark
    * literal (2 class loads per round). graft adds no session
    * artifacts (jars, files, REPL classes), so isolation buys it
    * nothing. The setting is read lazily by each clone from its own copy
    * of the conf, so setting it on the caller's session at run time is
    * enough — the same pattern as `nanosAsLong` in [[readEventStream]].
    * A fresh `newSession()` starts with isolation on again and must
    * pass through here too (p19).
    *
    * Checkpoint files: Spark's default manager writes `file:` paths
    * through Hadoop's `FileContext`, which starts a `chmod` or
    * `readlink` shell process for every temp file, rename and directory
    * — over 200 forks per perfbench stream_ingest round.
    * [[LocalCheckpointFileManager]] does the same atomic writes with
    * `java.nio` system calls and leaves every other scheme to Spark's
    * default. It is installed through Spark's own setting, only where
    * the session names no manager, so a configured manager always wins;
    * clones read the setting like the one above. */
  def shareGeneratedCode(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.artifact.isolation.enabled", "false")
    if (spark.conf.getOption(LocalCheckpointFileManager.ConfKey).isEmpty)
      spark.conf.set(LocalCheckpointFileManager.ConfKey,
        classOf[LocalCheckpointFileManager].getName)
    spark
  }

  /** `spark.readStream` through [[shareGeneratedCode]]: the one way a
    * stream is opened in graft, so no restart recompiles its stages or
    * forks to write its checkpoint. */
  def streamReader(spark: SparkSession): DataStreamReader =
    shareGeneratedCode(spark).readStream

  /** File-source stream over an events parquet location. The schema is
    * inferred from the files via a batch read of `schemaPath` (a
    * file-source stream requires an explicit schema) so long-nanos and
    * timestamp-typed files both work; `nanosTsToTimestamp` then
    * normalizes either. An empty/not-yet-populated location falls back
    * to the legacy [[eventSchema]] so the stream can still start and
    * pick up files as they arrive. ONE definition — the query-layer
    * reader ([[graft.queries.StreamingQueries]]) routes through here
    * with its glob, so a ts-encoding fix lands in both paths at once. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    readEventStream(spark, dir, dir)

  def readEventStream(spark: SparkSession, schemaPath: String,
                      streamPath: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Fall back to the legacy schema ONLY for a genuinely absent/empty
    // location (stream starts before the first file lands). Any other
    // failure — corrupt footer, permission error, OOM — must propagate:
    // silently trusting eventSchema here would decode NTZ-micros files
    // as nanos (~1970 timestamps), the round-5 corruption class.
    val onDisk =
      try spark.read.parquet(schemaPath).schema
      catch {
        // match the semantic error CONDITION first (stable across Spark
        // versions), with the message substrings as a fallback for any
        // path where the condition is unset — wording alone would break
        // the empty-location startup on the next message reword
        case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).exists(c =>
               c.contains("PATH_NOT_FOUND") ||
               c.contains("UNABLE_TO_INFER_SCHEMA")) ||
             (e.getMessage != null &&
               (e.getMessage.contains("Path does not exist") ||
                e.getMessage.contains("Unable to infer schema"))) => eventSchema
        case _: java.io.FileNotFoundException => eventSchema
      }
    graft.sources.Tables.nanosTsToTimestamp(spark,
      streamReader(spark)
        .schema(onDisk)
        .parquet(streamPath))
  }

  /**
   * Watermarked tumbling-window aggregation: 1h windows, 10min allowed
   * lateness. At scale: partial aggregation per micro-batch, state keyed
   * by (window, event_type), watermark bounds state size.
   */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      // DECIMAL fold (as s40/a24): raw double summation order differs
      // between the streaming partial-agg and any batch recompute, so
      // sum_value would be uncheckable against a batch twin
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("cnt"), col("sum_value"))

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(start: Long, lastSeen: Long, nEvents: Long, total: Double)
  case class Session(user_id: Long, start_ts: Long, end_ts: Long,
                     n_events: Long, total_value: Double)

  case class Transition(user_id: Long, from_type: String, to_type: String, n: Long)
  case class LastSeenEvent(ts_us: Long, event_id: Long, event_type: String)

  /** Full-microsecond epoch value of a Timestamp — `getTime` alone
    * truncates to milliseconds, which would break (ts, event_id)
    * tie-breaks against the batch twin's micro-exact ORDER BY. */
  private def epochMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  /**
   * `transformWithState` kernel — Spark 4's arbitrary-state API, the
   * successor of `flatMapGroupsWithState` (named typed state variables,
   * TTL, timers; RocksDB provider required). Per-user event-type
   * transition counting: state is ONE tiny ValueState record — the last
   * event in the (ts, event_id) total order — bridging consecutive
   * micro-batches, so a transition spanning a batch boundary is counted
   * from state exactly as the batch `lag()` chain (a46's mechanism)
   * counts it from adjacency. Each batch emits per-user DELTA counts
   * (never cumulative), so the summed output is independent of batch
   * boundaries. Correctness against the batch twin needs batches
   * time-ordered per user — which the time-split source guarantees —
   * the same contract every streaming transition counter has for late
   * data (a watermarked variant would drop, not reorder).
   */
  /** The shared transition step: sort the batch in the (ts, event_id)
    * total order, count adjacency pairs bridging from the stored last
    * event, move the state forward. ONE definition so the plain (s68)
    * and warm-start (s71) processors cannot drift. */
  private def transitionStep(user: Long, rows: Iterator[Event],
                             last: ValueState[LastSeenEvent]): Iterator[Transition] = {
    val sorted = rows.toArray.sortBy(e => (epochMicros(e.ts), e.event_id))
    var prev: LastSeenEvent = if (last.exists()) last.get() else null
    val counts = scala.collection.mutable.LinkedHashMap.empty[(String, String), Long]
    sorted.foreach { e =>
      if (prev != null) {
        val k = (prev.event_type, e.event_type)
        counts.update(k, counts.getOrElse(k, 0L) + 1L)
      }
      prev = LastSeenEvent(epochMicros(e.ts), e.event_id, e.event_type)
    }
    if (prev != null) last.update(prev)
    counts.iterator.map { case ((f, to), n) => Transition(user, f, to, n) }
  }

  class TransitionCounter extends StatefulProcessor[Long, Event, Transition] {
    @transient private var last: ValueState[LastSeenEvent] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[LastSeenEvent]("last",
        org.apache.spark.sql.Encoders.product[LastSeenEvent], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[Transition] =
      transitionStep(user, rows, last)
  }

  /**
   * Warm-start variant ([[StatefulProcessorWithInitialState]]): the
   * state store is SEEDED from a batch dataset before the first
   * micro-batch — the backfill→streaming migration pattern (a batch
   * job computes history once; the stream continues from its frontier
   * instead of replaying it). `handleInitialState` runs per key at
   * query start; the transition step itself is [[transitionStep]],
   * shared with [[TransitionCounter]], so the bridge from the seeded
   * last event is counted exactly as a cross-batch bridge would be.
   */
  class TransitionCounterWithInit
    extends StatefulProcessorWithInitialState[Long, Event, Transition, LastSeenEvent] {
    @transient private var last: ValueState[LastSeenEvent] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[LastSeenEvent]("last",
        org.apache.spark.sql.Encoders.product[LastSeenEvent], TTLConfig.NONE)

    override def handleInitialState(user: Long, initial: LastSeenEvent,
                                    tv: TimerValues): Unit =
      last.update(initial)

    override def handleInputRows(user: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[Transition] =
      transitionStep(user, rows, last)
  }

  case class TypeCount(user_id: Long, event_type: String, n: Long)

  /**
   * Per-user per-event-type running counts on `transformWithState`
   * MAP STATE — the state-variable family's remaining member
   * (ValueState: s68/s71; timers: s70; MapState: this, s74). The point
   * of MapState over ValueState[Map] is PER-ENTRY access: each batch
   * touches only the types it saw (`containsKey`/`getValue`/
   * `updateValue`), never deserializing or rewriting the user's whole
   * map — at scale a user's map can hold thousands of entries and a
   * batch touches a handful. Emits the RUNNING total for each
   * (user, type) the batch touched; totals are monotonic, so the final
   * count per key is the max over emitted rows — batch-boundary-
   * independent, which is what the oracle checks.
   */
  class TypeCountProcessor extends StatefulProcessor[Long, Event, TypeCount] {
    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[TypeCount] = {
      val batch = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      rows.foreach(e => batch.update(e.event_type, batch.getOrElse(e.event_type, 0L) + 1L))
      // state updates applied EAGERLY while building the output (a Seq,
      // not a view over the map): correctness must not depend on a
      // downstream operator draining the returned iterator — a
      // short-circuiting consumer over a lazy map would silently skip
      // updateValue calls
      batch.iterator.map { case (t, n) =>
        val total = (if (counts.containsKey(t)) counts.getValue(t) else 0L) + n
        counts.updateValue(t, total)
        TypeCount(user, t, total)
      }.toSeq.iterator
    }
  }

  case class RecentEvent(user_id: Long, rank: Int, event_id: Long, seen: Long)

  /**
   * Per-user LAST-k recent events on `transformWithState` LIST STATE —
   * the feature-store pattern (a model server asks "this user's last 5
   * events" at request time), and the final tws state variable
   * (ValueState s68/s71, timers s70, MapState s74, ListState here).
   * TWO state variables compose in one processor: the bounded recent
   * list plus a ValueState event counter whose monotonic value lets
   * the sink select each user's FINAL emission (rows where seen =
   * max(seen) per user) — batch-boundary-independent, which is what
   * the batch top-k oracle checks. State per user is bounded at k
   * list entries + one long, regardless of event volume.
   */
  class RecentEventsProcessor(k: Int = 5)
    extends StatefulProcessor[Long, Event, RecentEvent] {
    @transient private var recent: ListState[LastSeenEvent] = _
    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      recent = getHandle.getListState[LastSeenEvent]("recent",
        org.apache.spark.sql.Encoders.product[LastSeenEvent], TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(user: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[RecentEvent] = {
      val batch = rows.toArray
      val merged = (recent.get().toArray ++
          batch.map(e => LastSeenEvent(epochMicros(e.ts), e.event_id, e.event_type)))
        .sortBy(e => (-e.ts_us, -e.event_id)).take(k)
      recent.put(merged) // bounded rewrite: at most k entries ever stored
      val total = (if (seen.exists()) seen.get() else 0L) + batch.length
      seen.update(total)
      merged.iterator.zipWithIndex
        .map { case (e, i) => RecentEvent(user, i + 1, e.event_id, total) }
    }
  }

  /**
   * Bounded-state sessionization on `transformWithState` with
   * EVENT-TIME TIMERS — the same contract as [[sessionizeBounded]]'s
   * `EventTimeTimeout`, re-expressed on the successor API (s68's
   * kernel exercised state variables; this one exercises the timer
   * half). Same [[mergeSessions]] gaps-and-islands kernel, same
   * admissibility filter, same flush rule: when the event-time
   * watermark reaches a user's `lastSeen + gap`, the timer fires and
   * the open session is emitted with its state dropped. ONE contract
   * difference from GroupState, verified empirically in
   * EventStreamsSpec: a transformWithState timer fires when the
   * watermark REACHES its expiry (<=), whereas an EventTimeTimeout
   * fires only strictly past it (<) — so the s70 oracle's final-
   * session cutoff is `end + gap <= wm` where s48's is `<`.
   *
   * One discipline difference from GroupState's single timeout slot:
   * transformWithState timers ACCUMULATE per key, so the kernel
   * deletes the stale timer before registering the moved-out expiry —
   * otherwise an orphaned early timer would flush a still-growing
   * session the moment the watermark passed the OLD expiry.
   *
   * TIMER WRITE DISCIPLINE (r11 — the s70-costs-2.7×-s68 root cause):
   * the kernel maintains the invariant "open state exists ⟺ exactly
   * one timer, at open.lastSeen + gap", so the stale timer's expiry is
   * KNOWN from the previous state — no `listTimers()` range scan per
   * key per batch — and delete+register runs only when the expiry
   * actually MOVED; the session record itself is rewritten only when
   * it changed. A batch that delivers a user no admissible events (or
   * events that merge without advancing lastSeen) now costs ZERO
   * state-store writes for that key, where the naive form paid a timer
   * scan + delete + register + state put. `naiveTimers = true` keeps
   * the r10 discipline for same-session A/B measurement
   * (graft.StreamStateProbe; SCALING.md r11 records the pair).
   */
  class SessionProcessor(gapMs: Long, naiveTimers: Boolean = false)
    extends StatefulProcessor[Long, Event, Session] {
    @transient private var open: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[SessionState]("open",
        org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[Session] = {
      val wm = tv.getCurrentWatermarkInMs()
      // events older than the watermark are inadmissible — their session
      // may already have been flushed by a timer (same rule as
      // sessionizeBounded; spurious one-event sessions otherwise).
      // The .toSeq is the one eager buffer in these kernels: it holds
      // ONE user's events for ONE micro-batch (the merge must sort
      // them), so memory is bounded by per-user-per-batch volume —
      // trigger-interval-sized, not corpus- or state-sized.
      val admissible = rows.filter(_.ts.getTime >= wm).toSeq
      val prevOpen = if (open.exists()) Some(open.get()) else None
      val (closed, nowOpen) = mergeSessions(prevOpen, admissible, gapMs)
      // An open session already past its natural expiry (lastSeen+gap
      // <= wm, the timer's own <= rule) flushes NOW. This happens when
      // a batch delivers ONLY inadmissible (below-watermark) events for
      // a user whose timer was due this same batch: the input phase
      // runs first, and re-registering at wm+1 would orphan the session
      // forever if the stream ends without the watermark advancing —
      // diverging from the oracle's end+gap <= wm cutoff.
      val (expired, stillOpen) = nowOpen match {
        case Some(s) if s.lastSeen + gapMs <= wm => (Seq(s), None)
        case other => (Nil, other)
      }
      stillOpen.foreach { s =>
        if (naiveTimers) {
          getHandle.listTimers().foreach(getHandle.deleteTimer)
          open.update(s)
          getHandle.registerTimer(s.lastSeen + gapMs) // > wm by the split above
        } else {
          if (!prevOpen.contains(s)) open.update(s)
          val newExpiry = s.lastSeen + gapMs
          val prevExpiry = prevOpen.map(_.lastSeen + gapMs)
          if (!prevExpiry.contains(newExpiry)) {
            prevExpiry.foreach(getHandle.deleteTimer)
            getHandle.registerTimer(newExpiry) // > wm by the split above
          }
        }
      }
      if (expired.nonEmpty) {
        // expired ⊆ sessions containing prevOpen (admissible events sit
        // at/above the watermark, so a fresh-this-batch session cannot
        // be past expiry) — its timer sits at the KNOWN prev expiry
        if (naiveTimers) getHandle.listTimers().foreach(getHandle.deleteTimer)
        else prevOpen.foreach(p => getHandle.deleteTimer(p.lastSeen + gapMs))
        open.clear()
      }
      (closed ++ expired).iterator
        .map(s => Session(user, s.start, s.lastSeen, s.nEvents, s.total))
    }

    override def handleExpiredTimer(user: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[Session] = {
      // watermark passed lastSeen + gap with no further events: flush
      // the idle session and drop the state
      val out =
        if (open.exists()) {
          val s = open.get()
          Iterator.single(Session(user, s.start, s.lastSeen, s.nEvents, s.total))
        } else Iterator.empty
      open.clear()
      out
    }
  }

  /**
   * Stateful sessionization: per-user sessions closed when a later event
   * arrives more than `gapMinutes` after the previous one (event-time gap
   * logic in state). State is one small record per active user. This
   * variant keeps NoTimeout so bounded test input drains
   * deterministically; [[sessionizeBounded]] is the production form —
   * watermark + EventTimeTimeout flush idle users' final sessions and
   * bound state size.
   */
  /**
   * Uniform gaps-and-islands interval merge over (open state ∪ batch
   * events), the SAME chaining rule as [[batchSessions]]: after sorting
   * by start, any item within `gapMs` of the growing session's end
   * merges into it — including multiple cross-batch stragglers that
   * are mutually close but all far older than the open session (a
   * per-event fold against only the open session would emit each as
   * its own singleton, diverging from the batch form), and event
   * chains that bridge a straggler up to the open session. Returns
   * (closed sessions ascending, new open session = the latest one).
   */
  private def mergeSessions(open: Option[SessionState], batch: Seq[Event],
                            gapMs: Long): (Seq[SessionState], Option[SessionState]) = {
    val units = batch.sortBy(_.ts.getTime)
      .map(e => SessionState(e.ts.getTime, e.ts.getTime, 1, e.value))
    val all = (open.toSeq ++ units).sortBy(s => (s.start, s.lastSeen))
    all match {
      case Seq() => (Nil, None)
      case first +: rest =>
        val merged = rest.foldLeft(List(first)) { (acc, s) =>
          val head = acc.head
          if (s.start - head.lastSeen <= gapMs)
            SessionState(head.start, math.max(head.lastSeen, s.lastSeen),
              head.nEvents + s.nEvents, head.total + s.total) :: acc.tail
          else s :: acc
        }
        (merged.tail.reverse, Some(merged.head))
    }
  }

  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) => {
          val (closed, open) = mergeSessions(state.getOption, batch.toSeq, gapMs)
          open.foreach(state.update)
          closed.iterator
            .map(s => Session(userId, s.start, s.lastSeen, s.nEvents, s.total))
        })
  }

  /**
   * Production sessionization with BOUNDED state: same gap semantics as
   * [[sessionize]], plus a watermark and `EventTimeTimeout`. When the
   * event-time watermark passes a user's `lastSeen + gap`, the open
   * session is emitted and its state removed — so an idle user's final
   * session flushes without needing a closing event, and state size
   * stays proportional to *active* users, not all users ever seen.
   */
  def sessionizeBounded(events: Dataset[Event], gapMinutes: Int = 30,
                        lateness: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            // watermark passed lastSeen + gap with no further events:
            // flush the idle session and drop the state
            val out = state.getOption
              .map(s => Session(userId, s.start, s.lastSeen, s.nEvents, s.total))
            state.remove()
            out.iterator
          } else {
            // events older than the watermark are inadmissible — their
            // session may already have been flushed by a timeout, so
            // processing them would spawn spurious one-event sessions
            val wm = state.getCurrentWatermarkMs()
            val admissible = batch.toSeq.filter(_.ts.getTime >= wm)
            val (closed, open) = mergeSessions(state.getOption, admissible, gapMs)
            // Same expired-open-session rule as the transformWithState
            // kernel, at GroupState's STRICT comparator: a timeout fires
            // only when wm passes lastSeen+gap (<), so a session with
            // lastSeen+gap < wm whose user received only inadmissible
            // events this batch (input phase preempts the timeout call)
            // flushes directly instead of having its timeout pushed to
            // wm+1 — which would orphan it if the watermark stalls.
            val (expired, stillOpen) = open match {
              case Some(s) if s.lastSeen + gapMs < wm => (Seq(s), None)
              case other => (Nil, other)
            }
            stillOpen.foreach { s =>
              state.update(s)
              // timeout must not be behind the watermark; == wm is the
              // one boundary case left (fires once wm moves past it)
              state.setTimeoutTimestamp(math.max(s.lastSeen + gapMs, wm + 1))
            }
            if (expired.nonEmpty) state.remove()
            (closed ++ expired).iterator
              .map(s => Session(userId, s.start, s.lastSeen, s.nEvents, s.total))
          }
        })
  }

  /**
   * Batch gaps-and-islands form of [[sessionize]]: identical gap
   * semantics (a session breaks when consecutive per-user events are
   * more than `gapMinutes` apart) expressed as window functions, so the
   * whole computation is one shuffle on user_id + two window passes —
   * fully declarative, Catalyst-optimized, and DuckDB-oracle-checkable.
   * Timestamps are epoch millis (the unit the streaming state logic
   * uses); `total_value` folds per-event values through DECIMAL(18,6)
   * so the sum is order-independent (double summation order differs
   * across partitionings/engines).
   */
  def batchSessions(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapMs = gapMinutes * 60000L
    val w = Window.partitionBy("user_id").orderBy("t")
    val marked = events
      .select(col("user_id"), expr("unix_micros(ts) div 1000").as("t"), col("value"))
      .withColumn("brk",
        when(lag("t", 1).over(w).isNull ||
          col("t") - lag("t", 1).over(w) > gapMs, 1).otherwise(0))
    // running count of session breaks = session ordinal; ROWS frame (ties
    // in t share a session either way — gap 0 never breaks)
    marked
      .withColumn("sid", sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min("t").as("start_ts"), max("t").as("end_ts"),
        count(lit(1)).as("n_events"),
        sum(round(col("value"), 6).cast("decimal(18,6)")).cast("double").as("total_value"))
      .drop("sid")
  }

  /** Drain `df` to a memory sink. The output mode must match the plan:
    * Complete for aggregations, Append for the flatMapGroupsWithState
    * sessionizers (which register Append and reject a Complete start). */
  def runToMemory(df: DataFrame, name: String,
                  mode: OutputMode = OutputMode.Complete()): StreamingQuery = {
    // a prior same-name run in this session leaves a stale memory-sink
    // view behind — the same hazard StreamingQueries.runToTable guards
    df.sparkSession.catalog.dropTempView(name)
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q
  }
}
