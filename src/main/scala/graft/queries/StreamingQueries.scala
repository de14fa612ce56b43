package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.streaming.EventStreams

/**
 * Declared queries that execute on the REAL Structured Streaming engine
 * (file source → stateful operators → memory sink, Trigger.AvailableNow)
 * and still land in the DuckDB oracle gate: bounded input replayed
 * through the engine is deterministic here, so the streaming result
 * must equal batch SQL over the same rows. This upgrades the streaming
 * category (SURVEY.md §2.3) from spec-only to driver-checked.
 *
 * Scale notes: the identical topology runs unbounded — the file source
 * becomes Kafka, `AvailableNow` becomes a continuous trigger, the
 * memory sink becomes a parquet/Delta sink; watermarks bound state
 * either way. The memory sink is safe here because results are
 * aggregate-sized (hours × event types; distinct user buckets), never
 * corpus-sized.
 */
object StreamingQueries {

  /** File-source stream over the events table. Same nanos→micros
    * normalization as [[graft.sources.Tables.load]]. The path is a glob
    * on purpose: for a non-glob single-file path, `FileStreamSource`
    * injects `basePath = <the file>` into each batch's relation and
    * partition inference rejects a file basePath; a glob skips that
    * injection entirely. */
  private def eventStream(s: SparkSession, dir: String): DataFrame =
    EventStreams.readEventStream(s,
      schemaPath = s"$dir/events.parquet",
      streamPath = s"$dir/events.parque*")

  /** Schema of the time-split export (ts already normalized to a real
    * timestamp at export time, unlike the raw nanos table). */
  private[queries] val splitEventSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))

  /**
   * Ingest-once TIME-SPLIT export of events: first half by event time
   * written before the second, so `FileStreamSource`'s oldest-first
   * file ordering yields time-ordered micro-batches. A time-ordered
   * split is the one arrangement where multi-batch replay provably
   * equals the single-batch answer: every batch-2 event sits above
   * batch-1's watermark (max(ts of half 1) ≤ split point), so nothing
   * is late-dropped, and the final watermark is the global one. The
   * split point is the exact median (deterministic); only the scalar
   * reaches the driver.
   */
  def ensureTimeSplitEvents(s: SparkSession, dir: String): String = {
    val out = RelationalQueries.dataRoot("events-split", dir, "events")
    val want = RelationalQueries.srcDigest(dir, "events")
    if (RelationalQueries.stale(s"$out/b", dir, "events")) {
      val ev = graft.sources.Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      val medRow = ev.agg(expr("CAST(percentile(unix_micros(ts), 0.5) AS BIGINT)")).head()
      // empty table → percentile is NULL; split at 0 (both halves empty)
      val med = if (medRow.isNullAt(0)) 0L else medRow.getLong(0)
      ev.where(expr(s"unix_micros(ts) <= ${med}L")).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/a")
      ev.where(expr(s"unix_micros(ts) > ${med}L")).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/b")
      RelationalQueries.markFresh(s"$out/b", want)
    }
    out
  }

  /**
   * Ingest-once export of the s78 request stream: the first 15 query
   * vectors written as FIVE single-file groups of three, so
   * `maxFilesPerTrigger=1` replays them as five small micro-batches —
   * the request-bus shape of a serving layer (a handful of queries per
   * trigger), not one bulk batch. Three queries per batch also makes
   * the per-batch pruning bound STRUCTURAL: the union of probe lists
   * is ≤ 3·nprobe = 12 of the index's 16, so the non-vacuous pin
   * (InSet size < nlist) holds by construction, not by data luck.
   */
  def ensureServeRequestExport(s: SparkSession, dir: String): String = {
    val out = RelationalQueries.dataRoot("serve-req", dir, "emb")
    // layout salt per the curated-index discipline: changing the
    // 5×3 grouping must invalidate old exports, not silently serve them
    val want = RelationalQueries.srcDigest(dir, "embeddings") + ":serve-req-5x3-v1"
    if (RelationalQueries.staleDigest(out, want)) {
      // wipe first: a layout change with fewer request batches must not
      // leave old r<k> dirs for the /*/part* glob to replay
      RelationalQueries.wipeDir(out)
      val emb = s.read.parquet(s"$dir/embeddings.parquet").where(col("vec_id") < 15)
      (0 until 5).foreach { i =>
        emb.where(col("vec_id") >= i * 3 && col("vec_id") < (i + 1) * 3)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/r$i")
      }
      RelationalQueries.markFresh(out, want)
    }
    out
  }


  /** The pruned request-bus serving topology shared by s78 / s92 /
    * s102 — ONE implementation (review r16: three near-verbatim
    * copies had to stay in lockstep by hand). Per micro-batch: the
    * FLOAT request vectors are collected driver-side (probe selection
    * widens to double exactly as the kernels do, so the restricted
    * scan is a superset of everything each query's own nprobe lists
    * touch), the index scan is restricted to the batch's probe union
    * as a STATIC `__cid IN` (planning-time pruning — DPP cannot fire
    * from a LocalRelation probe side), `rank` produces the per-batch
    * answers, the per-batch pruning pin is recorded, and the landing
    * is batchId-KEYED with overwrite so foreachBatch's at-least-once
    * retries are idempotent (r12 advice). Returns the batch-invariant
    * (query_id, nbr_id, rank) frame read back from the landings. */
  private def prunedServeStream(
      s: SparkSession, dir: String, name: String, indexPath: String,
      cents: Array[Array[Double]], nprobe: Int,
      rank: (DataFrame, DataFrame) => DataFrame, pinNeedle: String,
      recordPin: (Long, (Int, Int, Int, Int)) => Unit): DataFrame = {
    import s.implicits._
    val reqRoot = ensureServeRequestExport(s, dir)
    val out = RelationalQueries.dataRoot(s"$name-serve", dir, "emb")
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val reqSchema = s.read.parquet(s"$reqRoot/r0").schema
    val qstream = EventStreams.streamReader(s).schema(reqSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$reqRoot/r*")
    // resolve the index relation ONCE: every micro-batch filters this
    // frame, reusing its file index — re-reading the path per batch
    // re-lists all nlist hive-partition directories per trigger (the
    // per-request serving bill must scale with the REQUEST, and
    // partition discovery over nlist dirs is index-sized driver work).
    // The per-batch static `__cid IN (...)` pruning is unchanged: the
    // filter (and its planning-time partition pruning) is applied per
    // batch below, and the per-batch InSet pin still reads it from each
    // batch's own plan.
    val index = s.read.parquet(indexPath)
    val q = qstream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val reqs = batch.select(col("vec_id"), col("embedding")).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1)))
        if (reqs.nonEmpty) {
          val cids = graft.operators.Similarity.literalProbeCids(
            cents, reqs.map(_._2.map(_.toDouble).toArray).toSeq, nprobe = nprobe)
          val pruned = index
            .where(col("__cid").isin(cids.map(Integer.valueOf): _*))
          val qdf = reqs.toSeq.toDF("vec_id", "embedding")
          val res = rank(pruned, qdf)
            .select(col("query_id"), col("nbr_id"), col("rank"))
          recordPin(batchId,
            (reqs.length, cids.size, ivfScanStaticInSize(res, pinNeedle), cents.length))
          res.write.mode("overwrite").parquet(s"$out/batch=$batchId")
        }
      }
      .option("checkpointLocation", freshCheckpointDir(s, s"${name}_fb"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // partition discovery adds the batch column — the serving answer
    // is batch-invariant by the oracle contract, so project it off
    s.read.parquet(out).select("query_id", "nbr_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** Per-micro-batch pruning evidence of the last s78 run, keyed by
    * batchId: (queries in the batch, driver-selected probe-cid count,
    * static In/InSet size on the batch plan's index scan, nlist).
    * What PlanChecksSpec pins — the pruned-serving claim is that every
    * batch plans a scan restricted to exactly the probed lists. Keyed
    * (not appended) so a foreachBatch RETRY of the same batchId
    * overwrites its own pin instead of double-counting — matching the
    * batch-keyed idempotent output write below.
    *
    * Lifecycle note (r12 verdict item 5): this and the capture maps in
    * this file are PROBE/PIN state — written during a run for a spec
    * or probe main to read back — NOT oracle splices; the
    * run-before-dump artifacts live in [[OracleStash]]'s closed typed
    * registry, and these deliberately stay outside it. */
  @volatile private[graft] var s78BatchPins: Map[Long, (Int, Int, Int, Int)] = Map.empty

  /** Ingest-batch export for s87: the d44 NEW side (doc_id ≥ 250)
    * split into 5 files keyed by doc_id % 5, so `maxFilesPerTrigger=1`
    * replays them as five genuine micro-batches — the crawl-ingest
    * shape (a shard of new documents per trigger), not one bulk batch.
    * The mod-5 split covers every new doc at ANY sf, and since each
    * doc's dedup fate depends only on (doc, corpus snapshot), the
    * union over batches is BATCH-PARTITION-INVARIANT — which is what
    * lets d44's batch oracle gate the streaming twin unchanged. Same
    * digest-stamp + wipe-before-rewrite discipline as the serve-request
    * export. */
  def ensureIngestBatchExport(s: SparkSession, dir: String): String = {
    val out = RelationalQueries.dataRoot("ingest-docs", dir, "docs")
    val want = RelationalQueries.srcDigest(dir, "documents") + ":ingest-mod5-v1"
    if (RelationalQueries.staleDigest(out, want)) {
      RelationalQueries.wipeDir(out)
      val docs = s.read.parquet(s"$dir/documents.parquet").where(col("doc_id") >= 250)
      (0 until 5).foreach { i =>
        docs.where(pmod(col("doc_id"), lit(5)) === i)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/b$i")
      }
      RelationalQueries.markFresh(out, want)
    }
    out
  }

  /** Ingest-batch export for s94: the s61 delta synthesis (reversed
    * embeddings under shifted ids — 200 new vectors) split into 5
    * single-file batches keyed by vec_id % 5, so `maxFilesPerTrigger=1`
    * replays them as five genuine micro-batches — the vector-ingest bus
    * of an embedding pipeline (a shard of freshly-embedded vectors per
    * trigger). Same digest-stamp + wipe discipline as the other
    * stream exports. */
  def ensureIndexIngestExport(s: SparkSession, dir: String): String = {
    val out = RelationalQueries.dataRoot("index-ingest", dir, "emb")
    val want = RelationalQueries.srcDigest(dir, "embeddings") + ":index-ingest-mod5-v2"
    if (RelationalQueries.staleDigest(out, want)) {
      RelationalQueries.wipeDir(out)
      val delta = s.read.parquet(s"$dir/embeddings.parquet")
        .where(col("vec_id") < 200)
        .select((col("vec_id") + 100000000L).as("vec_id"),
          reverse(col("embedding")).as("embedding"))
      (0 until 5).foreach { i =>
        delta.where(pmod(col("vec_id"), lit(5)) === i)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/b$i")
      }
      RelationalQueries.markFresh(out, want)
    }
    out
  }

  /** Per-micro-batch evidence of the last s94 run, keyed by batchId:
    * (vectors in the batch, assigned rows landed). Multi-batch
    * coverage is what the spec pins; probe/pin state as s78/s87. */
  @volatile private[graft] var s94BatchPins: Map[Long, (Long, Long)] = Map.empty

  /** Per-micro-batch evidence of the last s87 run, keyed by batchId:
    * (new docs in the batch, survivors written). What the spec pins —
    * the ingest-dedup claim is that the work arrived as MULTIPLE
    * genuine micro-batches (each corpus-independent in size) and still
    * landed on d44's exact answer. Keyed, not appended: a foreachBatch
    * retry overwrites its own pin, matching the batch-keyed idempotent
    * landing. Probe/pin state, not an oracle splice (the s78BatchPins
    * lifecycle note applies). */
  @volatile private[graft] var s87BatchPins: Map[Long, (Long, Long)] = Map.empty

  /** The static `__cid` In/InSet element count on a batch plan's RAW
    * ivf index scan (0 when absent) — the per-batch form of
    * PlanChecksSpec's curated-scan probe, computed here because the
    * batch plan exists only inside the foreachBatch callback. */
  private def ivfScanStaticInSize(df: DataFrame,
                                  rootNeedle: String = "graft-ivf/"): Int =
    df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(rootNeedle)) =>
        f.partitionFilters.collectFirst {
          case i: org.apache.spark.sql.catalyst.expressions.InSet => i.hset.size
          case i: org.apache.spark.sql.catalyst.expressions.In => i.list.size
        }.getOrElse(0)
    }.headOption.getOrElse(0)

  /** s92's per-micro-batch pruning evidence — the s78 pins at
    * PRODUCTION nlist: (queries, probe-cid count, static In/InSet
    * size, nlist). The point the spec pins is that the InSet bound is
    * STRUCTURAL in the batch (≤ 3·nprobe = 12) and therefore lands
    * FAR from nlist=128 — the read fraction a serving bill actually
    * pays. Keyed by batchId for retry idempotency, as s78. */
  @volatile private[graft] var s92BatchPins: Map[Long, (Int, Int, Int, Int)] = Map.empty

  /** s102's per-micro-batch pruning evidence — the s92 pins with the
    * nprobe DERIVED once per generation by nprobeForRecall instead of
    * hand-picked: (queries, probe-cid count, static In/InSet size,
    * nlist). The spec pins that every batch's InSet stays ≤ 3·derived
    * nprobe AND that the served knob is the API's output (provenance,
    * as s98). Keyed by batchId for retry idempotency. */
  @volatile private[graft] var s102BatchPins: Map[Long, (Int, Int, Int, Int)] = Map.empty

  /**
   * Ingest-once HASH-SPLIT export of events: `splits` files keyed by
   * `event_id % splits`, so every file spans the FULL time range and
   * `maxFilesPerTrigger=1` replays them as a LATE-ARRIVAL stream —
   * after batch 1 the watermark sits near the global max, so most of
   * batches 2..N deliver only inadmissible (below-watermark) events.
   * This is the workload the r11 verdict asked for: the one where the
   * disciplined timer kernel's skip path ("no admissible change → zero
   * state-store writes for that key") can actually WIN — on the
   * time-ordered split nearly every delivery moves every session, so
   * the r11 A/B could only measure the state-shape gap. NOT an
   * oracle-gated source (late events are dropped by watermark rules
   * the replay order decides); the probe's claim is
   * disciplined-vs-naive WRITE VOLUME at output equality, both pinned
   * in EventStreamsSpec on this same source.
   */
  def ensureHashSplitEvents(s: SparkSession, dir: String, splits: Int = 10): String = {
    val out = RelationalQueries.dataRoot("events-hashsplit", dir, "events")
    // the splits count IS the layout: a changed default must invalidate
    // the export (stale r<k> dirs would otherwise keep replaying via
    // the /*/part* glob) — so it goes into the freshness marker
    val want = RelationalQueries.srcDigest(dir, "events") + s":hashsplit-$splits-v1"
    if (RelationalQueries.staleDigest(out, want)) {
      // wipe first: a SMALLER splits count would leave the old layout's
      // extra r<k> dirs replaying through the /*/part* glob — the
      // marker triggers the rewrite, the wipe makes it complete
      RelationalQueries.wipeDir(out)
      val ev = graft.sources.Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      (0 until splits).foreach { i =>
        ev.where(pmod(col("event_id"), lit(splits)) === i).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/r$i")
      }
      RelationalQueries.markFresh(out, want)
    }
    out
  }

  /** The late-arrival stream over the hash-split export — one file per
    * micro-batch, ten batches, same normalized schema as [[splitEventStream]]. */
  def hashSplitEventStream(s: SparkSession, dir: String): DataFrame =
    EventStreams.streamReader(s)
      .schema(splitEventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"${ensureHashSplitEvents(s, dir)}/*/part*")

  /** The s52 stream: one file per micro-batch over the time-split
    * export — the engine merges session state ACROSS batches. */
  def splitEventStream(s: SparkSession, dir: String): DataFrame =
    EventStreams.streamReader(s)
      .schema(splitEventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"${ensureTimeSplitEvents(s, dir)}/*/part*")

  /** Drain a streaming DataFrame into a named memory sink and return
    * the sink table. `dropTempView` first: bench re-invokes queries in
    * one session and a stale sink view would collide.
    *
    * State partitions are sized to the STATE volume (hours × types,
    * distinct keys, in-flight sessions — all small here), not to the
    * session's batch shuffle width: every state partition pays a
    * commit + maintenance cost per microbatch, so 32 mostly-empty
    * HDFS-backed stores cost ~3× the query (measured 7.6 s → 2.8 s at
    * sf0.1; 8 → 4 shaved a further ~0.5 s on the sessionize/join
    * class). This is the knob an unbounded deployment sizes the same
    * way — by keys held, not by input rows scanned. Restored after the
    * run so batch queries in the same session keep their width. */
  /** The s70 topology, callable at either timer discipline — the
    * declared query runs the r11 disciplined default; StreamStateProbe
    * runs BOTH in one JVM for the same-session write-volume A/B
    * (sink name differs so the captured metrics stay separate). */
  private[graft] def sessionTimersQuery(s: SparkSession, dir: String,
                                        naiveTimers: Boolean,
                                        sparse: Boolean = false): DataFrame = {
    import s.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // sparse = the ten-batch late-arrival hash-split source (the
      // skip-path workload); default = the oracle-gated time split
      val src = if (sparse) hashSplitEventStream(s, dir) else splitEventStream(s, dir)
      val ev = src
        .where(col("event_id").isNotNull && col("ts").isNotNull &&
          col("user_id").isNotNull && col("value").isNotNull)
        .as[EventStreams.Event]
      val sess = ev.withWatermark("ts", "10 minutes")
        .groupByKey(_.user_id)
        .transformWithState(new EventStreams.SessionProcessor(30 * 60000L, naiveTimers),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          OutputMode.Append())
      runToTable(s, sess.toDF(), OutputMode.Append(),
          sessionTimersSink(naiveTimers, sparse))
        .select(col("user_id"), col("start_ts"), col("end_ts"), col("n_events"))
        .orderBy("user_id", "start_ts")
    } finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  /** The s70 A/B sink name — ONE definition shared with
    * StreamStateProbe's metric lookup, so a rename cannot silently turn
    * the probe's captured numRowsUpdated trail into an empty list. */
  private[graft] def sessionTimersSink(naiveTimers: Boolean, sparse: Boolean): String =
    (if (sparse) "s70_sparse" else "s70") +
      (if (naiveTimers) "_naive_sink" else "_sink")

  private def runToTable(s: SparkSession, df: DataFrame,
                         mode: OutputMode, name: String,
                         statePartitions: Int = 4): DataFrame = {
    s.catalog.dropTempView(name)
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    try {
      s.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
      val q = df.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", freshCheckpointDir(s, name))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      capture(name, q)
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.table(name)
  }

  /** Captured EXECUTED streaming plan + state-operator progress of the
    * last run per sink name — the streaming counterpart of
    * `queryExecution.executedPlan` for plan pinning (PlanChecksSpec)
    * and PLANS.md. A batch `DataFrame` handed back from `runToTable`
    * only shows the memory-sink scan; the stateful operators live in
    * the stream's own `IncrementalExecution`, reachable through
    * `StreamingQueryWrapper.streamingQuery.lastExecution` — bytecode-
    * public but `private[sql]` to scalac, hence the reflective hop.
    * State-operator rows are (operatorName, customMetric keys): the
    * metric keys prove which state-store PROVIDER actually ran (the
    * RocksDB provider publishes rocksdb* metrics; HDFS-backed stores
    * publish none). */
  @volatile private var capturedPlans: Map[String, String] = Map.empty
  @volatile private var capturedOps: Map[String, Seq[(String, Set[String])]] = Map.empty
  @volatile private var capturedMetrics: Map[String, Seq[(String, Long, Long, Long)]] = Map.empty
  def capturedPlan(sink: String): Option[String] = capturedPlans.get(sink)
  def capturedStateOperators(sink: String): Seq[(String, Set[String])] =
    capturedOps.getOrElse(sink, Nil)
  /** Per-batch numeric state metrics of the last run for `sink`:
    * (operatorName, numRowsTotal, numRowsUpdated, memoryUsedBytes) in
    * batch order — the LAST entry is the final state size. What
    * graft.StreamStateProbe records into SCALING.md so "state =
    * bytes/key" is OBSERVED from StreamingQueryProgress, not inferred
    * from wall-clock. */
  def capturedStateMetrics(sink: String): Seq[(String, Long, Long, Long)] =
    capturedMetrics.getOrElse(sink, Nil)

  /** Per-batch custom state-store metric VALUES of the last run for
    * `sink` (RocksDB publishes rocksdbPutCount/rocksdbGetCount/… —
    * store-level operation counters that INCLUDE timer-key traffic,
    * which numRowsUpdated does not). What lets StreamStateProbe observe
    * the s70 timer-call discipline as a counter instead of arguing it
    * by call count. */
  @volatile private var capturedCustom: Map[String, Seq[Map[String, Long]]] = Map.empty
  def capturedCustomMetrics(sink: String): Seq[Map[String, Long]] =
    capturedCustom.getOrElse(sink, Nil)

  private def capture(name: String,
                      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    try {
      val sq = q.getClass.getMethod("streamingQuery").invoke(q)
      val le = sq.getClass.getMethod("lastExecution").invoke(sq)
      if (le != null) {
        val plan = le.getClass.getMethod("executedPlan").invoke(le).toString
        capturedPlans += name -> plan
      }
    } catch { case scala.util.control.NonFatal(_) => () }
    try {
      import scala.jdk.CollectionConverters._
      // unconditional overwrites: a capture that yields nothing must
      // CLEAR the slot, not leave a previous run's values to be read
      // back as this run's ("last run" must mean the last run) — the
      // same rule for all three per-sink stores
      val ops = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
        .map(op => op.operatorName -> op.customMetrics.keySet.asScala.toSet)
      capturedOps += name -> ops
      val mets = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
        .map(op => (op.operatorName, op.numRowsTotal, op.numRowsUpdated,
          op.memoryUsedBytes))
      capturedMetrics += name -> mets
      val cust = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
        .map(op => op.customMetrics.asScala
          .map { case (k, v) => k -> v.longValue }.toMap)
      capturedCustom += name -> cust
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Ephemeral per-run checkpoint dir on RAM-backed tmpfs when the host
    * has one. Every commit in the run writes offset/commit logs plus one
    * state delta per store partition through the checkpoint FS; on the
    * default disk-backed temp dir those small files are the dominant
    * fixed cost of an AvailableNow micro-batch. The dir is DELETED
    * before start — each invocation must replay from scratch (a reused
    * checkpoint would mark all batches committed and leave the fresh
    * memory sink empty). A durable deployment points this at real
    * storage; the state-store sizing above is unchanged either way. */
  private def freshCheckpointDir(s: SparkSession, name: String): String = {
    val base =
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-ck"
      else sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-ck"
    val ck = s"$base/$name"
    val p = new org.apache.hadoop.fs.Path(ck)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    ck
  }

  /** The s43/s47/s53 trio's shared topology — click → purchase
    * attribution within 30m for the same user, both sides watermarked
    * 10m. ONE definition of the interval, watermark, and join
    * condition, so the inner/left/full variants cannot drift apart;
    * each query applies its own projection/ordering. */
  private def clickPurchaseJoin(s: SparkSession, dir: String,
                                joinType: String): DataFrame = {
    val clicks = eventStream(s, dir)
      .where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = eventStream(s, dir)
      .where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "10 minutes")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
      joinType)
  }

  /** The s42/s52/s59 trio's shared session topology — 30m-gap session
    * windows under a 10m watermark, DECIMAL value fold (order-
    * independent sums, as a24). ONE definition so the single-batch,
    * multi-batch and restart-recovery variants cannot drift; all three
    * share sessionOracleSql. */
  private def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(round(value, 6) AS DECIMAL(18,6))")).cast("double").as("total_value"))
      .select(col("user_id"), unix_millis(col("w.start")).as("start_ts"),
        unix_millis(col("w.end")).as("window_end_ts"),
        col("n_events"), col("total_value"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Watermarked 1h tumbling-window aggregation, actually executed by
    // the streaming engine (stateful agg, watermark tracking, state
    // store). `value` folds through DECIMAL so the sum is
    // partition-order-independent — same trick as a24, this query's
    // batch twin; `window(ts, '1 hour').start` = `date_trunc('hour')`.
    "s40_stream_hourly" -> ((s, dir) => {
      runToTable(s, EventStreams.hourlyCounts(eventStream(s, dir)),
          OutputMode.Complete(), "s40_sink")
        .orderBy("hour", "event_type")
    }),
    // The s40 topology on the ROCKSDB state store provider — the
    // production backend once state outgrows the executor heap (the
    // HDFS-backed default holds every version in memory; RocksDB spills
    // to local SSD and bounds memory by block cache). The answer must
    // be byte-identical to s40's: state backends change capacity, never
    // semantics. Conf is restored afterwards so every other streaming
    // query still runs the default provider.
    "s54_stream_rocksdb" -> ((s, dir) => {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        runToTable(s, EventStreams.hourlyCounts(eventStream(s, dir)),
            OutputMode.Complete(), "s54_sink")
          .orderBy("hour", "event_type")
      } finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None    => s.conf.unset(key)
      }
    }),
    // foreachBatch parquet sink — the production sink path (idempotent
    // batch writes to real storage instead of the test-only memory
    // sink). Each micro-batch lands as parquet; the declared result
    // re-reads the files and aggregates, so the answer is independent
    // of batch boundaries and file layout. The output dir is cleared
    // per invocation (bench re-runs queries in one session).
    "s55_stream_foreachbatch" -> ((s, dir) => {
      val out = RelationalQueries.dataRoot("fb", dir, "events")
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(out), true)
      val proj = eventStream(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value").cast("decimal(18,2)").as("v"))
      val q = proj.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // foreachBatch is AT-LEAST-ONCE: keying the landing by batchId
          // with overwrite makes a retried micro-batch replace its own
          // directory instead of appending duplicate rows (the s78/s87
          // discipline; mode("append") was the one remaining hazard)
          batch.write.mode("overwrite").parquet(s"$out/batch=$batchId")
        }
        .option("checkpointLocation", freshCheckpointDir(s, "s55_fb"))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("user_id")).as("users"),
          sum(col("v")).cast("double").as("sum_value"))
        .orderBy("event_type")
    }),
    // Streaming dedup through the engine's dedup state store (append
    // mode). Projecting to the dedup key first makes the kept row
    // independent of arrival order — deterministic, oracle = DISTINCT.
    "s41_stream_dedup" -> ((s, dir) => {
      val ded = eventStream(s, dir)
        .select((col("user_id") % 100).as("user_bucket"), col("event_type"))
        .dropDuplicates("user_bucket", "event_type")
      // NULLS LAST pinned: DuckDB's bare ORDER BY is nulls-last while
      // Spark's default is nulls-first — a NULL user_id bucket (the
      // a51 DQ rule admits them) would land at opposite ends of the
      // positionally-compared output
      runToTable(s, ded, OutputMode.Append(), "s41_sink")
        .orderBy(asc_nulls_last("user_bucket"), col("event_type"))
    }),
    // Session windows on the engine's merging session state store
    // (gap 30m, watermark 10m, append mode). Bounded replay makes the
    // final watermark deterministic (max event time − 10m), so exactly
    // the sessions whose window end precedes it are emitted — the
    // oracle reproduces both the gaps-and-islands sessions AND that
    // cutoff. `w.end` is last event + gap (session_window semantics);
    // the batch twin s38 reports last-event end_ts instead. DECIMAL
    // value fold as s38/a24 for order-independent sums.
    "s42_stream_sessions" -> ((s, dir) => {
      runToTable(s, sessionAgg(eventStream(s, dir)), OutputMode.Append(), "s42_sink")
        .orderBy(asc_nulls_last("user_id"), col("start_ts"))  // see s41
    }),
    // Stream-stream interval join (click → purchase attribution within
    // 30m, same user) through the engine's symmetric-hash join state.
    // Both watermarks + the event-time range condition bound state
    // (each side holds only rows inside the interval horizon — the
    // unbounded-run requirement); on bounded replay every match is in
    // batch 0, so the emitted set is the complete inner join —
    // deterministic, plain-SQL oracle.
    "s43_stream_join" -> ((s, dir) => {
      val joined = clickPurchaseJoin(s, dir, "inner")
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          unix_millis(col("click_ts")).as("click_ms"),
          unix_millis(col("purchase_ts")).as("purchase_ms"))
      runToTable(s, joined, OutputMode.Append(), "s43_sink")
        .orderBy("click_id", "purchase_id")
    }),
    // Stream-stream LEFT OUTER interval join. Same topology as s43 plus
    // the outer path: a click with no purchase inside its 30m horizon is
    // emitted null-extended only once the engine can PROVE no future
    // match exists — when the global watermark (min across both sides of
    // ms-floored max event time − 10m) passes click_ts + 30m (strict <;
    // verified empirically at sf0.001 and sf0.01). Clicks still inside
    // the horizon at end-of-replay are held in state and never reach the
    // sink; the oracle reproduces that cutoff exactly, the same
    // technique as s42's session-emission cutoff. This is the state
    // eviction that bounds outer-join state on an unbounded run.
    "s47_stream_left_join" -> ((s, dir) => {
      val joined = clickPurchaseJoin(s, dir, "left_outer")
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          unix_millis(col("click_ts")).as("click_ms"),
          unix_millis(col("purchase_ts")).as("purchase_ms"))
      runToTable(s, joined, OutputMode.Append(), "s47_sink")
        .orderBy("click_id", "purchase_id")
    }),
    // FULL OUTER stream-stream interval join — completes the trio with
    // s43 (inner) and s47 (left outer). Both sides' unmatched rows are
    // null-extended when the watermark passes their matchable range:
    // clicks when click_ts + 30m < wm (as s47), purchases when
    // purchase_ts < wm (a purchase can only match clicks at or before
    // its own timestamp, so its horizon is itself). Both cutoffs are
    // strict against the min-of-sides ms-floored watermark — verified
    // empirically at sf0.001 and sf0.01. Output ordering uses NULLS
    // FIRST on both engines (unmatched purchases carry NULL click_id).
    "s53_stream_full_join" -> ((s, dir) => {
      val joined = clickPurchaseJoin(s, dir, "full_outer")
        .select(col("click_id"), col("purchase_id"),
          coalesce(col("user_id"), col("p_user")).as("uid"),
          unix_millis(col("click_ts")).as("click_ms"),
          unix_millis(col("purchase_ts")).as("purchase_ms"))
      runToTable(s, joined, OutputMode.Append(), "s53_sink")
        .orderBy(asc_nulls_first("click_id"), asc_nulls_first("purchase_id"))
    }),
    // Stream-stream LEFT SEMI interval join — completes the join family
    // (s43 inner, s47 left outer, s53 full outer): clicks that HAVE a
    // purchase in their 30m horizon, emitted at most once, no purchase
    // columns. Unlike the outer variants there is no eviction-cutoff
    // arithmetic to reproduce: a matched click emits as soon as its
    // first match arrives (then drops from state); an unmatched click
    // is evicted silently. On bounded replay the emitted set is exactly
    // the EXISTS semi join — plain-SQL oracle.
    "s69_stream_semi_join" -> ((s, dir) => {
      val matched = clickPurchaseJoin(s, dir, "left_semi")
        .select(col("click_id"), col("user_id"),
          unix_millis(col("click_ts")).as("click_ms"))
      runToTable(s, matched, OutputMode.Append(), "s69_sink")
        .orderBy("click_id")
    }),
    // ONLINE ANN SERVING — queries arrive AS A STREAM, the persisted
    // IVF index is the static side: the topology a model-serving layer
    // runs (requests in, neighbors out), here on the real engine over
    // bounded replay so it lands in the oracle gate. Each micro-batch's
    // query vectors are probe-assigned with the SAME centroid
    // expressions the batch path uses (s37/s60), stream-static-joined
    // to the index on the list id, and ranked per query by the bounded
    // TopKAgg state (s50's mechanism — state per query is k rows, so
    // aggregation state is queries × k at any stream length). The
    // oracle is the s37/s60 probe/rank recompute over the same query
    // set: STREAMING MUST NOT CHANGE THE ANSWER. Scale caveat (the
    // r11 verdict's "weak"): a stream-static join cannot push probe
    // cids into the static side, so each micro-batch here reads the
    // WHOLE index — s78 below is the production shape (foreachBatch +
    // driver-side probe selection + static `__cid IN`), reading only
    // ~batch·nprobe/nlist of it per batch. s77 stays declared as the
    // pure-engine topology (stateful ranking across batches, no
    // driver hop); s78 is what a 100 TB serving bill runs.
    "s77_stream_ann_serving" -> ((s, dir) => {
      import s.implicits._
      val root = PipelineQueries.ensureIvfIndexExport(s, dir)
      val cents = s.read.parquet(s"$root/centroids").orderBy("cid").collect()
        .map(r => r.getSeq[Double](r.fieldIndex("centroid")).toArray)
      OracleStash.put(OracleStash.S77Cents, cents)
      val index = s.read.parquet(s"$root/index")
      val embSchema = s.read.parquet(s"$dir/embeddings.parquet").schema
      // the request stream: 50 query vectors arriving online (glob — see
      // the eventStream scaladoc for the single-file basePath gotcha)
      val qstream = EventStreams.streamReader(s).schema(embSchema)
        .parquet(s"$dir/embeddings.parque*")
        .where($"vec_id" < 50)
      // the SAME probe+score stage as the batch s37/s60 path — shared
      // code, so the stream cannot drift from the answer the oracle
      // encodes; only the ranking differs (TopKAgg state vs a window),
      // and a stream side cannot carry a broadcast hint
      val cand = graft.operators.Similarity.ivfCandidatesByExpr(
        index, cents, qstream, nprobe = 4, broadcastQueries = false)
      val ranked = cand.groupBy($"query_id")
        .agg(graft.functions.TopKAgg.top_k($"sim", $"nbr_id", 10).as("tk"))
      runToTable(s, ranked, OutputMode.Complete(), "s77_sink")
        .select($"query_id", posexplode($"tk"))
        .select($"query_id", $"col._2".as("nbr_id"), ($"pos" + 1).cast("int").as("rank"))
        .orderBy("query_id", "rank")
    }),
    // PRUNED online ANN serving — s77's production shape (the r11
    // verdict's top gap closed): s77's stream-static join cannot push
    // the probe cids into the static side, so every micro-batch scans
    // the WHOLE index. Here each micro-batch goes through foreachBatch:
    // the request batch (metadata-sized — a serving layer's requests
    // are driver-visible by nature) is collected, its probe lists are
    // selected driver-side (literalProbeCids — the s73 mechanism, per
    // batch), and the batch's plan reads the index under a STATIC
    // `__cid IN (...)` partition filter: planning-time pruning, no DPP
    // machinery. Per-batch index read is ≤ batch·nprobe of nlist lists
    // (~12/16 here, O(nprobe/nlist) at production nlist) instead of
    // s77's 1.0 — THE difference between a serving bill that scales
    // with requests and one that scales with the corpus. Ranking runs
    // per batch (each request answered at request time, the true
    // serving contract) through the SAME ivfTopKOnIndexByExpr the batch path
    // uses, so pruning provably cannot change the answer: each query
    // joins only its own nprobe lists, a subset of the batch union.
    // The oracle is the batch probe/rank recompute over all 15
    // requests — streaming, batching, AND pruning must not change it.
    // (Five batches of three: enough to be genuinely multi-batch; the
    // per-batch fixed cost — one planned job per trigger — is the
    // price of per-request answers and dominates at GATE scale, while
    // the pruned read is what dominates at INDEX scale.)
    "s78_stream_ann_serving_pruned" -> ((s, dir) => {
      import s.implicits._
      val root = PipelineQueries.ensureIvfIndexExport(s, dir)
      val cents = s.read.parquet(s"$root/centroids").orderBy("cid").collect()
        .map(r => r.getSeq[Double](r.fieldIndex("centroid")).toArray)
      OracleStash.put(OracleStash.S78Cents, cents)
      s78BatchPins = Map.empty
      prunedServeStream(s, dir, "s78", s"$root/index", cents, nprobe = 4,
        rank = (idx, q) => graft.operators.Similarity
          .ivfTopKOnIndexByExpr(cents, idx, q, k = 10, nprobe = 4),
        pinNeedle = "graft-ivf/",
        recordPin = (id, pin) => s78BatchPins += id -> pin)
    }),
    // STREAMING INGEST DEDUP — d44's incremental dedup as a continuous
    // ingest filter, the shape a 100 TB pipeline actually runs it in:
    // new crawl shards arrive as micro-batches and each batch is
    // admitted against the published corpus SNAPSHOT before landing.
    // Every micro-batch runs the SAME Dedup.incrementalDedup the batch
    // path runs — exact kill by sha-256 digest anti-join (bodies never
    // shuffle), near-dup kill by the cross-side-only postings join
    // (batch×corpus co-occurrence, never corpus×corpus, never
    // all-pairs) — so per-batch cost scales with the BATCH, the corpus
    // side contributing one digest projection + one df-capped postings
    // side that a real deployment pre-materializes once per snapshot.
    // A doc's fate depends only on (doc, snapshot), so the union over
    // batches is batch-partition-invariant: the oracle is d44's exact
    // batch recompute — streaming and micro-batching answer-invisible.
    // The landing is batchId-keyed overwrite (foreachBatch's
    // at-least-once retries idempotent, the s78 discipline), and
    // s87BatchPins records (rows in, survivors out) per batch so the
    // spec can assert the run was genuinely multi-batch.
    "s87_stream_ingest_dedup" -> ((s, dir) => {
      import s.implicits._
      val corpus = s.read.parquet(s"$dir/documents.parquet")
        .where($"doc_id" < 250)
      val reqRoot = ensureIngestBatchExport(s, dir)
      val out = RelationalQueries.dataRoot("s87-ingest", dir, "docs")
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(out), true)
      val schema = s.read.parquet(s"$reqRoot/b0").schema
      val stream = EventStreams.streamReader(s).schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$reqRoot/b*")
      s87BatchPins = Map.empty
      // the corpus SNAPSHOT is pre-materialized ONCE per ingest run (the
      // production discipline the comment above names): digests, shingle
      // sets, and df-capped postings are built in one corpus pass instead
      // of once per micro-batch — 5 triggers would otherwise pay the
      // corpus-side stages 5× for an answer that depends only on
      // (doc, snapshot). Answer-identical by construction (same frames,
      // same joins — spec-pinned against the unprepared path).
      val snap = graft.operators.Dedup
        .prepareIncrementalCorpus(corpus, "doc_id", "text")
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val surv = graft.operators.Dedup
            .incrementalDedupPrepared(batch, snap, "doc_id", "text", threshold = 0.5)
            .select(col("doc_id"), col("n_chars"))
          // one pass decides and lands the batch; counting the landed
          // files (metadata) pins the batch evidence without a second
          // dedup run
          surv.write.mode("overwrite").parquet(s"$out/batch=$batchId")
          s87BatchPins += batchId ->
            ((batch.count(), s.read.parquet(s"$out/batch=$batchId").count()))
        }
        .option("checkpointLocation", freshCheckpointDir(s, "s87_fb"))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // the per-snapshot Bloom broadcast is dead once the last batch
      // admitted; free it now instead of waiting on ContextCleaner
      snap.shingleBloom.destroy()
      // partition discovery adds the batch column; admission is
      // batch-invariant by the oracle's contract, so project it off
      s.read.parquet(out).select("doc_id", "n_chars").orderBy("doc_id")
    }),
    // s78's PRUNED ONLINE SERVING at PRODUCTION NLIST — the r13
    // verdict's item 1(b): the IvfTableProbe serve numbers
    // (2.2-2.5×/batch at nlist=1024, read fraction 0.012) existed only
    // as probe evidence; this declares the topology over the persisted
    // 128-list expression-tier index. Same request bus (five batches
    // of three), same driver-side probe selection (literalProbeCids is
    // plain Scala — any nlist), same static `__cid IN (...)` planning-
    // time pruning; the ranking stage is ivfTopKOnIndexByExpr, as
    // s78's. The InSet bound stays
    // structural at ≤ 3·nprobe = 12, which at nlist=128 is a 0.09 read
    // fraction per batch — the pin now lands FAR from nlist, which is
    // the whole production story. Oracle: the batch probe/rank
    // recompute over all 15 requests from the spliced 128-list matrix
    // — streaming, batching, and pruning answer-invisible, as s78.
    // The nprobe here is the declared hand-picked baseline; s102 below
    // is the production successor serving at the DERIVED knob.
    "s92_stream_ann_serving_prod" -> ((s, dir) => {
      import s.implicits._
      val root = PipelineQueries.ensureIvfProdIndexExport(s, dir)
      val cents = PipelineQueries.readCentroids(s, s"$root/centroids")
      OracleStash.put(OracleStash.S92Cents, cents)
      s92BatchPins = Map.empty
      prunedServeStream(s, dir, "s92", s"$root/index", cents, nprobe = 4,
        rank = (idx, q) => graft.operators.Similarity
          .ivfTopKOnIndexByExpr(cents, idx, q, k = 10, nprobe = 4),
        pinNeedle = "graft-ivf-prod/",
        recordPin = (id, pin) => s92BatchPins += id -> pin)
    }),
    // STREAMING SERVING AT THE DERIVED KNOB — the r15 verdict's item
    // 2: s92 probes at a hand-picked nprobe = 4 while the batch path
    // serves at nprobeForRecall's output (s98). This successor closes
    // the gap with the real production flow: derive the knob ONCE per
    // generation (the audit reads only its probed lists from the
    // persisted index), stash it, then serve EVERY micro-batch at the
    // derived value with the per-batch static InSet pin sized by it
    // (≤ 3·nprobe of nlist=128 — the read fraction a serving bill
    // pays, now measured instead of guessed). Nothing hand-picked
    // between the audit and any streamed answer. Oracle: the batch
    // probe/rank recompute over all 15 requests AT THE STASHED
    // DERIVED NPROBE — derivation drift, serving drift, or batching
    // artifacts all hash-fail; the provenance spec separately pins
    // served ≡ API output per batch.
    "s102_stream_ann_serving_derived" -> ((s, dir) => {
      import s.implicits._
      val root = PipelineQueries.ensureIvfProdIndexExport(s, dir)
      val cents = PipelineQueries.readCentroids(s, s"$root/centroids")
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val idx = s.read.parquet(s"$root/index")
      // once per generation, BEFORE the stream starts — the audit
      // sample is the s98 query sample, so batch and streaming derive
      // the same knob from the same persisted artifact
      val np = graft.operators.Similarity.nprobeForRecall(
        emb, emb.where(col("vec_id") < 5), cents, k = 10,
        targetRecall = 0.7, index = Some(idx)).nprobe
      OracleStash.put(OracleStash.S102Config, (cents, np))
      s102BatchPins = Map.empty
      prunedServeStream(s, dir, "s102", s"$root/index", cents, nprobe = np,
        rank = (ix, q) => graft.operators.Similarity
          .ivfTopKOnIndexByExpr(cents, ix, q, k = 10, nprobe = np),
        pinNeedle = "graft-ivf-prod/",
        recordPin = (id, pin) => s102BatchPins += id -> pin)
    }),
    // STREAMING INDEX INGEST — the WRITE half of the streaming index
    // story (s77/s78/s92 stream QUERIES against a static index; s61
    // appends a delta in one batch job; this is the continuous shape an
    // embedding pipeline actually runs): freshly-embedded vectors
    // arrive as micro-batches, each batch is assigned with the FROZEN
    // persisted production centroids (ivfAssignedByExpr — scan-local,
    // batch-sized work, the corpus is never touched, no retraining) and
    // lands as a batchId-keyed partition beside the base index
    // (at-least-once retries idempotent, the s78/s87 discipline).
    // Serving immediately after the stream reads base ∪ streamed delta
    // through the SAME ivfTopKOnIndexByExpr as s90. Assignment is a
    // pure per-vector function of (vector, frozen matrix), so the
    // union over batches is batch-partition-invariant — the oracle is
    // the s61-shaped batch recompute over base ∪ delta from the
    // spliced 128-list matrix: streaming the index build must not
    // change a single answer.
    "s94_stream_index_ingest" -> ((s, dir) => {
      import s.implicits._
      val root = PipelineQueries.ensureIvfProdIndexExport(s, dir)
      val cents = PipelineQueries.readCentroids(s, s"$root/centroids")
      OracleStash.put(OracleStash.S94Cents, cents)
      val reqRoot = ensureIndexIngestExport(s, dir)
      val out = RelationalQueries.dataRoot("s94-ingest", dir, "emb")
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(out), true)
      val schema = s.read.parquet(s"$reqRoot/b0").schema
      val stream = EventStreams.streamReader(s).schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$reqRoot/b*")
      s94BatchPins = Map.empty
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val assigned = graft.operators.Similarity.ivfAssignedByExpr(cents, batch)
          assigned.write.mode("overwrite").parquet(s"$out/batch=$batchId")
          // landed-file count is metadata; pins the batch evidence
          // without a second assignment pass
          s94BatchPins += batchId ->
            ((batch.count(), s.read.parquet(s"$out/batch=$batchId").count()))
        }
        .option("checkpointLocation", freshCheckpointDir(s, "s94_fb"))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val served = s.read.parquet(s"$root/index")
        .select("nbr_id", "cvec", "cn", "__cid")
        .unionByName(s.read.parquet(out).select("nbr_id", "cvec", "cn", "__cid"))
      graft.operators.Similarity.ivfTopKOnIndexByExpr(cents, served,
          s.read.parquet(s"$dir/embeddings.parquet").where(col("vec_id") < 5), k = 10)
        .select(col("query_id"), col("nbr_id"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // Bounded-state sessionization on transformWithState with
    // EVENT-TIME TIMERS — s48's EventTimeTimeout contract on the
    // successor API (s68 exercised the state variables; this exercises
    // the timer half: registerTimer/deleteTimer/handleExpiredTimer).
    // Runs over the two-batch time-split source, so sessions genuinely
    // merge across micro-batches before the final timer flush; the
    // oracle is s48's, unchanged — the API changed, the event-time
    // contract didn't. total_value deliberately unprojected (s48's
    // same-ms fold-order caveat; EventStreamsSpec covers totals).
    "s70_stream_sessionize_timers" -> ((s, dir) =>
      sessionTimersQuery(s, dir, naiveTimers = false)),
    // Bounded-state sessionization through flatMapGroupsWithState — the
    // custom-state API (EventTimeTimeout), as opposed to s42's built-in
    // session_window state store. On bounded replay every event lands in
    // batch 0 (watermark still 0, so everything is admissible): sessions
    // closed by an in-batch gap emit immediately; each user's final open
    // session is held with timeout lastSeen+gap and flushed by the
    // post-data batch only if the final watermark advanced BEYOND it
    // (the GroupState timeout contract: fires iff timeout < watermark,
    // verified empirically) — the oracle reproduces that cutoff.
    // `total_value` is intentionally NOT
    // projected: the kernel accumulates it in event-time order and
    // same-millisecond ties make that order nondeterministic; the
    // EventStreamsSpec covers totals instead.
    "s48_stream_sessionize" -> ((s, dir) => {
      import s.implicits._
      // Event's event_id/user_id/value are primitive Long/Double and
      // mergeSessions dereferences ts unconditionally — a NULL in ANY
      // of them (admissible per the a51 DQ rule) would crash the
      // deserializer or the kernel, so declare the semantics:
      // sessionize fully-identified, timestamped, valued events (the
      // oracle filters identically)
      val ev = eventStream(s, dir)
        .where(col("event_id").isNotNull && col("ts").isNotNull &&
          col("user_id").isNotNull && col("value").isNotNull)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[EventStreams.Event]
      val sess = EventStreams.sessionizeBounded(ev).toDF()
      runToTable(s, sess, OutputMode.Append(), "s48_sink")
        .select(col("user_id"), col("start_ts"), col("end_ts"), col("n_events"))
        .orderBy("user_id", "start_ts")
    }),
    // Spark 4 transformWithState — the arbitrary-state successor of
    // flatMapGroupsWithState (named typed state variables + TTL +
    // timers, RocksDB provider REQUIRED — the conf wrap is the s54
    // pattern). Kernel: per-user last-event ValueState bridges
    // micro-batches; each batch emits DELTA transition counts, so the
    // summed matrix is batch-boundary-independent — and the two-batch
    // time-split source (s52's mechanism) makes the cross-batch bridge
    // REAL: a transition spanning the median split is counted from
    // state, not same-batch adjacency. Oracle = the batch lag() chain
    // (a46's mechanism) aggregated to the same matrix over the same
    // null-complete rows (typed Event fields are primitive — the s48
    // null contract).
    "s68_stream_transitions" -> ((s, dir) => {
      import s.implicits._
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val ev = splitEventStream(s, dir)
          .where(col("event_id").isNotNull && col("ts").isNotNull &&
            col("user_id").isNotNull && col("value").isNotNull &&
            col("event_type").isNotNull)
          .as[EventStreams.Event]
        val deltas = ev.groupByKey(_.user_id)
          .transformWithState(new EventStreams.TransitionCounter,
            org.apache.spark.sql.streaming.TimeMode.None(),
            OutputMode.Update())
        runToTable(s, deltas.toDF(), OutputMode.Update(), "s68_sink")
          .groupBy(col("from_type"), col("to_type"))
          .agg(sum(col("n")).as("transitions"))
          .orderBy("from_type", "to_type")
      } finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None    => s.conf.unset(key)
      }
    }),
    // Warm-start transition counting (StatefulProcessorWithInitialState)
    // — the backfill→streaming migration pattern: a BATCH job reads the
    // first time-half and computes each user's frontier (last event in
    // the (ts, event_id) total order, one map-side-combinable
    // max(struct) aggregation — never a replay); the STREAM processes
    // only the second half, seeded with that frontier via
    // handleInitialState, so the transition spanning the halves is
    // counted from SEEDED state rather than replayed history. Oracle =
    // the full-corpus lag() chain keeping only transitions whose LATER
    // event is above the median split — exactly the bridge + in-stream
    // pairs the warm-started stream must produce; a missed or doubled
    // bridge hash-fails.
    "s71_stream_transitions_warmstart" -> ((s, dir) => {
      import s.implicits._
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val root = ensureTimeSplitEvents(s, dir)
        val nullOk = col("event_id").isNotNull && col("ts").isNotNull &&
          col("user_id").isNotNull && col("value").isNotNull &&
          col("event_type").isNotNull
        val seed = s.read.schema(splitEventSchema).parquet(s"$root/a")
          .where(nullOk)
          .groupBy(col("user_id"))
          .agg(max(struct(expr("unix_micros(ts)").as("ts_us"),
            col("event_id"), col("event_type"))).as("m"))
          .select($"user_id", $"m.ts_us", $"m.event_id", $"m.event_type")
          .as[(Long, Long, Long, String)]
          .map { case (u, tsUs, id, et) =>
            (u, EventStreams.LastSeenEvent(tsUs, id, et)) }
          .groupByKey(_._1).mapValues(_._2)
        val ev = EventStreams.streamReader(s).schema(splitEventSchema)
          .parquet(s"$root/b/part*")
          .where(nullOk)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .as[EventStreams.Event]
        val deltas = ev.groupByKey(_.user_id)
          .transformWithState(new EventStreams.TransitionCounterWithInit,
            org.apache.spark.sql.streaming.TimeMode.None(),
            OutputMode.Update(), seed)
        runToTable(s, deltas.toDF(), OutputMode.Update(), "s71_sink")
          .groupBy(col("from_type"), col("to_type"))
          .agg(sum(col("n")).as("transitions"))
          .orderBy("from_type", "to_type")
      } finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None    => s.conf.unset(key)
      }
    }),
    // transformWithState MAP STATE — the state-variable family's
    // remaining member (ValueState s68/s71, timers s70): per-user
    // per-type running counts where each batch touches ONLY the map
    // entries it saw (containsKey/getValue/updateValue — never
    // deserializing the whole map, the reason MapState exists over
    // ValueState[Map]). The two-batch time-split source makes the
    // cross-batch accumulation real; running totals are monotonic, so
    // max() per (user, type) over the update-mode sink is the final
    // count — batch-boundary-independent, which is exactly what the
    // batch GROUP BY oracle checks.
    "s74_stream_type_counts" -> ((s, dir) => {
      import s.implicits._
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val ev = splitEventStream(s, dir)
          .where(col("event_id").isNotNull && col("ts").isNotNull &&
            col("user_id").isNotNull && col("value").isNotNull &&
            col("event_type").isNotNull)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .as[EventStreams.Event]
        val totals = ev.groupByKey(_.user_id)
          .transformWithState(new EventStreams.TypeCountProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            OutputMode.Update())
        runToTable(s, totals.toDF(), OutputMode.Update(), "s74_sink")
          .groupBy(col("user_id"), col("event_type"))
          .agg(max(col("n")).as("n"))
          .orderBy("user_id", "event_type")
      } finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None    => s.conf.unset(key)
      }
    }),
    // transformWithState LIST STATE — the final state variable (s68/s71
    // ValueState, s70 timers, s74 MapState): per-user last-5 recent
    // events, the feature-store lookup shape, with TWO composed state
    // variables (the bounded list + a monotonic ValueState counter).
    // The counter lets the batch-agnostic final answer be selected
    // from the update-mode sink: each user's final emission is the one
    // carrying its max seen-count. Oracle = the batch top-5 per user
    // in (ts, event_id) DESC order.
    "s75_stream_recent_events" -> ((s, dir) => {
      import s.implicits._
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val ev = splitEventStream(s, dir)
          .where(col("event_id").isNotNull && col("ts").isNotNull &&
            col("user_id").isNotNull && col("value").isNotNull &&
            col("event_type").isNotNull)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .as[EventStreams.Event]
        val recent = ev.groupByKey(_.user_id)
          .transformWithState(new EventStreams.RecentEventsProcessor(5),
            org.apache.spark.sql.streaming.TimeMode.None(),
            OutputMode.Update())
        val sink = runToTable(s, recent.toDF(), OutputMode.Update(), "s75_sink")
        // per-user final emission via a window (a sink self-join would
        // hit MemoryPlan's conflicting attribute references)
        val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        sink.withColumn("__mx", max(col("seen")).over(w))
          .where(col("seen") === col("__mx"))
          .select(col("user_id"), col("rank"), col("event_id"))
          .orderBy("user_id", "rank")
      } finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None    => s.conf.unset(key)
      }
    }),
    // Approximate distinct users per event type maintained AS STREAMING
    // STATE: the KMV sketch aggregator runs inside the engine's stateful
    // aggregation (Complete mode), its buffer merging across batches in
    // the state store. Because KMV is insertion-order-independent, the
    // streaming answer equals the batch recompute EXACTLY — the DuckDB
    // oracle re-derives every per-group k-th-minimum from scratch. This
    // is the production shape for streaming cardinality dashboards:
    // state per group is the fixed-size sketch, never the value set.
    "s49_stream_sketch" -> ((s, dir) => {
      val agg = eventStream(s, dir)
        .select(col("event_type"),
          graft.functions.TextFunctions
            .fnv1a64_mix(concat(lit("user:"), col("user_id"))).as("h"))
        .groupBy(col("event_type"))
        .agg(graft.functions.KmvSketchAgg.kmv_distinct(col("h"), 64)
            .as("est_users"),
          count(lit(1)).as("n_events"))
      runToTable(s, agg, OutputMode.Complete(), "s49_sink")
        .orderBy("event_type")
    }),
    // Stream-static enrichment: the event stream joins a STATIC
    // dimension table (broadcast — no state, re-resolvable per batch,
    // the standard dimension-enrichment topology), then a watermarked
    // aggregate per market segment. DECIMAL fold as s40/a24.
    "s46_stream_enrich" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment"))
      val enriched = eventStream(s, dir)
        .join(cust, col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(round(value, 6) AS DECIMAL(18,6))")).cast("double").as("total_value"))
      runToTable(s, enriched, OutputMode.Complete(), "s46_sink")
        .orderBy("c_mktsegment")
    }),
    // Grouped top-k maintained AS STREAMING STATE: the bounded top-k
    // buffer (a47's aggregator) runs inside the stateful aggregation,
    // merging across micro-batches in the state store — state per
    // group is k rows, never the stream. Top-k under a TOTAL order
    // (value DESC, event_id) is a deterministic function of the row
    // multiset, so the streaming answer equals the batch row_number
    // twin exactly.
    "s50_stream_topk" -> ((s, dir) => {
      val agg = eventStream(s, dir)
        .groupBy(col("event_type"))
        .agg(graft.functions.TopKAgg
          .top_k(col("value"), col("event_id"), 3).as("tk"))
      runToTable(s, agg, OutputMode.Complete(), "s50_sink")
        .select(col("event_type"), posexplode(col("tk")))
        .select(col("event_type"), (col("pos") + 1).cast("int").as("rank"),
          col("col._2").as("event_id"), col("col._1").as("value"))
        .orderBy("event_type", "rank")
    }),
    // Session windows again, but processed as TIME-ORDERED MULTI-BATCH
    // replay (one file per micro-batch over the time-split export): the
    // merging session state now genuinely carries across micro-batches
    // — a session spanning the split point is opened by batch 1, merged
    // and extended by batch 2, and emitted on the final watermark. Same
    // oracle as s42 by construction (see ensureTimeSplitEvents).
    "s52_stream_sessions_batched" -> ((s, dir) => {
      runToTable(s, sessionAgg(splitEventStream(s, dir)), OutputMode.Append(), "s52_sink")
        .orderBy(asc_nulls_last("user_id"), col("start_ts"))  // see s41
    }),
    // CHECKPOINT RECOVERY across a restart — the production property
    // every unbounded deployment assumes and s55's landing path
    // presupposes: run the session topology over the first time-half
    // of the corpus, let the query STOP, land the second half, and
    // restart the identical topology from the SAME checkpoint. The
    // restart recovers source offsets from the WAL (file a is never
    // re-read), open-session state from the state store (sessions
    // spanning the split are merged across the restart boundary), and
    // the parquet file sink's transaction log keeps landed batches
    // exactly-once — a re-delivered batch would double sessions and
    // hash-mismatch. The final landed answer must equal the
    // uninterrupted run: the oracle is the shared s42/s52 session SQL,
    // unchanged.
    "s59_stream_recovery" -> ((s, dir) => {
      val split = ensureTimeSplitEvents(s, dir)
      val srcDir = RelationalQueries.dataRoot("ck-recovery", dir, "src")
      val outDir = RelationalQueries.dataRoot("ck-recovery", dir, "out")
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(srcDir), true)
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      fs.mkdirs(new org.apache.hadoop.fs.Path(srcDir))
      // deleted ONCE per invocation; both runs below share it — the
      // second run RESUMING it is the point of the query
      val ck = freshCheckpointDir(s, "s59_recovery")
      def land(half: String): Unit =
        new java.io.File(s"$split/$half").listFiles()
          .filter(_.getName.startsWith("part-"))
          .foreach { f =>
            fs.copyFromLocalFile(new org.apache.hadoop.fs.Path(f.getAbsolutePath),
              new org.apache.hadoop.fs.Path(s"$srcDir/$half-${f.getName}"))
          }
      def runOnce(): Unit = {
        val prev = s.conf.get("spark.sql.shuffle.partitions")
        try {
          // state width is fixed by the FIRST run's checkpoint; the
          // restart must ask for the same (see runToTable's rationale)
          s.conf.set("spark.sql.shuffle.partitions", "4")
          val sess = sessionAgg(
            EventStreams.streamReader(s).schema(splitEventSchema).parquet(srcDir))
          val q = sess.writeStream
            .outputMode(OutputMode.Append())
            .format("parquet")
            .option("path", outDir)
            .option("checkpointLocation", ck)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      }
      land("a"); runOnce() // run 1: first half, then the query stops
      land("b"); runOnce() // restart: offsets + state recovered, only b read
      s.read.parquet(outDir)
        .orderBy(asc_nulls_last("user_id"), col("start_ts"))  // see s41
    }),
    // Count-Min frequency sketch maintained AS STREAMING STATE (global
    // stateful agg — state is the fixed 3×512 counter matrix, never the
    // stream), completing the sketch-family-in-streaming-state trio:
    // KMV distinct (s49), top-k (s50), CMS frequency (s51). Counter
    // adds commute, so the streaming matrix equals the batch build
    // exactly; probes (per-user event counts, collisions included) are
    // recomputed counter-exactly by the oracle.
    "s51_stream_cms" -> ((s, dir) => {
      val (w, d) = (512, 3)
      def hashed(c: Column): Column =
        graft.functions.TextFunctions.fnv1a64_mix(concat(lit("user:"), c))
      val agg = eventStream(s, dir)
        .select(hashed(col("user_id")).as("h"))
        .groupBy()
        .agg(graft.functions.CountMinAgg.cms_agg(col("h"), w, d).as("cms"))
      val cms = runToTable(s, agg, OutputMode.Complete(), "s51_sink")
      graft.sources.Tables.load(s, dir, "events")
        .where(col("user_id") < 40)
        .select(col("user_id"), hashed(col("user_id")).as("h"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("exact_cnt"), min(col("h")).as("h"))
        .crossJoin(broadcast(cms))
        .select(col("user_id"), col("exact_cnt"),
          graft.functions.CountMinAgg.estimate(col("cms"), col("h"), w, d)
            .as("est_cnt"))
        .orderBy("user_id")
    }),
  )

  /** Gaps-and-islands sessions (same break rule as s38) plus the
    * engine's append-mode emission cutoff: watermark is tracked in
    * whole milliseconds (floor of the max event time) minus the 10m
    * delay, compared against the session end in MICROseconds — the
    * exact arithmetic the state store eviction uses. Held sessions
    * (end + gap past the watermark) never reach the sink. Shared by
    * s42 (single-batch) and s52 (time-ordered multi-batch). */
  private val sessionOracleSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS t, value FROM events),
      |m AS (SELECT user_id, t, value,
      |  CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
      |        OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > 1800000000
      |       THEN 1 ELSE 0 END AS brk FROM e),
      |g AS (SELECT user_id, t, value,
      |  SUM(brk) OVER (PARTITION BY user_id ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m),
      |sess AS (SELECT user_id, min(t) AS start_us, max(t) AS end_us,
      |   count(*) AS n_events,
      |   CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      | FROM g GROUP BY user_id, sid),
      |wm AS (SELECT ((max(t) // 1000) - 600000) * 1000 AS wm_us FROM e)
      |SELECT user_id, start_us // 1000 AS start_ts,
      | (end_us + 1800000000) // 1000 AS window_end_ts,
      | n_events, total_value
      |FROM sess, wm WHERE end_us + 1800000000 <= wm_us
      |ORDER BY user_id, start_ts""".stripMargin

  /** The s48/s70 pair's shared oracle — gaps-and-islands in
    * milliseconds (the unit both custom kernels' state logic uses),
    * then the timeout-flush cutoff: every session closed by an
    * in-batch gap is emitted; a user's FINAL session only if its
    * timeout (end + gap) is past the final watermark (ms-floored max
    * event time − 10m) under `cmp` — "<" for s48 (GroupState's
    * EventTimeTimeout fires strictly past the watermark) and "<=" for
    * s70 (a transformWithState timer fires when the watermark REACHES
    * its expiry); both comparators pinned empirically at the exact
    * boundary in EventStreamsSpec. Same technique as s42, but the
    * eviction arithmetic here is the timeout/timer contract.
    * Fully-identified, timestamped, valued events only — the Spark
    * side's declared semantics (its Event deserializer carries
    * primitive fields and the kernels dereference ts). */
  private def sessionizeKernelOracleSql(cmp: String): String =
    s"""WITH e AS (SELECT user_id, epoch_us(ts)//1000 AS t FROM events
      |  WHERE event_id IS NOT NULL AND ts IS NOT NULL
      |    AND user_id IS NOT NULL AND value IS NOT NULL),
      |m AS (SELECT user_id, t,
      |  CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
      |        OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > 1800000
      |       THEN 1 ELSE 0 END AS brk FROM e),
      |g AS (SELECT user_id, t,
      |  SUM(brk) OVER (PARTITION BY user_id ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m),
      |sess AS (SELECT user_id, sid, min(t) AS start_ts, max(t) AS end_ts,
      |   CAST(count(*) AS BIGINT) AS n_events
      | FROM g GROUP BY user_id, sid),
      |wm AS (SELECT (max(t) - 600000) AS wm_ms FROM e)
      |SELECT user_id, start_ts, end_ts, n_events
      |FROM sess, wm
      |WHERE sid < (SELECT max(s2.sid) FROM sess s2 WHERE s2.user_id = sess.user_id)
      |   OR end_ts + 1800000 $cmp wm_ms
      |ORDER BY user_id, start_ts""".stripMargin

  def oracles: Map[String, String] = Map(
    // d44's exact batch recompute — streaming, micro-batching and the
    // batchId-keyed landing must not change the admitted set
    "s87_stream_ingest_dedup" -> PipelineQueries.d44Oracle(),
    "s40_stream_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS cnt,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "s41_stream_dedup" ->
      """SELECT DISTINCT user_id % 100 AS user_bucket, event_type
        |FROM events ORDER BY user_bucket, event_type""".stripMargin,
    // independent of the parquet landing files: recomputed from the
    // source table — batch boundaries and file layout must not change
    // the answer
    "s55_stream_foreachbatch" ->
      """SELECT event_type, COUNT(*) AS cnt,
        | COUNT(DISTINCT user_id) AS users,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // identical to s40's oracle: the state backend must not change the
    // answer
    "s54_stream_rocksdb" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS cnt,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    // Sessions via gaps-and-islands (same break rule as s38), then the
    // engine's append-mode emission cutoff: watermark is tracked in
    // whole milliseconds (floor of the max event time) minus the 10m
    // delay, compared against the session end in MICROseconds — the
    // exact arithmetic the state store eviction uses. Held sessions
    // (end + gap past the watermark) never reach the sink.
    "s42_stream_sessions" -> sessionOracleSql,
    // identical oracle on purpose: a TIME-ORDERED multi-batch replay
    // must converge to the same emitted session set as the single-batch
    // run (batch 2's events all sit above batch 1's watermark, and the
    // final watermark is the same) — what changes is only that the
    // engine now proves its cross-batch session-state merge
    "s52_stream_sessions_batched" -> sessionOracleSql,
    // identical oracle again: a restart from checkpoint must converge
    // to the uninterrupted answer — offsets (no re-read), state (open
    // sessions restored), sink (exactly-once landing) all recovered
    "s59_stream_recovery" -> sessionOracleSql,
    "s43_stream_join" ->
      """SELECT a.event_id AS click_id, b.event_id AS purchase_id, a.user_id,
        | epoch_ms(a.ts) AS click_ms, epoch_ms(b.ts) AS purchase_ms
        |FROM events a JOIN events b ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'purchase'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
        |ORDER BY click_id, purchase_id""".stripMargin,
    // the semi join needs no cutoff arithmetic: matched-only emission
    "s69_stream_semi_join" ->
      """SELECT a.event_id AS click_id, a.user_id, epoch_ms(a.ts) AS click_ms
        |FROM events a
        |WHERE a.event_type = 'click' AND EXISTS (
        |  SELECT 1 FROM events b
        |  WHERE b.event_type = 'purchase' AND b.user_id = a.user_id
        |    AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE)
        |ORDER BY click_id""".stripMargin,
    // the batch lag() chain over the same null-complete rows: time-
    // ordered batches + the per-user last-event state bridge make the
    // streaming delta sum equal per-user adjacency counting exactly
    "s68_stream_transitions" ->
      """WITH e AS (SELECT user_id, event_id, ts, event_type FROM events
        | WHERE user_id IS NOT NULL AND event_id IS NOT NULL
        |   AND ts IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL),
        |o AS (SELECT user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        | FROM e)
        |SELECT prev AS from_type, event_type AS to_type, count(*) AS transitions
        |FROM o WHERE prev IS NOT NULL
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,
    // warm start: the same lag() chain, keeping only transitions whose
    // LATER event sits above the median split (the streamed half) — the
    // half-bridging transition is admitted (its earlier event is the
    // seeded frontier), purely-historical ones are not. The split point
    // re-derives Spark's CAST(percentile(...,0.5) AS BIGINT): floor()
    // because DuckDB's double→BIGINT cast rounds where Spark truncates.
    "s71_stream_transitions_warmstart" ->
      """WITH med AS (
        |  SELECT CAST(floor(quantile_cont(epoch_us(ts), 0.5)) AS BIGINT) AS m
        |  FROM events),
        |e AS (SELECT user_id, event_id, ts, event_type FROM events
        | WHERE user_id IS NOT NULL AND event_id IS NOT NULL
        |   AND ts IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL),
        |o AS (SELECT user_id, event_type, epoch_us(ts) AS us,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        | FROM e)
        |SELECT prev AS from_type, event_type AS to_type, count(*) AS transitions
        |FROM o, med WHERE prev IS NOT NULL AND us > med.m
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,
    // per-key final counts are batch-boundary-independent, so the
    // batch GROUP BY over the same null-complete rows is the answer
    "s74_stream_type_counts" ->
      """SELECT user_id, event_type, count(*) AS n FROM events
        |WHERE user_id IS NOT NULL AND event_id IS NOT NULL
        |  AND ts IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // each user's final last-5 must equal the batch top-5 in the
    // (ts, event_id) total order, newest first
    "s75_stream_recent_events" ->
      """WITH e AS (SELECT user_id, event_id, ts FROM events
        | WHERE user_id IS NOT NULL AND event_id IS NOT NULL
        |   AND ts IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL),
        |r AS (SELECT user_id, event_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
        |    AS rank
        | FROM e)
        |SELECT user_id, CAST(rank AS INTEGER) AS rank, event_id
        |FROM r WHERE rank <= 5 ORDER BY user_id, rank""".stripMargin,
    // Gaps-and-islands in milliseconds (the unit the custom kernel's
    // state logic uses), then the timeout-flush cutoff: every session
    // closed by an in-batch gap is emitted; a user's FINAL session only
    // if its timeout (end + gap) is strictly before the final watermark
    // (ms-floored max event time − 10m). Same technique as s42, but the
    // eviction arithmetic here is the EventTimeTimeout contract.
    "s48_stream_sessionize" -> sessionizeKernelOracleSql("<"),
    // same sessions, same watermark — ONE comparator apart: a
    // transformWithState timer fires when the watermark REACHES its
    // expiry (<=), where GroupState's EventTimeTimeout fires only
    // strictly past it (<) — both pinned empirically at the exact
    // boundary in EventStreamsSpec. The intermediate batch-1 firing
    // can only emit sessions the final cutoff also admits (the
    // watermark never regresses), so the multi-batch replay converges
    // to the single cutoff rule.
    "s70_stream_sessionize_timers" -> sessionizeKernelOracleSql("<="),
    // Inner matches (complete on bounded replay, as s43) plus the
    // null-extended clicks the engine's state eviction released: the
    // global watermark is the MIN across both input watermarks, each
    // ms-floored max event time minus the 10m delay; a click is
    // released iff its whole match horizon (click_ts + 30m) is strictly
    // before it. NULL purchase rows never share a click_id with real
    // matches, so ORDER BY click_id, purchase_id is unambiguous despite
    // engine-dependent NULL placement.
    "s47_stream_left_join" ->
      """WITH wm AS (
        |  SELECT (LEAST(
        |    (SELECT epoch_us(max(ts))//1000 FROM events WHERE event_type='click'),
        |    (SELECT epoch_us(max(ts))//1000 FROM events WHERE event_type='purchase')
        |  ) - 600000) * 1000 AS wm_us),
        |inner_j AS (
        |  SELECT a.event_id AS click_id, b.event_id AS purchase_id, a.user_id,
        |         epoch_ms(a.ts) AS click_ms, epoch_ms(b.ts) AS purchase_ms
        |  FROM events a JOIN events b ON a.user_id = b.user_id
        |   AND a.event_type = 'click' AND b.event_type = 'purchase'
        |   AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE),
        |outer_j AS (
        |  SELECT a.event_id AS click_id, NULL::BIGINT AS purchase_id, a.user_id,
        |         epoch_ms(a.ts) AS click_ms, NULL::BIGINT AS purchase_ms
        |  FROM events a, wm WHERE a.event_type = 'click'
        |   AND NOT EXISTS (SELECT 1 FROM events b WHERE b.user_id = a.user_id
        |                   AND b.event_type = 'purchase'
        |                   AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE)
        |   AND epoch_us(a.ts) + 1800000000 < wm_us)
        |SELECT * FROM inner_j UNION ALL SELECT * FROM outer_j
        |ORDER BY click_id, purchase_id""".stripMargin,
    // s47's oracle extended with the third arm: unmatched purchases
    // null-extend once the watermark strictly passes their own
    // timestamp (their max matchable click time). Explicit NULLS FIRST
    // bridges the engines' opposite null-order defaults — unmatched
    // purchases all carry NULL click_id and must sort together.
    "s53_stream_full_join" ->
      """WITH wm AS (
        |  SELECT (LEAST(
        |    (SELECT epoch_us(max(ts))//1000 FROM events WHERE event_type='click'),
        |    (SELECT epoch_us(max(ts))//1000 FROM events WHERE event_type='purchase')
        |  ) - 600000) * 1000 AS wm_us),
        |inner_j AS (
        |  SELECT a.event_id AS click_id, b.event_id AS purchase_id,
        |         a.user_id AS uid,
        |         epoch_ms(a.ts) AS click_ms, epoch_ms(b.ts) AS purchase_ms
        |  FROM events a JOIN events b ON a.user_id = b.user_id
        |   AND a.event_type = 'click' AND b.event_type = 'purchase'
        |   AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE),
        |left_only AS (
        |  SELECT a.event_id AS click_id, NULL::BIGINT AS purchase_id,
        |         a.user_id AS uid,
        |         epoch_ms(a.ts) AS click_ms, NULL::BIGINT AS purchase_ms
        |  FROM events a, wm WHERE a.event_type = 'click'
        |   AND NOT EXISTS (SELECT 1 FROM events b WHERE b.user_id = a.user_id
        |                   AND b.event_type = 'purchase'
        |                   AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE)
        |   AND epoch_us(a.ts) + 1800000000 < wm_us),
        |right_only AS (
        |  SELECT NULL::BIGINT AS click_id, b.event_id AS purchase_id,
        |         b.user_id AS uid,
        |         NULL::BIGINT AS click_ms, epoch_ms(b.ts) AS purchase_ms
        |  FROM events b, wm WHERE b.event_type = 'purchase'
        |   AND NOT EXISTS (SELECT 1 FROM events a WHERE a.user_id = b.user_id
        |                   AND a.event_type = 'click'
        |                   AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE)
        |   AND epoch_us(b.ts) < wm_us)
        |SELECT * FROM inner_j
        |UNION ALL SELECT * FROM left_only
        |UNION ALL SELECT * FROM right_only
        |ORDER BY click_id NULLS FIRST, purchase_id NULLS FIRST""".stripMargin,
    // Per-group KMV re-derived from scratch: fmix64'd FNV per DISTINCT
    // (type, user) key, the 64th-smallest hash per type (HUGEINT order
    // == unsigned order), the same (k-1)·2^64/kth estimator with the
    // exact-below-k fallback — the streaming state answer must equal
    // this batch recompute because the sketch is order-independent.
    "s49_stream_sketch" -> {
      val chain = PipelineQueries.fnvMixCtes("kh",
        "(SELECT DISTINCT event_type, 'user:' || user_id AS key FROM events) t",
        Seq("event_type"), "key")
      s"""WITH $chain,
         |ranked AS (SELECT event_type, h,
         |   row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
         |   count(*) OVER (PARTITION BY event_type) AS nd
         | FROM (SELECT DISTINCT event_type, h FROM kh)),
         |est AS (SELECT event_type,
         |   CASE WHEN max(nd) < 64 THEN CAST(max(nd) AS DOUBLE)
         |        ELSE 63.0 * 18446744073709551616.0 /
         |          CAST(max(CASE WHEN rn = 64 THEN h END) AS DOUBLE) END AS est_users
         | FROM ranked GROUP BY event_type),
         |cnt AS (SELECT event_type, count(*) AS n_events FROM events GROUP BY 1)
         |SELECT est.event_type AS event_type, est.est_users, cnt.n_events
         |FROM est JOIN cnt ON est.event_type = cnt.event_type
         |ORDER BY est.event_type""".stripMargin
    },
    "s46_stream_enrich" ->
      """SELECT c.c_mktsegment, COUNT(*) AS n_events,
        | CAST(SUM(CAST(round(e.value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,
    "s50_stream_topk" ->
      """SELECT event_type, CAST(rk AS INTEGER) AS rank, event_id, value FROM (
        | SELECT event_type, event_id, value,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY value DESC, event_id) AS rk
        | FROM events) WHERE rk <= 3
        |ORDER BY event_type, rank""".stripMargin,
    // Counter-matrix recompute as GROUP BY counts over the double-hash
    // positions (a48's oracle shape, keyed on events.user_id): the
    // streaming state answer must equal this batch rebuild because
    // counter adds commute.
    "s51_stream_cms" -> {
      val chain = PipelineQueries.hashMixCtes("ks",
        "(SELECT user_id, 'user:' || user_id AS key FROM events) kk",
        Seq("user_id"), "key")
      s"""WITH $chain,
         |pos AS (SELECT user_id, i.i AS row_i,
         |   CAST((u1 + i.i * u2) % 512 AS BIGINT) AS pos
         |  FROM ks, range(0, 3) i(i)),
         |counters AS (SELECT row_i, pos, count(*) AS c FROM pos GROUP BY row_i, pos),
         |probe AS (SELECT user_id, count(*) AS exact_cnt FROM events
         |  WHERE user_id < 40 GROUP BY user_id),
         |ppos AS (SELECT DISTINCT user_id, row_i, pos FROM pos WHERE user_id < 40),
         |est AS (SELECT p.user_id, CAST(min(c.c) AS BIGINT) AS est_cnt
         |  FROM ppos p JOIN counters c ON c.row_i = p.row_i AND c.pos = p.pos
         |  GROUP BY p.user_id)
         |SELECT probe.user_id AS user_id, probe.exact_cnt, est.est_cnt
         |FROM probe JOIN est ON probe.user_id = est.user_id
         |ORDER BY probe.user_id""".stripMargin
    },
  )
}
