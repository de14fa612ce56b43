package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.SparkTestSession.withTempDir

class StreamingQueriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** The late-arrival sparse source (ten hash-split batches) is the
    * workload where the disciplined timer kernel's skip path can WIN:
    * most post-batch-1 deliveries are below-watermark, so "no
    * admissible change → zero writes for that key". Pin (a) output
    * equivalence on THIS source too (the r11 equivalence ran on the
    * time split and a MemoryStream feed) and (b) the observable the
    * r11 verdict asked for — disciplined state writes strictly below
    * naive's, per numRowsUpdated, which the time-ordered replay can
    * never separate because there every delivery moves every session. */
  test("s70 sparse source: disciplines agree on output; the skip path writes strictly less") {
    val sf = SparkTestSession.sf001
    val disc = StreamingQueries.sessionTimersQuery(spark, sf,
      naiveTimers = false, sparse = true).collect().toSeq
    val discUpd = StreamingQueries.capturedStateMetrics("s70_sparse_sink").map(_._3)
    val naive = StreamingQueries.sessionTimersQuery(spark, sf,
      naiveTimers = true, sparse = true).collect().toSeq
    val naiveUpd = StreamingQueries.capturedStateMetrics("s70_sparse_naive_sink").map(_._3)
    assert(disc.nonEmpty && disc.toSet == naive.toSet,
      s"disciplines diverged on the sparse source: ${disc.size} vs ${naive.size} rows")
    assert(discUpd.size > 2 && discUpd.size == naiveUpd.size,
      s"expected the same multi-batch trail, got $discUpd vs $naiveUpd")
    info(s"numRowsUpdated disc=${discUpd.mkString(",")} naive=${naiveUpd.mkString(",")}")
    assert(discUpd.sum < naiveUpd.sum,
      s"skip path should write strictly less: disc=${discUpd.sum} naive=${naiveUpd.sum}")
  }

  /** s52's claim is "cross-batch state merge, driver-checked" — that is
    * only true if the split source really replays in MULTIPLE data
    * micro-batches (a silently-ignored maxFilesPerTrigger would degrade
    * it to a second copy of s42). Pin it. */
  test("s52's split source replays in multiple micro-batches covering every row") {
    val sf = SparkTestSession.sf001
    val stream = StreamingQueries.splitEventStream(spark, sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    spark.catalog.dropTempView("s52_probe")
    val q = stream.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("s52_probe")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches >= 2, s"expected >= 2 data micro-batches, saw $dataBatches")
    val total = spark.table("s52_probe").agg(sum(col("n"))).head().getLong(0)
    val expect = graft.sources.Tables.load(spark, sf, "events").count()
    assert(total == expect, s"split halves must cover the table: $total != $expect")
  }

  /** The recovery contract an unbounded deployment lives on: kill the
    * query, restart from the checkpoint with new data present, and the
    * engine must (a) not re-emit what the fault-tolerant file sink
    * already committed, (b) resume session state so windows opened
    * before the restart finish correctly after it — the restarted
    * output must equal a never-restarted run bit-for-bit. */
  test("session state survives a checkpointed restart (exactly-once file sink)") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val sf = SparkTestSession.sf001
    val splitDir = StreamingQueries.ensureTimeSplitEvents(spark, sf)
    def half(name: String) = {
      val listing = Files.list(Paths.get(splitDir, name))
      try listing.filter(_.getFileName.toString.startsWith("part-")).findFirst.get
      finally listing.close()
    }
    withTempDir("restart") { root =>
      def dir(name: String) = Files.createDirectories(root.resolve(name))
      val srcDir = dir("src")
      val ckpt = dir("ckpt").toString
      val outDir = dir("out").toString

      def sessionAgg(df: org.apache.spark.sql.DataFrame) = df
        .withWatermark("ts", "10 minutes")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), unix_millis(col("w.start")).as("start_ts"),
          unix_millis(col("w.end")).as("end_ts"), col("n_events"))

      def runOnce(src: String, checkpoint: String, out: String): Unit = {
        val q = sessionAgg(spark.readStream
            .schema(StreamingQueries.splitEventSchema)
            .option("maxFilesPerTrigger", 1).parquet(src))
          .writeStream.outputMode(OutputMode.Append())
          .format("parquet").option("path", out)
          .option("checkpointLocation", checkpoint)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      def rows(out: String) = spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

      // phase 1: only the first (time-earlier) half exists
      Files.copy(half("a"), srcDir.resolve("00-a.parquet"), StandardCopyOption.REPLACE_EXISTING)
      runOnce(s"$srcDir/*.parquet", ckpt, outDir)
      val afterPhase1 = rows(outDir)
      // phase 2: new data arrives, restart from the SAME checkpoint
      Files.copy(half("b"), srcDir.resolve("01-b.parquet"), StandardCopyOption.REPLACE_EXISTING)
      runOnce(s"$srcDir/*.parquet", ckpt, outDir)
      val afterPhase2 = rows(outDir)

      // never-restarted reference over the same two files
      val ckpt2 = dir("ckpt2").toString
      val out2 = dir("out2").toString
      runOnce(s"$srcDir/*.parquet", ckpt2, out2)
      val reference = rows(out2)

      assert(afterPhase1.nonEmpty && afterPhase1.subsetOf(afterPhase2))
      assert(afterPhase2 == reference,
        s"restarted output diverged: ${(afterPhase2 -- reference).take(3)} / ${(reference -- afterPhase2).take(3)}")
      // state genuinely crossed the restart: some session emitted after
      // the restart STARTED in phase-1 data (its window was open state
      // in the checkpoint when the query was stopped)
      val maxA = spark.read.parquet(srcDir.resolve("00-a.parquet").toString)
        .agg(max(unix_millis(col("ts")))).head().getLong(0)
      val phase2New = afterPhase2 -- afterPhase1
      assert(phase2New.exists(_._2 <= maxA),
        s"no emitted session carried state across the restart (maxA=$maxA)")
    }
  }

  /** s68's claim is "the last-event ValueState bridges micro-batches".
    * Arithmetic pin: over null-complete rows every user with k events
    * contributes exactly k−1 transitions, so the matrix total must be
    * n − users — which streaming only reaches if the state bridge
    * counts the cross-batch pair for every user spanning the median
    * split (per-batch adjacency alone would lose one per such user).
    * Also pins that spanning users exist (else the bridge is untested)
    * and that the RocksDB provider conf is restored. */
  test("s68 transformWithState bridges transitions across micro-batches") {
    val sf = SparkTestSession.sf001
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    val res = StreamingQueries.queries("s68_stream_transitions")(spark, sf).collect()
    assert(spark.conf.getOption(key) == before, "provider conf not restored")
    val total = res.map(_.getLong(2)).sum
    val complete = graft.sources.Tables.load(spark, sf, "events")
      .where(col("event_id").isNotNull && col("ts").isNotNull &&
        col("user_id").isNotNull && col("value").isNotNull &&
        col("event_type").isNotNull)
    val n = complete.count()
    val users = complete.select("user_id").distinct().count()
    assert(total == n - users,
      s"matrix total $total != n - users = ${n - users}: a cross-batch bridge was lost")
    val splitDir = StreamingQueries.ensureTimeSplitEvents(spark, sf)
    val spanning = spark.read.parquet(s"$splitDir/a").select("user_id")
      .intersect(spark.read.parquet(s"$splitDir/b").select("user_id")).count()
    assert(spanning > 0, "no user spans the split — the bridge went untested")
  }

  /** s69's at-most-once contract on a click with MULTIPLE in-horizon
    * purchases (the gate corpus happens to be 1:1, so the dedup path
    * would otherwise go unexercised): the semi join must emit the click
    * once, not per match — the distinction from the s43 inner join. */
  test("s69 semi join emits a multi-matched click exactly once") {
    import java.sql.Timestamp
    import spark.implicits._
    val t0 = 1700000000000L
    val rows = Seq(
      (1L, new Timestamp(t0), 7L, "click", 1.0),
      (2L, new Timestamp(t0 + 5 * 60000), 7L, "purchase", 2.0),
      (3L, new Timestamp(t0 + 10 * 60000), 7L, "purchase", 3.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    withTempDir("s69") { dirPath =>
      val dir = dirPath.toString
      rows.coalesce(1).write.mode("overwrite").parquet(dir)
      val src = spark.readStream.schema(StreamingQueries.splitEventSchema).parquet(dir)
      val clicks = src.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "10 minutes")
      val purchases = src.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "10 minutes")
      val semi = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
        "left_semi")
      spark.catalog.dropTempView("s69_probe")
      val q = semi.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("s69_probe")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val out = spark.table("s69_probe").collect()
      assert(out.length == 1 && out.head.getLong(0) == 1L,
        s"expected the click once, got ${out.toSeq}")
    }
  }
}
