package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.streaming.EventStreams

/** Event files land in a source directory one batch at a time; each
  * batch drives the hourly-count and the bounded-sessionization streams
  * through one checkpointed `AvailableNow` run each. */
object StreamIngest extends Workload {
  val Layer = "streaming"
  val Phases = Seq("addBatch" -> "add_batch_ms", "queryPlanning" -> "query_planning_ms",
    "latestOffset" -> "latest_offset_ms", "walCommit" -> "wal_commit_ms",
    "commitOffsets" -> "commit_offsets_ms")

  def run(ctx: Ctx): Workload.Result = {
    val spark = ctx.spark
    val a = ctx.args
    val staged = Files.list(Paths.get(s"${a.inputs}/events")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    val perBatch = a.int("events_per_batch")
    val src = s"${a.work}/stream_src"
    Files.createDirectories(Paths.get(src))
    var landed = Seq.empty[String]
    // per timed round: phase → ms summed over both streams; last state size
    var phaseMs = Seq.empty[Map[String, Double]]
    var stateRows = 0L
    var stateBytes = 0L
    var batchSec = Seq.empty[Double]
    var eventsPerSec = Seq.empty[Double]

    // this round's phase milliseconds and state size, over both streams
    var roundMs = Map.empty[String, Double].withDefaultValue(0.0)
    var roundRows, roundBytes = 0L

    def runOnce(name: String, start: => StreamingQuery): Unit = {
      val q = start
      try ctx.tracer.span("spark.execute", name)(q.awaitTermination()) finally q.stop()
      q.exception.foreach(e => throw e)
      val progress = q.recentProgress.toSeq
      Phases.foreach { case (k, m) =>
        roundMs += m -> (roundMs(m) +
          progress.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum)
      }
      progress.lastOption.foreach { p =>
        roundRows += p.stateOperators.map(_.numRowsTotal).sum
        roundBytes += p.stateOperators.map(_.memoryUsedBytes).sum
      }
    }

    def hourly(): StreamingQuery =
      EventStreams.hourlyCounts(EventStreams.readEventStream(spark, src))
        .writeStream.format("memory").queryName("hourly_counts")
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", s"${a.work}/checkpoints/hourly")
        .trigger(Trigger.AvailableNow()).start()

    def sessions(): StreamingQuery = {
      import spark.implicits._
      EventStreams.sessionizeBounded(EventStreams.readEventStream(spark, src)
        .select("event_id", "ts", "user_id", "event_type", "value").as[EventStreams.Event])
        .writeStream.format("noop").outputMode(OutputMode.Append())
        .option("checkpointLocation", s"${a.work}/checkpoints/sessions")
        .trigger(Trigger.AvailableNow()).start()
    }

    def round(): Unit = {
      val i = landed.size
      if (i >= staged.size) sys.error(s"all ${staged.size} staged batches used")
      // land the batch: one atomic rename into the watched directory
      Files.move(Paths.get(s"${a.inputs}/events/${staged(i)}"), Paths.get(s"$src/${staged(i)}"))
      landed :+= staged(i)
      roundMs = Map.empty[String, Double].withDefaultValue(0.0)
      roundRows = 0L
      roundBytes = 0L
      val th = ctx.op(Layer, "hourly_batch")(runOnce("hourly", hourly()))
      val ts = ctx.op(Layer, "session_batch")(runOnce("sessions", sessions()))
      for (h <- th; s <- ts if ctx.timing) {
        batchSec :+= h
        eventsPerSec :+= perBatch / (h + s)
        phaseMs :+= roundMs
        stateRows = roundRows
        stateBytes = roundBytes
      }
    }
    ctx.loop(_ => round())

    val layers = if (!a.trace) Nil else
      Phases.map { case (_, m) => s"$Layer.$m" -> Stats.median(phaseMs.map(_(m))) } ++ Seq(
        s"$Layer.state_rows" -> stateRows,
        s"$Layer.state_memory_bytes" -> stateBytes)

    // untimed: the final complete-mode counts and the files they cover
    val out = s"${a.work}/verify/hourly"
    spark.table("hourly_counts").coalesce(1).write.parquet(out)

    Workload.Result(
      e2e = Seq(
        "work_per_s" -> Stats.median(eventsPerSec),
        "op_p50_s" -> Stats.median(batchSec),
        "op_cpu_s" -> Stats.median(ctx.cpu("hourly_batch"))),
      detail = Seq(
        "events_per_batch" -> perBatch,
        "batches" -> landed.size,
        "events_per_s" -> Stats.median(eventsPerSec),
        "batch_p50_s" -> Stats.median(batchSec)),
      layers = layers,
      outputs = Seq("hourly_dir" -> out, "landed" -> landed.map(f => s"$src/$f")))
  }
}
