package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command line of the benchmark's JVM side; run.py fills it in. */
final case class Args(workload: String, seed: Long, seconds: Double, warmup: Int,
                      trace: Boolean, inputs: String, work: String, sf: String, cores: Int) {
  /** `key=value` lines written by the input generator. */
  lazy val params: Map[String, String] =
    scala.io.Source.fromFile(s"$inputs/params.txt", "UTF-8").getLines()
      .filter(_.contains('=')).map { l =>
        val i = l.indexOf('='); l.take(i).trim -> l.drop(i + 1).trim
      }.toMap
  def int(k: String): Int = params(k).toInt
  def double(k: String): Double = params(k).toDouble
}

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("warmup").toInt,
      need("trace") == "1", need("inputs"), need("work"), need("sf"), need("cores").toInt)
  }
}

/** Order-preserving JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case kv: Seq[_] if kv.forall(_.isInstanceOf[(_, _)]) && kv.nonEmpty &&
      kv.forall(_.asInstanceOf[(Any, Any)]._1.isInstanceOf[String]) =>
      kv.map { case (k: String, x) => apply(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case m: Map[_, _] => apply(m.toSeq.map { case (k, x) => (k.toString, x) }.sortBy(_._1))
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** What every workload shares: the session, the operation wrapper that
  * counts and times calls, the timed loop, and the traced-run telemetry. */
final class Ctx(val spark: SparkSession, val args: Args) {
  val tracer = new Tracer(args.trace)
  /** Registered for traced runs, and for untimed verification steps. */
  val telemetry = new Telemetry
  private var telemetryOn = false
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  /** Operation name → seconds of each timed (not warm-up) call. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val roundSeconds = mutable.ArrayBuffer.empty[Double]
  /** Operation name → CPU seconds this JVM spent (all threads) per call;
    * the same per round. */
  val cpuSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val roundCpuSeconds = mutable.ArrayBuffer.empty[Double]
  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = osBean.getProcessCpuTime
  var timing = false
  var warmupMs = 0L
  var setupDoneMs = 0L
  var loopDoneMs = 0L
  var loopSeconds = 0.0
  var loopPeakRssMb = 0.0
  /** Plan and execute seconds of the query executions under each layer. */
  val planSeconds = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val executeSeconds = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def listen(): Unit = if (!telemetryOn) {
    spark.sparkContext.addSparkListener(telemetry)
    spark.listenerManager.register(telemetry)
    telemetryOn = true
  }

  def drain(): Unit = Bus.drain(spark.sparkContext)

  def sample(name: String, sec: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += sec

  def med(name: String): Double = Stats.median(samples.getOrElse(name, Nil).toSeq)

  /** CPU seconds of each timed call of the named operations, pooled. */
  def cpu(names: String*): Seq[Double] = names.flatMap(n => cpuSamples.getOrElse(n, Nil))

  /** One counted operation: timed, and a failure is recorded and the run
    * goes on. Returns the seconds taken, or None when it failed. */
  def op(layer: String, name: String)(body: => Unit): Option[Double] = {
    attempted += 1
    tracer.op = attempted
    if (args.trace) spark.sparkContext.setJobGroup(layer, s"$layer.$name")
    val t0 = System.nanoTime()
    val c0 = cpuNs
    val ok =
      try { tracer.span(layer, name)(body); true }
      catch {
        case NonFatal(e) =>
          failed += 1
          failures += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          System.err.println(s"[perfbench] $name FAILED: $e")
          false
      }
    val sec = (System.nanoTime() - t0) / 1e9
    if (args.trace) spark.sparkContext.clearJobGroup()
    if (ok && timing) {
      sample(name, sec)
      cpuSamples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (cpuNs - c0) / 1e9
    }
    if (ok) Some(sec) else None
  }

  /** Run a Spark action of a layer call. In a traced run the planning
    * phases Spark reports for the action's query executions become
    * child spans, split from execution. */
  def exec[T](layer: String, name: String)(action: => T): T = {
    val out = tracer.span("spark.execute", name)(action)
    if (args.trace) {
      val parent = tracer.lastClosed
      val span = tracer.all.find(_.id == parent)
      drain()
      telemetry.takeFinished().foreach { qe =>
        val phases = qe.tracker.phases
        var planNs = 0L
        phases.foreach { case (phase, p) =>
          val s = p.startTimeMs * 1000000L - epochOffsetNs
          val e = p.endTimeMs * 1000000L - epochOffsetNs
          // a phase run before the action (analysis at construction) is not under it
          val (cs, ce) = span.map(sp => (math.max(s, sp.startNs), math.min(e, sp.endNs)))
            .getOrElse((s, e))
          if (ce > cs) {
            tracer.record(parent, "spark.plan", phase, cs, ce)
            planNs += ce - cs
          }
        }
        if (timing) planSeconds(layer) += planNs / 1e9
      }
      if (timing) span.foreach { sp =>
        executeSeconds(layer) += (sp.endNs - sp.startNs) / 1e9
      }
    }
    out
  }

  /** `args.warmup` untimed rounds (numbered from -warmup), then whole
    * timed rounds (numbered from 0) for `args.seconds`: a round starts
    * while more than half of the last round's time is left. */
  def loop(round: Int => Unit): Unit = {
    warmupMs = System.currentTimeMillis()
    (-args.warmup until 0).foreach(round)
    System.gc()
    if (args.trace) { drain(); telemetry.reset(); tracer.clear() }
    setupDoneMs = System.currentTimeMillis()
    timing = true
    val t0 = System.nanoTime()
    var r = 0
    while (r == 0 || (System.nanoTime() - t0) / 1e9 + roundSeconds.last / 2 < args.seconds) {
      val rs = System.nanoTime()
      val rc = cpuNs
      round(r)
      roundSeconds += (System.nanoTime() - rs) / 1e9
      roundCpuSeconds += (cpuNs - rc) / 1e9
      r += 1
    }
    loopSeconds = (System.nanoTime() - t0) / 1e9
    loopPeakRssMb = peakRssMb
    loopDoneMs = System.currentTimeMillis()
    timing = false
    if (args.trace) drain()
  }

  /** Peak resident set of this JVM, MB (`VmHWM`). */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** Listener metrics of the timed loop, per round (ratios overall). */
  def sparkLayerMetrics: Seq[(String, Any)] = {
    val t = telemetry.total
    val rounds = math.max(1, roundSeconds.size).toDouble
    val runs = t.taskRunMs.map(_.toDouble).toSeq
    val skew = if (runs.isEmpty) 0.0 else runs.max / math.max(1.0, Stats.median(runs))
    Seq(
      "spark.jobs" -> t.jobs / rounds,
      "spark.stages" -> t.stages / rounds,
      "spark.tasks" -> t.tasks / rounds,
      "spark.task_run_s" -> t.runMs / 1000.0 / rounds,
      "spark.task_wait_s" -> t.waitMs / 1000.0 / rounds,
      "spark.gc_s" -> t.gcMs / 1000.0 / rounds,
      "sources.scan_rows" -> t.scanRows / rounds,
      "sources.scan_bytes" -> t.scanBytes / rounds,
      "spark.shuffle_read_bytes" -> t.shuffleRead / rounds,
      "spark.shuffle_write_bytes" -> t.shuffleWrite / rounds,
      "spark.spill_bytes" -> t.spill / rounds,
      "spark.task_skew" -> skew,
      "spark.executor_busy_share" -> t.runMs / 1000.0 / math.max(1e-9, loopSeconds * args.cores),
      "spark.plan_s" -> planSeconds.values.sum / rounds,
      "spark.execute_s" -> executeSeconds.values.sum / rounds)
  }
}

/** A workload: set-up, warm-up and timed rounds, then the untimed
  * verification step that writes what run.py checks. */
trait Workload {
  /** Runs everything; returns (end-to-end metrics, detail metrics,
    * per-layer metrics of this workload, outputs for the checks). */
  def run(ctx: Ctx): Workload.Result
}

object Workload {
  final case class Result(e2e: Seq[(String, Double)], detail: Seq[(String, Any)],
                          layers: Seq[(String, Any)], outputs: Seq[(String, Any)])
}

object Harness {
  /** Every per-layer metric the benchmark declares; a workload that
    * never calls a layer reports 0 for it. */
  val perLayer: Seq[String] = Seq(
    "core.getslot_ns_per_key", "functions.slot_projection_s",
    "operators.slot_partitioning.node_balance_s", "operators.slot_partitioning.write_s",
    "operators.slot_partitioning.read_s", "operators.slot_partitioning.join_s",
    "operators.slot_partitioning.shuffle_write_bytes",
    "queries.construct_s", "queries.construct_jobs", "queries.plan_s", "queries.execute_s",
    "operators.dedup.signature_s", "operators.dedup.lsh_candidates",
    "operators.dedup.verified_pairs", "operators.dedup.candidate_yield",
    "operators.similarity.topk_s", "operators.similarity.ivf_topk_s",
    "operators.similarity.scored_pairs",
    "streaming.add_batch_ms", "streaming.query_planning_ms", "streaming.latest_offset_ms",
    "streaming.wal_commit_ms", "streaming.commit_offsets_ms", "streaming.state_rows",
    "streaming.state_memory_bytes")

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .appName(s"perfbench-${a.workload}")
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/local")
      .config("spark.sql.streaming.checkpointLocation", s"${a.work}/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val a = Args.parse(argv)
    val workload: Workload = a.workload match {
      case "keyspace" => Keyspace
      case "query_mix" => QueryMix
      case "llm_pipeline" => LlmPipeline
      case "stream_ingest" => StreamIngest
      case other => sys.error(s"unknown workload $other")
    }
    val spark = session(a)
    val sessionMs = System.currentTimeMillis()
    // run.py writes the inputs while this JVM starts; READY marks them complete
    val ready = Paths.get(s"${a.inputs}/READY")
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (!Files.exists(ready)) {
      if (System.nanoTime() > deadline) sys.error(s"no inputs at ${a.inputs}")
      Thread.sleep(10)
    }
    val ctx = new Ctx(spark, a)
    if (a.trace) ctx.listen()
    val hostBefore = graft.HostLoad.line
    val r = workload.run(ctx)
    val known = r.layers.toMap
    val layers =
      if (!a.trace) Nil
      else perLayer.map(k => k -> known.getOrElse(k, 0.0)) ++ ctx.sparkLayerMetrics
    val out = Seq(
      "workload" -> a.workload,
      "main_ms" -> mainMs,
      "session_ms" -> sessionMs,
      "warmup_ms" -> ctx.warmupMs,
      "setup_done_ms" -> ctx.setupDoneMs,
      "loop_done_ms" -> ctx.loopDoneMs,
      "rounds" -> ctx.roundSeconds.size,
      "loop_s" -> ctx.loopSeconds,
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "failures" -> ctx.failures.toSeq,
      "e2e" -> (r.e2e ++ Seq("round_s" -> Stats.median(ctx.roundSeconds.toSeq),
        "round_cpu_s" -> Stats.median(ctx.roundCpuSeconds.toSeq),
        "peak_rss_mb" -> ctx.loopPeakRssMb)),
      "detail" -> r.detail,
      "layers" -> layers,
      "self_times" -> ctx.tracer.selfTimes.map { case (l, s, n) => Seq("layer" -> l, "self_s" -> s, "spans" -> n) },
      "samples" -> ctx.samples.toSeq.map { case (k, v) => k -> v.toSeq },
      "cpu_samples" -> ctx.cpuSamples.toSeq.map { case (k, v) => k -> v.toSeq },
      "round_cpu_s" -> ctx.roundCpuSeconds.toSeq,
      "round_wall_s" -> ctx.roundSeconds.toSeq,
      "outputs" -> r.outputs,
      "host_load_before" -> hostBefore,
      "host_load_after" -> graft.HostLoad.line)
    Files.write(Paths.get(s"${a.work}/result.json"), Json(out).getBytes(UTF_8))
    if (a.trace)
      Files.write(Paths.get(s"${a.work}/spans.jsonl"), ctx.tracer.all.map { s =>
        Json(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
          "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
      }.mkString("", "\n", "\n").getBytes(UTF_8))
    spark.stop()
  }

  /** Drain a DataFrame through the no-op sink (the whole plan runs). */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** One short session over the paths every workload takes (parquet
  * write and read, a shuffle, a join, a stream), run once at build time
  * to dump the class-data-sharing archive. */
object Warm {
  def main(argv: Array[String]): Unit = {
    val dir = argv(0)
    val spark = Harness.session(Args("warm", 0L, 0.0, 0, trace = false, dir, dir, dir, 2))
    import org.apache.spark.sql.functions._
    val df = spark.range(20000).select(col("id"), concat(lit("user:"), col("id")).as("key"))
    df.write.parquet(s"$dir/t")
    val t = spark.read.parquet(s"$dir/t")
    t.groupBy(col("id") % 7).count().collect()
    t.join(t.select(col("id"), col("key").as("k2")), "id").agg(count(lit(1))).collect()
    t.selectExpr("key", "length(key)").write.format("noop").mode("overwrite").save()
    val q = spark.readStream.schema(t.schema).parquet(s"$dir/t")
      .groupBy(col("id") % 3).count().writeStream.format("memory").queryName("warm")
      .outputMode("complete").option("checkpointLocation", s"$dir/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.stop()
  }
}
