package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.{SessionHygiene, SparkEntry}

/** One client in a closed loop over a fixed set of the program's
  * declared queries, in a seeded order, to the no-op sink. */
object QueryMix extends Workload {
  def run(ctx: Ctx): Workload.Result = {
    val spark = ctx.spark
    val a = ctx.args
    val names = a.params("queries").split(",").toSeq
    val all = SparkEntry.queries
    val missing = names.filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    var constructSec = Seq.empty[Double]
    var constructJobs = 0L

    // the warm-up pass writes each query's result for the DuckDB check;
    // timed passes drain the same queries to the no-op sink
    val out = s"${a.work}/verify/queries"
    def pass(verify: Boolean): Unit = names.foreach { name =>
      ctx.op("queries", name) {
        val df = ctx.tracer.span("queries", s"$name.construct") {
          if (a.trace) {
            ctx.drain()
            val jobs0 = ctx.telemetry.total.jobs
            val t0 = System.nanoTime()
            val df = all(name)(spark, a.sf)
            val sec = (System.nanoTime() - t0) / 1e9
            ctx.drain()
            if (ctx.timing) {
              constructSec :+= sec
              constructJobs += ctx.telemetry.total.jobs - jobs0
            }
            df
          } else all(name)(spark, a.sf)
        }
        if (verify) df.coalesce(1).write.parquet(s"$out/$name")
        else ctx.exec("queries", name)(Harness.noop(df))
        SessionHygiene.sweep(spark)
      }
    }
    ctx.loop(r => pass(verify = r == -a.warmup))

    val latencies = ctx.samples.filter { case (k, _) => names.contains(k) }.values.flatten.toSeq
    val rounds = math.max(1, ctx.roundSeconds.size).toDouble
    val layers = if (!a.trace) Nil else Seq(
      "queries.construct_s" -> constructSec.sum / rounds,
      "queries.construct_jobs" -> constructJobs / rounds,
      "queries.plan_s" -> ctx.planSeconds("queries") / rounds,
      "queries.execute_s" -> ctx.executeSeconds("queries") / rounds)

    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.write(Paths.get(s"$out/oracle_sql.json"), Json(oracles).getBytes(UTF_8))

    val total = latencies.sum
    Workload.Result(
      e2e = Seq(
        "work_per_s" -> latencies.size / total,
        "op_p50_s" -> Stats.median(latencies),
        "op_cpu_s" -> Stats.median(ctx.cpu(names: _*))),
      detail = Seq(
        "queries" -> names.size,
        "query_samples" -> latencies.size,
        "query_p50_s" -> Stats.median(latencies),
        "query_p90_s" -> (if (latencies.size >= 100) Stats.quantile(latencies, 0.9) else Double.NaN),
        "mix_pass_s" -> Stats.median(ctx.roundSeconds.toSeq),
        "per_query_p50_s" -> names.map(n => n -> ctx.med(n))),
      layers = layers,
      outputs = Seq("queries_dir" -> out, "names" -> names))
  }
}
