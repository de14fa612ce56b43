package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/**
 * Driver-run benchmark: executes every SparkEntry query against
 * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
 *
 * Queries run against the "noop" sink so the FULL plan executes
 * (a bare count() would let Catalyst prune the projections away and
 * time only the scan).
 */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // opt-in wide shuffle planning (AQE coalesces small ones back).
      // Measured both ways at sf10 (SCALING.md r9): decisive for big
      // one-shot shuffles (d36 steady 60-180 s → 30 s) but the
      // per-round replan overhead HURTS iterative floors at every
      // scale (a42 31.6 → 35.9 s, a49 7.1 → 10.7 s at sf10; +1.2-1.6 s
      // each at bench scale) — so it stays a per-workload deployment
      // knob, not a default
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INIT_PARTS", cpus))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // static conf, must be set before the session exists: the default
      // 100-entry generated-class cache thrashes under 90+ distinct query
      // shapes (each evicted stage pays a multi-second janino recompile on
      // its next run — measured 6.8 s of the 8.3 s t40 bench time). Sized
      // so every stage compiled during warm-up is still cached when the
      // same plan runs against the timed corpus. The cache is keyed by
      // (classloader, code): with session isolation on, every stream
      // restart runs its tasks in a new per-session classloader and the
      // cache is useless to it, so streams open through
      // EventStreams.streamReader, which turns isolation off.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.warehouse.dir", graft.queries.RelationalQueries.warehouseDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the JVM/codegen paths once on the smallest SF so per-query
    // timings measure execution, not first-call JIT + planning overhead;
    // one-time ingest (bucketed layout, CSV export) also happens here so
    // timed bodies measure the query, not setup cost paid once per corpus
    // NonFatal: a warm-up error does not stop the bench (the query is
    // timed again, and recorded -1 if it still fails), but it is counted
    // and named on stderr — a query broken only in warm-up, or one whose
    // failure changes the timed pass's state, must leave a trace. Fatal
    // JVM errors (OOM, linkage) are never caught.
    val warmFailures = scala.collection.mutable.ArrayBuffer.empty[String]
    def warm(name: String)(body: => Unit): Unit =
      try body
      catch { case NonFatal(e) =>
        warmFailures += name
        System.err.println(s"[bench] warm-up $name FAILED: ${e.getMessage}")
      }
    warm("entry")(SparkEntry.entry(spark).write.format("noop").mode("overwrite").save())
    // EVERY query once, untimed, at the TIMED scale factor. An sf0.001
    // warm-up (rounds 3's design) compiles most stages, but AQE picks
    // different physical strategies at sf0.1 (broadcast↔SMJ, coalesced
    // widths), so multi-stage iterative queries still paid janino
    // recompiles inside their timed body (a49 measured 9.4 s in-bench
    // vs 2.9 s steady-state). Warming at the timed SF exercises the
    // exact plan variants the timed pass will run — codegen cache is
    // sized above to hold them all — so the timed numbers measure
    // execution, full stop. JIT tiering of the kernels rides along.
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      warm(name)(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      SessionHygiene.sweep(spark)
    }
    if (warmFailures.nonEmpty)
      System.err.println(s"[bench] warm-up: ${warmFailures.size} failed: ${warmFailures.mkString(", ")}")
    try graft.queries.ExtrasQueries.ensureSlotBucketedTables(spark, sfDir)
    catch { case NonFatal(e) => System.err.println(s"[bench] bucketed ingest failed: ${e.getMessage}") }
    try {
      graft.queries.RelationalQueries.ensureCsvExport(spark, sfDir)
      graft.queries.RelationalQueries.ensureJsonExport(spark, sfDir)
      graft.queries.RelationalQueries.ensureOrcExport(spark, sfDir)
      graft.queries.RelationalQueries.ensurePartitionedExport(spark, sfDir)
      graft.queries.RelationalQueries.ensureGenerationExport(spark, sfDir)
      graft.queries.RelationalQueries.ensureTextExport(spark, sfDir)
    } catch { case NonFatal(e) => System.err.println(s"[bench] format export failed: ${e.getMessage}") }
    // shed the setup phase's heap debt (bucketed ingest + the format
    // exports churn GBs) so the first timed queries don't pay its GC
    System.gc()
    // a failed query is recorded as -1 (never mistakable for a fast
    // success) and listed in "errors" — the total covers successes only.
    // NonFatal: a task-level failure (incl. executor OOM) surfaces as a
    // SparkException and is recorded; a DRIVER-fatal error aborts the
    // bench loudly instead of timing 180 queries on a dying JVM and
    // publishing contaminated numbers
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      SessionHygiene.sweep(spark)
      if (ok) sec else -1.0
    }
    val firstPass = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      (name, fn, timeOnce(name, fn))
    }
    // The host steals CPU in waves (measured: the same query lands at
    // 0.9 s or 13 s across runs with identical plans), so one starved
    // scheduling window would otherwise be recorded as that query's
    // cost for the round. Re-time the slowest successes within a ~120 s
    // budget (soft: checked before each retry, so it can overshoot by
    // at most the final retry's duration), slowest first, and report
    // the per-query MIN — the run the machine actually allowed.
    // Failures are never retried into successes silently (-1 stands).
    var retryBudget = 120.0
    // each query carries ALL its successful samples (first pass + any
    // retry): min is the headline (host-noise rationale above), median
    // is reported alongside so a real plan regression that manifests as
    // variance can't hide behind the retry policy (for the 2-sample
    // case the median is the midpoint of both runs).
    val sampled = firstPass.sortBy { case (_, _, s) => -s }.map {
      case (name, fn, sec) =>
        if (sec > 1.0 && retryBudget > 0) {
          val t0 = System.nanoTime()
          val again = timeOnce(name, fn)
          retryBudget -= (System.nanoTime() - t0) / 1e9
          (name, if (again >= 0) Seq(sec, again) else Seq(sec))
        } else (name, Seq(sec))
    }.sortBy(_._1)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val results = sampled.map { case (name, ss) =>
      (name, if (ss.exists(_ < 0)) -1.0 else ss.min)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qsMed = sampled.map { case (k, ss) =>
      "\"" + k + "\":" + (if (ss.exists(_ < 0)) -1.0 else median(ss))
    }.mkString("{", ",", "}")
    // the raw per-query sample lists (first pass + any retry, in run
    // order, -1 = failure): consumers judge variance directly instead
    // of trusting a ≤2-sample median — "queries_median" is the midpoint
    // of both runs whenever a retry happened, the single sample otherwise
    val qsSamples = sampled.map { case (k, ss) =>
      "\"" + k + "\":" + ss.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // warm_artifacts: the untimed warm-up pass trains the ANN quantizer
    // models (centroids/codebooks are memoized per corpus), so every
    // timed s37/s39/s44/s45/s57/d53 number is the warm serving cost —
    // the production treatment of an index artifact, but NOT comparable
    // to a cold train-per-query run.
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_median":$qsMed,"queries_samples":$qsSamples,"errors":$errs,"warm_artifacts":true,"sf":"$sfDir"}""")
    spark.stop()
  }
}
