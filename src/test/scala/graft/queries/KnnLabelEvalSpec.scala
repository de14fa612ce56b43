package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.operators.Similarity

/** s79/s80's embedding-quality eval: a planted-signal ground truth
  * (separable clusters must score perfect agreement), the twin
  * relationship on the gate corpus, and the production plan shape. */
class KnnLabelEvalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("planted separable clusters score perfect 1-NN agreement") {
    // 3 labels × 4 vectors: each cluster shares a dominant orthogonal
    // axis, so every vector's exact nearest neighbor has its label
    val rows = for { l <- 0 until 3; i <- 0 until 4 } yield {
      val v = Array.fill(6)(0.01f * (i + 1))
      v(l * 2) = 1.0f
      (l.toLong * 4 + i, v.toSeq, l)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val got = PipelineQueries.knnLabelAgreement(
        emb, Similarity.bruteForceTopK(emb, emb, k = 1))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(0 -> ((4L, 4L)), 1 -> ((4L, 4L)), 2 -> ((4L, 4L))),
      s"separable clusters must be perfectly 1-NN consistent: $got")
  }

  test("exact and IVF twins cover the whole corpus; the gap is probe recall only") {
    val emb = spark.read.parquet(s"${SparkTestSession.sf001}/embeddings.parquet")
    def run(name: String) =
      graft.SparkEntry.queries(name)(spark, SparkTestSession.sf001)
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = run("s79_knn_label_eval")
    val ivf = run("s80_knn_label_eval_ivf")
    val total = emb.count()
    assert(exact.values.map(_._1).sum == total, "exact eval must cover every vector")
    assert(ivf.values.map(_._1).sum == total,
      "every vector's probed lists must yield at least one candidate at this occupancy")
    assert(exact.keySet == ivf.keySet)
    spark.catalog.clearCache()
  }

  test("the IVF eval plans list-bucketed candidates, never all-pairs") {
    val plan = graft.SparkEntry.queries("s80_knn_label_eval_ivf")(
        spark, SparkTestSession.sf001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in s80:\n$plan")
    spark.catalog.clearCache()
  }

  test("the corpus-sized query side is never FORCED into a broadcast") {
    // broadcastQueries=false: the probe join's initial plan must keep
    // both corpus-sized sides on a shuffled join — a planner hint
    // would collect every query vector to the driver at any scale
    // (AQE may still pick a broadcast at runtime from actual sizes;
    // that is size-based and correct — the pin is on the HINT)
    val emb = spark.read.parquet(s"${SparkTestSession.sf001}/embeddings.parquet")
    val cents = Similarity.kmeansCentroidsByExpr(
      emb, nlist = Similarity.ivfListsFor(emb.count()), iters = 2)
    val opt = Similarity
      .ivfTopKByExpr(cents, emb, emb, k = 1, broadcastQueries = false)
      .queryExecution.optimizedPlan.toString
    assert(!opt.contains("strategy=broadcast"),
      s"broadcast HINT present despite broadcastQueries=false:\n${opt.take(2000)}")
    val hinted = Similarity
      .ivfTopKByExpr(cents, emb, emb, k = 1)
      .queryExecution.optimizedPlan.toString
    assert(hinted.contains("strategy=broadcast"),
      "the default path lost its broadcast hint — this pin went vacuous")
    spark.catalog.clearCache()
  }
}
