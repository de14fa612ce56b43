package perfbench

import org.apache.spark.sql.functions._

import graft.SessionHygiene
import graft.functions.CentroidFunctions
import graft.operators.{Dedup, Similarity}

/** Near-duplicate and exact dedup over a document corpus with planted
  * near-duplicates, then brute-force and IVF top-k over an embedding
  * corpus for a held-out query set. */
object LlmPipeline extends Workload {
  val DedupLayer = "operators.dedup"
  val SimLayer = "operators.similarity"

  def run(ctx: Ctx): Workload.Result = {
    val spark = ctx.spark
    val a = ctx.args
    val threshold = a.double("jaccard_threshold")
    val k = a.int("top_k")
    val nlist = a.int("nlist")
    val nprobe = a.int("nprobe")
    val docs = spark.read.parquet(s"${a.inputs}/docs.parquet")
    val corpus = spark.read.parquet(s"${a.inputs}/corpus.parquet")
    val queries = spark.read.parquet(s"${a.inputs}/queries.parquet")
    val nDocs = docs.count()
    val nQueries = queries.count()
    val cents = Similarity.kmeansCentroidsByExpr(corpus, nlist, iters = 2)
    var pairs = Array.empty[org.apache.spark.sql.Row]
    var kept = (0L, 0L)
    var brute = Array.empty[org.apache.spark.sql.Row]
    var ivf = Array.empty[org.apache.spark.sql.Row]
    var docsPerSec = Seq.empty[Double]
    var topkSec = Seq.empty[Double]

    def round(): Unit = {
      val tm = ctx.op(DedupLayer, "minhash") {
        pairs = ctx.exec(DedupLayer, "minhash")(
          Dedup.minhashNearDups(docs, "doc_id", "text", threshold).collect())
        SessionHygiene.sweep(spark)
      }
      val te = ctx.op(DedupLayer, "exact") {
        val r = ctx.exec(DedupLayer, "exact")(Dedup.exactDedup(docs, "doc_id", "text")
          .agg(count(lit(1)), sum(col("doc_id"))).head())
        kept = (r.getLong(0), r.getLong(1))
      }
      for (m <- tm; e <- te if ctx.timing) docsPerSec :+= nDocs / (m + e)
      val tb = ctx.op(SimLayer, "brute_topk") {
        brute = ctx.exec(SimLayer, "brute_topk")(
          Similarity.bruteForceTopK(corpus, queries, k, rankAgg = true).collect())
      }
      val ti = ctx.op(SimLayer, "ivf_topk") {
        ivf = ctx.exec(SimLayer, "ivf_topk")(
          Similarity.ivfTopKByExpr(cents, corpus, queries, k, nprobe, rankAgg = true).collect())
      }
      for (b <- tb; i <- ti if ctx.timing) topkSec :+= b + i
    }
    ctx.loop(_ => round())

    val layers = if (!a.trace) Nil else {
      val withSh = docs.select(col("doc_id").as("id"), Dedup.hashedShingles(col("text")).as("sh"))
      val signSec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        ctx.tracer.span(DedupLayer, "signatures")(Harness.noop(Dedup.minhashSignatures(withSh)))
        (System.nanoTime() - t0) / 1e9
      }
      val candidates = Dedup.lshCandidates(Dedup.minhashSignatures(withSh), "id", "sig").count()
      SessionHygiene.sweep(spark)
      val listSizes = Similarity.ivfAssignedByExpr(cents, corpus).groupBy("__cid").count()
      val probed = queries.select(explode(
        CentroidFunctions.centroid_probes(col("embedding"), cents, nprobe)).as("__cid"))
      val ivfScored = probed.join(listSizes, "__cid").agg(coalesce(sum("count"), lit(0L)))
        .head().getLong(0)
      val nCorpus = corpus.count()
      Seq(
        s"$DedupLayer.signature_s" -> Stats.median(signSec),
        s"$DedupLayer.lsh_candidates" -> candidates,
        s"$DedupLayer.verified_pairs" -> pairs.length,
        s"$DedupLayer.candidate_yield" -> pairs.length.toDouble / math.max(1L, candidates),
        s"$SimLayer.topk_s" -> ctx.med("brute_topk"),
        s"$SimLayer.ivf_topk_s" -> ctx.med("ivf_topk"),
        s"$SimLayer.scored_pairs" -> (nCorpus * nQueries + ivfScored))
    }

    // untimed: the outputs run.py checks
    import spark.implicits._
    val out = s"${a.work}/verify"
    pairs.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.toDF("i", "j", "jaccard")
      .coalesce(1).write.parquet(s"$out/near_dups")
    Dedup.exactDedup(docs, "doc_id", "text").select("doc_id").coalesce(1)
      .write.parquet(s"$out/exact_kept")
    Seq("brute" -> brute, "ivf" -> ivf).foreach { case (name, rows) =>
      rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id"), r.getAs[Int]("rank"),
        r.getAs[Double]("sim"))).toSeq.toDF("query_id", "nbr_id", "rank", "sim")
        .coalesce(1).write.parquet(s"$out/$name")
    }

    Workload.Result(
      e2e = Seq(
        "work_per_s" -> Stats.median(docsPerSec),
        "op_p50_s" -> Stats.median(topkSec),
        "op_cpu_s" -> Stats.median(ctx.cpu("brute_topk").zip(ctx.cpu("ivf_topk")).map {
          case (b, i) => b + i })),
      detail = Seq(
        "docs" -> nDocs,
        "dedup_docs_per_s" -> Stats.median(docsPerSec),
        "topk_queries_per_s" -> Stats.median(topkSec.map(2 * nQueries / _)),
        "minhash_p50_s" -> ctx.med("minhash"),
        "exact_p50_s" -> ctx.med("exact"),
        "brute_topk_p50_s" -> ctx.med("brute_topk"),
        "ivf_topk_p50_s" -> ctx.med("ivf_topk")),
      layers = layers,
      outputs = Seq("dir" -> out, "exact_kept" -> Seq(kept._1, kept._2),
        "near_dup_pairs" -> pairs.length))
  }
}
