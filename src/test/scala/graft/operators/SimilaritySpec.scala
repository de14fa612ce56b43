package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.SparkTestSession.withTempDir

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val emb = spark.read.parquet(s"${SparkTestSession.sf001}/embeddings.parquet")

  test("cosine: self-similarity is 1, orthogonal is 0") {
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f), 1.0),
      (Array(1f, 0f), Array(0f, 1f), 0.0),
      (Array(3f, 4f), Array(3f, 4f), 1.0),
      (Array(1f, 1f), Array(-1f, -1f), -1.0),
    ).toDF("a", "b", "want")
    df.select(Similarity.cosine($"a", $"b").as("got"), $"want").collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
    }
  }

  test("brute-force top-k is k rows per query, ranked by similarity") {
    val res = Similarity.bruteForceTopK(emb, emb.where($"vec_id" < 3), k = 5).collect()
    assert(res.length == 15)
    res.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sims = rows.sortBy(_.getInt(2)).map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b }, "sims must be non-increasing")
    }
  }

  test("rankAgg brute: the fused kernel equals the window form row-for-row incl. sims") {
    import TopKEdgeCases._
    val q = emb.where($"vec_id" < 8)
    assert(full(Similarity.bruteForceTopK(emb, q, k = 10, rankAgg = true)) ==
      full(Similarity.bruteForceTopK(emb, q, k = 10)))
    // a 4-partition corpus: the driver merges partials from every task
    val spread = emb.repartition(4)
    assert(spread.rdd.getNumPartitions == 4)
    assert(full(Similarity.bruteForceTopK(spread, q, k = 10, rankAgg = true)) ==
      full(Similarity.bruteForceTopK(spread, q, k = 10)))
  }

  test("rankAgg brute edges: ties, zero and NULL vectors, self-pairs, big k, empty partitions, duplicate ids") {
    import TopKEdgeCases._
    val c = corpus(spark)
    val q = queries(spark)
    assert(emptyPartitions(c) > 0)
    Seq(1, 3, 20).foreach { k =>
      val got = full(Similarity.bruteForceTopK(c, q, k, rankAgg = true))
      assert(got == windowAnswer(Similarity.bruteForceTopK(c, q, k)), s"k=$k")
      assert(!got.exists { case (qid, _, nbr, _) => qid == nbr }, "self-pair ranked")
      assert(!got.exists(_._1 == 9L), "a NULL query vector ranks nothing")
      assert(!got.exists(_._3 == 5L), "a NULL corpus vector ranks nowhere")
    }
    val at20 = full(Similarity.bruteForceTopK(c, q, 20, rankAgg = true))
    // query 1 = [1,0,0] ties with corpus 2 and 3 at sim 1.0: id order
    assert(at20.filter(_._1 == 1L).take(2).map(t => (t._3, t._4)) == Seq((2L, 1.0), (3L, 1.0)))
    // the zero query scores 0.0 against everything but itself
    assert(at20.filter(_._1 == 4L).map(_._4).toSet == Set(0.0))
    // k past the candidate count: every non-NULL, non-self corpus row
    assert(at20.count(_._1 == 4L) == 6)
    // both rows of query id 6 rank jointly: one run of ranks
    assert(at20.filter(_._1 == 6L).map(_._2) == (1 to 12))
    // query_id keeps its type
    val intQ = q.withColumn("vec_id", $"vec_id".cast("int"))
    val typed = Similarity.bruteForceTopK(c, intQ, 3, rankAgg = true)
    assert(typed.schema("query_id").dataType == org.apache.spark.sql.types.IntegerType)
    assert(full(typed) == windowAnswer(Similarity.bruteForceTopK(c, intQ, 3)))
    // the buffers key nbr_id as LONG: the existing message, before any job
    val e = intercept[IllegalArgumentException](Similarity.bruteForceTopK(
      c.withColumn("vec_id", $"vec_id".cast("int")), q, 3, rankAgg = true))
    assert(e.getMessage.contains("nbr_id must be LONG"), e.getMessage)
  }

  test("rankAgg brute guard: a warm broadcast-query call shuffles nothing, plans no BNLJ or ObjectHashAggregate") {
    // a silent fallback to the candidate stream fails here, not as bench drift
    val q = emb.where($"vec_id" < 8)
    Similarity.bruteForceTopK(emb, q, k = 10, rankAgg = true).collect()
    val (seen, res) = GuardListener.watch(spark) {
      val r = Similarity.bruteForceTopK(emb, q, k = 10, rankAgg = true)
      assert(r.collect().length == 80)
      r
    }
    assert(seen.tasks > 0)
    assert(seen.shuffleWrite == 0, s"shuffle-write bytes: ${seen.shuffleWrite}")
    // the query collect, the corpus scan and the result's local scan
    assert(seen.plans.size >= 3, seen.plans)
    assert(seen.plans.exists(_.contains("Scan parquet")), seen.plans)
    (seen.plans :+ res.queryExecution.executedPlan.toString).foreach { p =>
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("ObjectHashAggregate"), p)
    }
  }

  test("LSH top-k achieves reasonable recall vs brute force") {
    val queries = emb.where($"vec_id" < 20)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(emb, queries, k = 10))
    val lsh = pairs(Similarity.lshTopK(emb, queries, k = 10, maxBitDiff = 2))
    val recall = (brute & lsh).size.toDouble / brute.size
    // deterministic (seeded planes, fixed corpus): measured 0.27 on this
    // weakly-clustered synthetic corpus with 8-bit sigs, hamming<=2 probe
    assert(recall >= 0.25, s"recall $recall too low")
  }

  test("LSH probes fewer candidates than brute force") {
    val queries = emb.where($"vec_id" < 5)
    val nCand = emb.select($"vec_id".as("nbr_id"), $"embedding".as("cvec"),
        Similarity.lshSignature($"embedding", 8, 64).as("csig"))
      .join(broadcast(queries.select($"vec_id".as("query_id"),
        Similarity.lshSignature($"embedding", 8, 64).as("qsig"))),
        bit_count($"csig".bitwiseXOR($"qsig")) <= 2)
      .count()
    assert(nCand < 5L * 500, s"LSH candidate count $nCand should prune the 2500-pair space")
  }

  test("IVF top-k achieves reasonable recall and probes a corpus subset") {
    val queries = emb.where($"vec_id" < 20)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(emb, queries, k = 10))
    val ivf = pairs(Similarity.ivfTopKByExpr(
      Similarity.kmeansCentroidsByExpr(emb, nlist = 16, iters = 2), emb, queries, k = 10, nprobe = 4))
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.25, s"IVF recall $recall too low")
    // probing 4/16 lists must examine well under the full corpus per query
    assert(ivf.nonEmpty)
  }

  test("kmeans centroids are finite and nlist-sized") {
    val cs = Similarity.kmeansCentroidsByExpr(emb, nlist = 8, iters = 1)
    assert(cs.length == 8)
    assert(cs.forall(c => c.length == 64 && c.forall(v => !v.isNaN && !v.isInfinite)))
  }

  test("block equi-join near-dup equals the reference cross-join pair set") {
    // ground truth computed here the naive way (spec-side only)
    def gt(threshold: Double) = {
      val a = emb.select($"vec_id".as("i"), $"embedding".as("va"))
      val b = emb.select($"vec_id".as("j"), $"embedding".as("vb"))
      a.crossJoin(b).where($"i" < $"j")
        .where(Similarity.cosine($"va", $"vb") >= threshold)
        .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // low threshold → many pairs, exercises same-block dedup + cross-block canon
    for (t <- Seq(0.5, 0.35)) {
      val got = Similarity.nearDupPairs(emb, t).select("i", "j")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == gt(t), s"threshold $t: got ${got.size} pairs, want ${gt(t).size}")
    }
    // and with a block count that doesn't divide the corpus evenly
    val got5 = Similarity.nearDupPairs(emb, 0.35, blocks = 5).select("i", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got5 == gt(0.35))
  }

  test("near-dup pairs with LSH bucketing is a subset of exact") {
    val exact = Similarity.nearDupPairs(emb, 0.5).select("i", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.nearDupPairs(emb, 0.5, useLsh = true).select("i", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
  }

  test("banded LSH near-dups: exact subset with good recall, no pair scan in the plan") {
    val emb0 = spark.read.parquet(s"${graft.SparkTestSession.sf0001}/embeddings.parquet")
    def keyset(df: org.apache.spark.sql.DataFrame) =
      df.select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = keyset(Similarity.nearDupPairs(emb0, threshold = 0.4))
    val banded = Similarity.bandedNearDupPairs(emb0, threshold = 0.4)
    val got = keyset(banded)
    assert(exact.nonEmpty)
    assert(got.subsetOf(exact), "every banded pair passes the exact cosine check")
    assert(got.size.toDouble / exact.size >= 0.7, s"recall ${got.size}/${exact.size}")
    val p = banded.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  test("lshBitsFor holds bucket occupancy: floor at small n, log growth, hard cap") {
    assert(Similarity.lshBitsFor(500) == 4)   // gate scale — unchanged
    assert(Similarity.lshBitsFor(2000) == 4)  // bench scale — unchanged
    assert(Similarity.lshBitsFor(20000) == 8) // sf1: 256 buckets, occ ~78
    assert(Similarity.lshBitsFor(200000) == 11)
    assert(Similarity.lshBitsFor(Long.MaxValue) == 16)
    // monotone non-decreasing over a sweep
    val sweep = Seq(1L, 100L, 1000L, 10000L, 100000L, 1000000L).map(Similarity.lshBitsFor(_))
    assert(sweep == sweep.sorted, sweep.toString)
  }

  test("recall-holding LSH: growing L by p^-Δb restores the recall corpus-sized bits cost") {
    // demonstrates the trade the lshBitsFor scaladoc documents: holding
    // bucket occupancy as the corpus grows means growing the band width
    // b, which drops per-table collision odds to p^b — and a deployment
    // that must HOLD recall grows the table count L by p^-Δb alongside.
    // Measured here on the sf0.1 corpus (2 000 vectors, θ=0.35 so the
    // ground-truth pair set is statistically meaningful): recall at
    // (b=8, L=8) collapses vs the (b=4, L=8) baseline, and (b=8, L=57)
    // — L grown by p(0.35)^-4 ≈ 7.05 — restores it. All three runs are
    // deterministic (seeded planes, fixed corpus), so the measured
    // recalls are constants: 0.733 base / 0.174 dropped / 0.734 held
    // (4 137 ground-truth pairs), with candidate-side cost growing ∝ L
    // (57/8 ≈ 7×) — the classic sub-quadratic-but-not-linear LSH
    // exponent.
    val emb1 = spark.read.parquet(s"${graft.SparkTestSession.sf01}/embeddings.parquet")
    val threshold = 0.35
    def keyset(df: org.apache.spark.sql.DataFrame) =
      df.select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = keyset(Similarity.nearDupPairs(emb1, threshold))
    assert(exact.size >= 50, s"need a measurable ground-truth pair set, got ${exact.size}")
    def recall(tables: Int, bits: Int): Double =
      keyset(Similarity.bandedNearDupPairs(emb1, threshold, tables, bits)).size.toDouble / exact.size
    val rBase = recall(8, 4)
    val rDrop = recall(8, 8)
    // the FIRST-CLASS derivation (r11): hold the THEORY recall of the
    // (b=4, L=8) baseline at b=8 through tablesForRecall — the exact
    // log-ratio form of the r9/r10 hand formula ⌈8·p^−Δb⌉ (61 vs that
    // approximation's 57: ⌈L·ln(1−p^b1)/ln(1−p^b2)⌉ vs L·p^−Δb)
    val p = Similarity.collisionProb(threshold)
    val baselineRecall = 1.0 - math.pow(1.0 - math.pow(p, 4), 8)
    val lHold = Similarity.tablesForRecall(threshold, bits = 8,
      targetRecall = baselineRecall)
    val rHold = recall(lHold, 8)
    info(f"ground truth ${exact.size} pairs; recall b4/L8=$rBase%.3f b8/L8=$rDrop%.3f b8/L$lHold=$rHold%.3f")
    assert(lHold == 61, s"tablesForRecall derivation drifted: $lHold")
    assert(rDrop < rBase - 0.3,
      f"b=8 at fixed L should collapse recall ($rDrop%.3f vs $rBase%.3f)")
    assert(rHold >= rBase - 0.05,
      f"L=$lHold should restore the b=4 baseline ($rHold%.3f vs $rBase%.3f)")
  }

  test("tablesForRecall: minimal L meeting the target, pinned at the measured scales") {
    // pins at the scales SCALING.md measures: the sf10 production corpus
    // (b=11) needs 164 tables for target 0.85 (r10's hand-computed 137
    // was the ⌈8·p^−Δb⌉ baseline-holding approximation and measured
    // 0.854 — the exact 0.85-target form is slightly larger), sf1 (b=8)
    // 48, gate/bench corpora (b=4) 9
    assert(Similarity.tablesForRecall(0.5, 11) == 164)
    assert(Similarity.tablesForRecall(0.5, 8) == 48)
    assert(Similarity.tablesForRecall(0.5, 4) == 9)
    // the guarantee and MINIMALITY across the whole parameter cube:
    // theoretical recall 1−(1−p^b)^L meets the target at L and misses
    // it at L−1, for every (threshold, band width, target) combination
    for (theta <- Seq(0.2, 0.35, 0.5, 0.7, 0.9);
         bits <- Seq(2, 4, 8, 11, 16);
         target <- Seq(0.3, 0.5, 0.85, 0.99)) {
      val l = Similarity.tablesForRecall(theta, bits, target)
      def rec(x: Int) =
        1.0 - math.pow(1.0 - math.pow(Similarity.collisionProb(theta), bits), x)
      assert(l >= 1, s"θ=$theta bits=$bits target=$target L=$l")
      assert(rec(l) >= target, s"θ=$theta bits=$bits target=$target L=$l under-delivers")
      assert(l == 1 || rec(l - 1) < target, s"θ=$theta bits=$bits target=$target L=$l not minimal")
    }
    // monotone in band width (finer bands need more tables) and target
    assert(Similarity.tablesForRecall(0.5, 11) > Similarity.tablesForRecall(0.5, 8))
    assert(Similarity.tablesForRecall(0.5, 8, 0.99) > Similarity.tablesForRecall(0.5, 8, 0.85))
    // the θ = 1 boundary (r12, ADVICE): exact-direction duplicates
    // collide on every hyperplane (p = 1), so ONE table of any width
    // holds any recall target — the preset's domain now matches
    // bandedNearDupPairs' documented acceptance of threshold = 1.0
    assert(Similarity.collisionProb(1.0) == 1.0)
    assert(Similarity.tablesForRecall(1.0, 11, 0.99) == 1)
    // θ = −1 stays rejected: an opposite-direction pair never collides
    assertThrows[IllegalArgumentException](Similarity.collisionProb(-1.0))
  }

  test("recallHeldConfig: three knobs derived together, placement follows the regime") {
    val emb = spark.read.parquet(s"${graft.SparkTestSession.sf01}/embeddings.parquet")
    val n = emb.count()
    val cfg = Similarity.recallHeldConfig(emb, threshold = 0.5)
    assert(cfg.bits == Similarity.lshBitsFor(n))
    assert(cfg.tables == Similarity.tablesForRecall(0.5, cfg.bits))
    // this corpus's vector side is far under the default 10 MB broadcast
    // threshold → broadcast regime → verify-then-distinct (the r10
    // 376→115 s measurement's side of the trade)
    assert(cfg.verifyThenDistinct, "sf0.1 vectors should sit in the broadcast regime")
    // the regime FLIPS with the session threshold: broadcast disabled →
    // shuffled-verify regime → pre-verify distinct (the r8 80→103 s
    // measurement's side)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      assert(!Similarity.recallHeldConfig(emb, 0.5, corpusSize = Some(n)).verifyThenDistinct,
        "disabled broadcast must select the shuffle-safe placement")
    } finally spark.conf.set(key, old)
    // the one-call preset returns exactly the banded call at the derived
    // knobs (placement equivalence is pinned separately below)
    def keyset(df: org.apache.spark.sql.DataFrame) =
      df.select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaPreset = keyset(Similarity.recallHeldNearDupPairs(emb, 0.5, config = Some(cfg)))
    val direct = keyset(Similarity.bandedNearDupPairs(emb, 0.5, cfg.tables, cfg.bits))
    assert(viaPreset.nonEmpty && viaPreset == direct)
  }

  test("PCA model: orthonormal components, descending variance, deterministic, sign-fixed") {
    val emb0 = spark.read.parquet(s"${graft.SparkTestSession.sf0001}/embeddings.parquet")
    val (mean, comps) = Similarity.pcaModel(emb0, k = 8)
    assert(mean.length == 64 && comps.length == 8)
    def dot(a: Array[Double], b: Array[Double]) = a.zip(b).map { case (x, y) => x * y }.sum
    for (i <- comps.indices; j <- i until comps.length) {
      val d = dot(comps(i), comps(j))
      if (i == j) assert(math.abs(d - 1.0) < 1e-9, s"|pc$i| = $d")
      else assert(math.abs(d) < 1e-9, s"pc$i . pc$j = $d")
    }
    // sign convention: each component's largest-|entry| is positive
    comps.foreach { w =>
      assert(w(w.indices.maxBy(i => (math.abs(w(i)), -i))) > 0.0)
    }
    // projected variance is the eigenvalue -> must be non-increasing
    val proj = Similarity.pcaProject(emb0, mean, comps).drop("vec_id").collect()
    val vars = (0 until 8).map { c =>
      val xs = proj.map(_.getDouble(c)); val m = xs.sum / xs.length
      xs.map(v => (v - m) * (v - m)).sum / xs.length
    }
    assert(vars == vars.sortBy(-_), s"variance not descending: $vars")
    assert(vars.head > vars.last, "top component should explain more variance than the 8th")
    // training is a pure function of the corpus: retrain == first train
    val (mean2, comps2) = Similarity.pcaModel(emb0.repartition(7), k = 8)
    assert(mean.sameElements(mean2))
    assert(comps.zip(comps2).forall { case (a, b) => a.sameElements(b) })
  }

  test("PCA-shortlist ANN: exact-subset results with measured recall vs brute force") {
    val emb0 = spark.read.parquet(s"${graft.SparkTestSession.sf0001}/embeddings.parquet")
    val queries = emb0.where(col("vec_id") < 5)
    val (mean, comps) = Similarity.pcaModel(emb0, k = 8)
    def keyset(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "nbr_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = keyset(Similarity.bruteForceTopK(emb0, queries, k = 10))
    val got = keyset(Similarity.pcaRefineTopK(mean, comps, emb0, queries, k = 10))
    assert(got.size == exact.size)
    val recall = (got & exact).size.toDouble / exact.size
    info(f"pca-shortlist recall@10 = $recall%.2f")
    // this corpus is isotropic (no low-rank structure — the hardest
    // case for PCA pruning); an 8-axis shortlist of 32 still lands
    // well above random-candidate recall (32/500 ≈ 0.06)
    assert(recall >= 0.25, f"recall $recall%.2f below floor (measured 0.30 at pin time)")
  }

  test("int8 quantization: integer values in [-127,127], max magnitude hits 127") {
    val rows = emb.limit(50)
      .select($"vec_id", Similarity.quantizeInt8($"embedding").as("q")).collect()
    rows.foreach { r =>
      val q = r.getSeq[Double](1)
      assert(q.forall(v => v == math.rint(v) && math.abs(v) <= 127.0))
      // the max-|v| element quantizes to exactly ±127
      assert(q.exists(v => math.abs(v) == 127.0))
    }
  }

  test("quantized top-k closely agrees with exact-cosine top-k") {
    val queries = emb.where($"vec_id" < 20)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, queries, k = 10))
    val quant = pairs(Similarity.quantizedTopK(emb, queries, k = 10))
    val overlap = (exact & quant).size.toDouble / exact.size
    // deterministic: int8 error is bounded by the quantization step, so
    // the top-10 sets agree almost everywhere (measured 0.985 here)
    assert(overlap >= 0.9, s"overlap $overlap too low for int8 quantization")
  }

  test("PQ top-k achieves reasonable recall vs exact L2; codebooks deterministic") {
    val queries = emb.where($"vec_id" < 20)
    // exact L2 ground truth (PQ ranks by squared L2, not cosine)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("d2").asc, col("nbr_id"))
    val exact = emb.select($"vec_id".as("nbr_id"), $"embedding".as("cv"))
      .crossJoin(broadcast(queries.select($"vec_id".as("query_id"), $"embedding".as("qv"))))
      .where($"nbr_id" =!= $"query_id")
      .select($"query_id", $"nbr_id", expr(
        "aggregate(zip_with(cv, qv, (a, b) -> (CAST(a AS DOUBLE) - CAST(b AS DOUBLE)) * (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))), 0.0D, (acc, x) -> acc + x)").as("d2"))
      .withColumn("rank", row_number().over(w)).where($"rank" <= 10)
      .select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val books = Similarity.pqCodebooks(emb)
    val books2 = Similarity.pqCodebooks(emb)
    assert(books.flatten.flatten.toSeq == books2.flatten.flatten.toSeq,
      "codebooks must be deterministic run-to-run")
    val pq = Similarity.pqTopKWith(books, emb, queries, k = 10)
      .select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    // 8×16 codebooks compress 256 bytes → 8 codes; measured ~0.5 here
    assert(recall >= 0.3, s"PQ recall $recall too low")
  }

  test("residual IVF-PQ: recall vs exact L2 >= raw-vector IVF-PQ at equal bytes") {
    val queries = emb.where($"vec_id" < 20)
    val cents = Similarity.kmeansCentroidsByExpr(emb, nlist = 16, iters = 2)
    // equal byte budget: same m=8, k=16 codebook shape for both encodings
    val rawBooks = Similarity.pqCodebooks(emb)
    val resBooks = Similarity.pqResidualCodebooks(cents, emb)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("d2").asc, col("nbr_id"))
    val exact = emb.select($"vec_id".as("nbr_id"), $"embedding".as("cv"))
      .crossJoin(broadcast(queries.select($"vec_id".as("query_id"), $"embedding".as("qv"))))
      .where($"nbr_id" =!= $"query_id")
      .select($"query_id", $"nbr_id", expr(
        "aggregate(zip_with(cv, qv, (a, b) -> (CAST(a AS DOUBLE) - CAST(b AS DOUBLE)) * (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))), 0.0D, (acc, x) -> acc + x)").as("d2"))
      .withColumn("rank", row_number().over(w)).where($"rank" <= 10)
      .select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val raw = pairs(Similarity.ivfPqTopKWith(cents, rawBooks, emb, queries, k = 10))
    val res = pairs(Similarity.ivfPqResidualTopKWith(cents, resBooks, emb, queries, k = 10))
    val rawRecall = (exact & raw).size.toDouble / exact.size
    val resRecall = (exact & res).size.toDouble / exact.size
    // the residual refinement must not cost recall at equal bytes —
    // within-list variance is all the codes have to encode
    assert(resRecall >= rawRecall,
      s"residual recall $resRecall < raw recall $rawRecall at equal bytes")
  }

  test("IVF-PQ returns only probed-list candidates and tracks full-scan PQ") {
    val queries = emb.where($"vec_id" < 20)
    val cents = Similarity.kmeansCentroidsByExpr(emb, nlist = 16, iters = 2)
    val books = Similarity.pqCodebooks(emb)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairs(Similarity.pqTopKWith(books, emb, queries, k = 10))
    val ivfpq = pairs(Similarity.ivfPqTopKWith(cents, books, emb, queries, k = 10))
    // IVF only prunes the candidate set: agreement with the full PQ scan
    // is bounded by coarse recall (measured ~0.8 here at nprobe=4/16)
    val agree = (full & ivfpq).size.toDouble / full.size
    assert(agree >= 0.5, s"IVF-PQ agreement with full-scan PQ $agree too low")
  }

  test("refine tier: exact re-rank recovers recall over unrefined residual IVF-PQ") {
    val queries = emb.where($"vec_id" < 20)
    val cents = Similarity.kmeansCentroidsByExpr(emb, nlist = 16, iters = 2)
    val books = Similarity.pqResidualCodebooks(cents, emb)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth is exact cosine — the metric the refine tier restores
    val exact = pairs(Similarity.bruteForceTopK(emb, queries, k = 10))
    val plain = pairs(Similarity.ivfPqResidualTopKWith(cents, books, emb, queries, k = 10))
    val refined = pairs(Similarity.ivfPqResidualRefineTopKWith(
      cents, books, emb, queries, k = 10, refine = 32))
    val plainRecall = (exact & plain).size.toDouble / exact.size
    val refRecall = (exact & refined).size.toDouble / exact.size
    // equal probe cost (same centroids, books, nprobe): re-ranking the
    // 32-wide ADC shortlist with exact cosine can only keep or promote
    // true neighbors the codes mis-ranked — never lose one
    assert(refRecall >= plainRecall,
      s"refine recall $refRecall < unrefined $plainRecall at equal probe cost")
  }

  test("persisted index round-trip serves exactly the in-memory IVF answers") {
    // the s60 contract in miniature: write the assigned corpus as a
    // partitionBy(list) layout, read it back (floats/doubles and the
    // partition-column type must survive the round-trip), and the
    // probe path over the scan must reproduce the in-memory ranking
    // row for row
    val corpus = graft.sources.Tables.load(spark, SparkTestSession.sf0001, "embeddings")
    val queries = corpus.where($"vec_id" < 5)
    val cents = Similarity.kmeansCentroidsByExpr(corpus, nlist = 16, iters = 2)
    withTempDir("ivf-spec") { dirPath =>
      val dir = dirPath.toString
      Similarity.ivfAssignedByExpr(cents, corpus)
        .write.mode("overwrite").partitionBy("__cid").parquet(dir)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "nbr_id", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val mem = rows(Similarity.ivfTopKByExpr(cents, corpus, queries, k = 10))
      val disk = rows(Similarity.ivfTopKOnIndexByExpr(cents, spark.read.parquet(dir), queries, k = 10))
      assert(mem == disk, s"diverged: mem-only=${(mem -- disk).take(3)} disk-only=${(disk -- mem).take(3)}")
    }
  }

  test("embedDecontaminate drops exactly the brute-force over-threshold set") {
    val emb = spark.read.parquet(s"${graft.SparkTestSession.sf0001}/embeddings.parquet")
    val bench = emb.where(col("vec_id") < 20)
    val corpus = emb.where(col("vec_id") >= 20)
    val kept = Similarity.embedDecontaminate(corpus, bench, 0.35)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // brute-force reference: max cosine against the benchmark per row
    val bvs = bench.select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val n = math.sqrt(na) * math.sqrt(nb); if (n == 0) 0.0 else d / n
    }
    val ref = corpus.select("vec_id", "embedding").collect().map { r =>
      (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)
    }.filter { case (_, v) => !bvs.exists(b => cos(v, b) >= 0.35) }.map(_._1).toSet
    assert(kept == ref, s"kept-only=${(kept -- ref).take(5)} ref-only=${(ref -- kept).take(5)}")
    assert(corpus.count() > kept.size, "threshold should decontaminate something at sf0.001")
  }

  /** The broadcast-regime shuffle trade (SCALING.md r10: 376 → 115 s
    * at sf10/L=137) is only legal because the two distinct placements
    * are EQUIVALENT — duplicate candidates carry identical sims. Pin
    * the equivalence, (i, j, sim) exact. */
  test("verify-then-distinct produces exactly the pre-verify-distinct answer") {
    val emb = spark.read.parquet(s"${graft.SparkTestSession.sf01}/embeddings.parquet")
    def pairs(vtd: Boolean) =
      Similarity.bandedNearDupPairs(emb, 0.35, tables = 8, bitsPerTable = 4,
          verifyThenDistinct = vtd)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = pairs(vtd = false)
    val after = pairs(vtd = true)
    assert(before.nonEmpty)
    assert(before == after,
      s"diverged: pre-only=${(before -- after).take(3)} post-only=${(after -- before).take(3)}")
  }
}
