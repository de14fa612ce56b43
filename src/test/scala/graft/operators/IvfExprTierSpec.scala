package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.SparkTestSession.withTempDir
import graft.functions.CentroidFunctions

/** The scan-local EXPRESSION tier's contract: bit-identical answers to
  * the literal tier (where the literal tier can run) and to the table
  * tier (at any nlist), with neither the literal tier's nlist cap nor
  * the table tier's ×nlist row expansion — the matrix rides the plan
  * as ONE Literal and assignment/probing are fused loops in the scan
  * projection. */
class IvfExprTierSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val emb = spark.read.parquet(s"${SparkTestSession.sf001}/embeddings.parquet")
  lazy val cents16 = Similarity.kmeansCentroids(emb, nlist = 16, iters = 2)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "nbr_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("assignment: expression argmax equals the literal struct argmax (ties -> lowest cid)") {
    val lit = Similarity.ivfAssigned(cents16, emb)
      .select("nbr_id", "__cid").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val ex = Similarity.ivfAssignedByExpr(cents16, emb)
      .select("nbr_id", "__cid").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(ex == lit)
  }

  test("probe selection: fused top-nprobe equals the literal rule incl. forced score ties") {
    // duplicate centroids force exact ties at nprobe=1: the HIGHER cid
    // must win (the reverse-array-sort / ORDER BY s DESC, cid DESC rule)
    val dup = Array(cents16(0), cents16(0), cents16(1), cents16(1))
    val q = emb.where($"vec_id" < 6)
    val ex = q.select($"vec_id",
        CentroidFunctions.centroid_probes($"embedding", dup, 1).as("p"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).head)).toSet
    val lit = q.select($"vec_id", $"embedding").collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      (r.getLong(0), Similarity.literalProbeCids(dup, Seq(v), nprobe = 1).head)
    }.toSet
    assert(ex == lit)
    assert(ex.forall { case (_, cid) => cid == 1 || cid == 3 })
    // rank ORDER at nprobe > 1 matches the driver-side selector's order
    val multi = q.select($"vec_id",
        CentroidFunctions.centroid_probes($"embedding", cents16, 4).as("p"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toList)).toMap
    q.select($"vec_id", $"embedding").collect().foreach { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      assert(multi(r.getLong(0)) ==
        Similarity.literalProbeCids(cents16, Seq(v), nprobe = 4).toList)
    }
  }

  test("serving: expression tier equals literal AND table tiers row-for-row") {
    val q = emb.where($"vec_id" < 8)
    val lit = rows(Similarity.ivfTopKWith(cents16, emb, q, k = 10))
    assert(rows(Similarity.ivfTopKByExpr(cents16, emb, q, k = 10)) == lit)
    val c128 = Similarity.kmeansCentroidsByExpr(emb, nlist = 128, iters = 2)
    val tab = rows(Similarity.ivfTopKByTable(Similarity.centroidsDf(spark, c128), emb, q, k = 10))
    assert(rows(Similarity.ivfTopKByExpr(c128, emb, q, k = 10)) == tab)
  }

  test("trainers: expression-assigned kmeans equals the literal trainer at nlist=16 and the table trainer at 128") {
    val ex16 = Similarity.kmeansCentroidsByExpr(emb, nlist = 16, iters = 2)
    ex16.zip(cents16).foreach { case (a, b) => assert(a.sameElements(b)) }
    val ex128 = Similarity.kmeansCentroidsByExpr(emb, nlist = 128, iters = 2)
    val tab128 = Similarity.kmeansCentroidsByTable(emb, nlist = 128, iters = 2)
    assert(ex128.length == 128)
    ex128.zip(tab128).foreach { case (a, b) => assert(a.sameElements(b)) }
  }

  test("nlist=256: scan-local plan — no centroid joins, no literal structs, one Literal matrix") {
    val cents = Similarity.kmeansCentroidsByExpr(emb, nlist = 256, iters = 2)
    assert(cents.length == 256)
    val served = Similarity.ivfTopKByExpr(cents, emb, emb.where($"vec_id" < 3), k = 10)
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("array_sort"), "literal probe structs leaked in")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "centroid-table crossjoin leaked in — the expression tier is scan-local")
    // at 256 lists over 500 vectors occupancy is ~2, so 4 probed lists
    // can hold FEWER than k=10 candidates — correct IVF semantics
    // (fewer results, never wrong ones): each query returns 1..k rows
    // with contiguous ranks
    val got = rows(served)
    val byQ = got.groupBy(_._1)
    assert(byQ.size == 3)
    byQ.foreach { case (q, rs) =>
      val ranks = rs.map(_._3).toList.sorted
      assert(ranks == (1 to ranks.size).toList && ranks.size <= 10,
        s"query $q ranks $ranks")
    }
  }

  test("ivfListsBalanced: the sqrt-law list count for all-query workloads") {
    // n=200k, nprobe=4: sqrt(800k) = 894 -> 2^10 = 1024, the measured
    // optimum (SCALING.md r13: 11.8 s vs occupancy-held 8192's 59.4 s)
    assert(Similarity.ivfListsBalanced(200000L, 4) == 1024)
    // grows as sqrt(n): 100x the corpus ~ 10x (between 8x and 16x) the lists
    assert(Similarity.ivfListsBalanced(20000000L, 4) == 8192)
    // clamped to n for tiny corpora; power-of-two grid throughout
    assert(Similarity.ivfListsBalanced(3L, 4) == 3)
    val l = Similarity.ivfListsBalanced(500L, 4)
    assert((l & (l - 1)) == 0 && l >= 32 && l <= 64)
  }

  test("eval shape: shuffled-query expression tier equals the literal tier") {
    val lit = rows(Similarity.ivfTopKWith(cents16, emb, emb, k = 1, broadcastQueries = false))
    assert(rows(Similarity.ivfTopKByExpr(cents16, emb, emb, k = 1, broadcastQueries = false)) == lit)
  }

  test("rankAgg: bounded TopKAgg ranking equals the window ranking row-for-row incl. sims") {
    // same total order (sim DESC, nbr_id ASC), so ranks AND carried sim
    // values must match — this is the eval-family ranking that avoids
    // sorting the whole candidate stream (the n=2M window sort spilled
    // past the disk; SCALING.md r13 addendum 2). Broadcast queries rank
    // through the fused kernel, shuffled ones through the TopKAgg stream.
    import TopKEdgeCases.full
    val q = emb.where($"vec_id" < 8)
    assert(full(Similarity.ivfTopKByExpr(cents16, emb, q, k = 10, rankAgg = true)) ==
      full(Similarity.ivfTopKByExpr(cents16, emb, q, k = 10)))
    // and on the eval shape itself (k=1, corpus-sized shuffled queries)
    assert(full(Similarity.ivfTopKByExpr(cents16, emb, emb, k = 1,
        broadcastQueries = false, rankAgg = true)) ==
      full(Similarity.ivfTopKByExpr(cents16, emb, emb, k = 1, broadcastQueries = false)))
    // a 4-partition corpus, through both the corpus and the index entry
    val spread = emb.repartition(4)
    assert(spread.rdd.getNumPartitions == 4)
    val window = full(Similarity.ivfTopKByExpr(cents16, spread, q, k = 10))
    assert(full(Similarity.ivfTopKByExpr(cents16, spread, q, k = 10, rankAgg = true)) == window)
    val assigned = Similarity.ivfAssignedByExpr(cents16, spread)
    assert(full(Similarity.ivfTopKOnIndexByExpr(cents16, assigned, q, k = 10,
      rankAgg = true)) == window)
    assert(full(Similarity.ivfTopKOnIndexByExpr(cents16, assigned, q, k = 10,
      broadcastQueries = false, rankAgg = true)) == window)
  }

  test("rankAgg on an on-disk index: the fused kernel reads only the probed lists") {
    import TopKEdgeCases.full
    withTempDir("ivf-fused-index") { dirPath =>
      val dir = dirPath.toString
      Similarity.ivfAssignedByExpr(cents16, emb).write.partitionBy("__cid")
        .mode("overwrite").parquet(dir)
      val index = spark.read.parquet(dir)
      val q = emb.where($"vec_id" < 3)
      val (seen, fused) = GuardListener.watch(spark)(
        full(Similarity.ivfTopKOnIndexByExpr(cents16, index, q, k = 10, rankAgg = true)))
      assert(fused == full(Similarity.ivfTopKOnIndexByExpr(cents16, index, q, k = 10)))
      // the static __cid filter prunes every unprobed list's directory
      assert(seen.plans.exists(_.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("__cid"))), seen.plans)
      assert(seen.shuffleWrite == 0)
    }
  }

  test("rankAgg IVF edges: ties, zero and NULL vectors, self-pairs, big k, empty partitions, duplicate ids") {
    import TopKEdgeCases._
    val c = corpus(spark)
    val q = queries(spark)
    val assigned = Similarity.ivfAssignedByExpr(cents, c)
    Seq(1, 3, 20).foreach { k =>
      val window = windowAnswer(Similarity.ivfTopKByExpr(cents, c, q, k, nprobe = 2))
      assert(window.nonEmpty)
      assert(full(Similarity.ivfTopKByExpr(cents, c, q, k, nprobe = 2, rankAgg = true)) == window,
        s"k=$k")
      assert(full(Similarity.ivfTopKOnIndexByExpr(cents, assigned, q, k, nprobe = 2,
        rankAgg = true)) == window, s"k=$k (index)")
      // the shuffled-query TopKAgg stream agrees too: one tie discipline
      assert(full(Similarity.ivfTopKByExpr(cents, c, q, k, nprobe = 2,
        broadcastQueries = false, rankAgg = true)) == window, s"k=$k (stream)")
    }
    val e = intercept[IllegalArgumentException](Similarity.ivfTopKByExpr(cents,
      c.withColumn("vec_id", $"vec_id".cast("int")), q, 3, nprobe = 2, rankAgg = true))
    assert(e.getMessage.contains("nbr_id must be LONG"), e.getMessage)
  }
}
