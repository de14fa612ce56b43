package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.SparkTestSession.withTempDir
import graft.functions.{CentroidFunctions, IvfOps}

/** The IVF kernel's contract: the fused argmax/probe expressions
  * ([[CentroidFunctions]]) answer exactly as driver-side scalar
  * references of the same rules — argmax cosine with ties → the lowest
  * cid ([[IvfOps.argmaxCidD]]), top-nprobe by cosine with ties → the
  * higher cid ([[Similarity.literalProbeCids]]), and an exact top-k over
  * each query's probed lists on the collected corpus — at any nlist,
  * with the matrix riding the plan as ONE Literal and no per-centroid
  * structs, row expansion or centroid join. Test names keep the
  * literal/table tier names these answers were first pinned against;
  * those encodings are gone and the scalar references stand in for
  * them. */
class IvfExprTierSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val emb = spark.read.parquet(s"${SparkTestSession.sf001}/embeddings.parquet")
  lazy val cents16 = Similarity.kmeansCentroidsByExpr(emb, nlist = 16, iters = 2)
  /** The corpus on the driver, in id order: (vec_id, vector). */
  lazy val points: Array[(Long, Array[Double])] = emb.select($"vec_id", $"embedding")
    .collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    .sortBy(_._1)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "nbr_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  /** Scalar IVF top-k: each query's probed lists, candidates assigned
    * by the scalar argmax, scored with the kernels' cosine fold and
    * ranked (sim DESC, nbr_id ASC), self-pairs excluded. */
  private def referenceTopK(cents: Array[Array[Double]], queryIds: Set[Long], k: Int,
                            nprobe: Int = 4): Set[(Long, Long, Int)] = {
    val owner = points.map { case (id, v) => id -> IvfOps.argmaxCidD(v, cents) }.toMap
    points.filter(p => queryIds(p._1)).flatMap { case (qid, qv) =>
      val probed = Similarity.literalProbeCids(cents, Seq(qv), nprobe).toSet
      points.filter { case (id, _) => id != qid && probed(owner(id)) }
        .map { case (id, v) => (id, IvfOps.cosD(qv, v)) }
        .sortBy { case (id, s) => (-s, id) }
        .take(k).zipWithIndex.map { case ((id, _), r) => (qid, id, r + 1) }
    }.toSet
  }

  test("assignment: expression argmax equals the literal struct argmax (ties -> lowest cid)") {
    val ex = Similarity.ivfAssignedByExpr(cents16, emb)
      .select("nbr_id", "__cid").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(ex == points.map { case (id, v) => (id, IvfOps.argmaxCidD(v, cents16)) }.toSet)
  }

  test("assignment: forced score ties go to the LOWEST cid") {
    // duplicate centroids force exact ties on every row: of each equal
    // pair the lower cid must win (strict > over an ascending-cid scan)
    val dup = Array(cents16(0), cents16(0), cents16(1), cents16(1))
    val ex = Similarity.ivfAssignedByExpr(dup, emb)
      .select("nbr_id", "__cid").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(ex == points.map { case (id, v) => (id, IvfOps.argmaxCidD(v, dup)) }.toSet)
    assert(ex.forall { case (_, cid) => cid == 0 || cid == 2 }, ex)
    assert(ex.map(_._2) == Set(0, 2))
  }

  test("NULL vectors: no list, no probes, never a candidate, NULL cluster") {
    // CentroidArgmax/CentroidProbes are null-intolerant: a NULL vector
    // is assigned no list (the retired per-centroid struct argmax gave
    // it cid 0 with a NULL score), so it never equi-joins a probed list
    // and a NULL-vector query returns no rows. No declared query's
    // input holds a NULL vector.
    import TopKEdgeCases._
    val c = corpus(spark)
    val assigned = Similarity.ivfAssignedByExpr(cents, c)
      .select("nbr_id", "__cid").collect().map(r => (r.get(0), r.get(1))).toMap
    assert(assigned(5L) == null)
    assert(assigned(1L) == 0)
    val probes = queries(spark).where($"vec_id" === 9L)
      .select(CentroidFunctions.centroid_probes($"embedding", cents, 2).as("p")).collect()
    assert(probes.length == 1 && probes(0).isNullAt(0))
    val got = Similarity.ivfTopKByExpr(cents, c, queries(spark), k = 20, nprobe = 4)
      .select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty && !got.exists(_._1 == 9L) && !got.exists(_._2 == 5L), got.toSeq)
    val report = Similarity.clusterReport(cents, c.where($"vec_id".isNotNull))
      .collect().map(r => (Option(r.get(0)), r.getLong(1))).toMap
    assert(report(None) == 1L, report)
  }

  test("probe selection: fused top-nprobe equals the literal rule incl. forced score ties") {
    // duplicate centroids force exact ties at nprobe=1: the HIGHER cid
    // must win (the ORDER BY s DESC, cid DESC rule)
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
    val ids = (0L until 8L).toSet
    assert(rows(Similarity.ivfTopKByExpr(cents16, emb, q, k = 10)) == referenceTopK(cents16, ids, 10))
    val c128 = Similarity.kmeansCentroidsByExpr(emb, nlist = 128, iters = 2)
    assert(rows(Similarity.ivfTopKByExpr(c128, emb, q, k = 10)) == referenceTopK(c128, ids, 10))
  }

  test("trainers: expression-assigned kmeans equals the literal trainer at nlist=16 and the table trainer at 128") {
    // the scalar Lloyd (kmeansLocalCentroids: first nlist points in id
    // order, scalar argmax, member means, empty cells keep their seed)
    // is the reference both retired trainers were pinned equal to
    val vs = points.map(_._2)
    Seq(16 -> cents16, 128 -> Similarity.kmeansCentroidsByExpr(emb, nlist = 128, iters = 2))
      .foreach { case (nlist, got) =>
        val want = Similarity.kmeansLocalCentroids(vs, nlist, iters = 2)
        assert(got.length == nlist)
        got.zip(want).foreach { case (a, b) => assert(a.sameElements(b), s"nlist=$nlist") }
      }
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
    assert(rows(Similarity.ivfTopKByExpr(cents16, emb, emb, k = 1, broadcastQueries = false)) ==
      referenceTopK(cents16, points.map(_._1).toSet, 1))
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
