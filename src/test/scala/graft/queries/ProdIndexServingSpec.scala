package graft.queries

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.SparkTestSession.withTempDir
import graft.operators.Similarity

/**
 * The PRODUCTION-nlist persisted serving arc (s90/s91/s93): export
 * artifacts, tier equivalences over the persisted index, and the
 * nprobe-for-recall derivation contract.
 */
class ProdIndexServingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val dir = SparkTestSession.sf0001
  private lazy val root = PipelineQueries.ensureIvfProdIndexExport(spark, dir)
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")

  test("export persists the hive-partitioned index plus BOTH quantizer matrices") {
    val nlist = PipelineQueries.prodNlist
    val fine = PipelineQueries.readCentroids(spark, s"$root/centroids")
    val coarse = PipelineQueries.readCentroids(spark, s"$root/coarse", idCol = "kid")
    assert(fine.length === nlist)
    assert(coarse.length === Similarity.coarseListsFor(nlist))
    // the layout the serving scans prune: one hive partition per list
    val listDirs = Option(Paths.get(root, "index").toFile.listFiles())
      .getOrElse(Array.empty).count(_.getName.startsWith("__cid="))
    assert(listDirs > 1 && listDirs <= nlist,
      s"expected __cid= hive partitions, found $listDirs")
    assert(Files.exists(Paths.get(root, "_SUCCESS")))
  }

  test("persisted fine matrix round-trips the deterministic trainer bit-for-bit") {
    // doubles round-trip parquet exactly and the expression-tier
    // trainer is a pure function of the corpus — so a read-back matrix
    // that differs from a same-session retrain means the export wrote
    // a different model than it claims
    val fine = PipelineQueries.readCentroids(spark, s"$root/centroids")
    val retrained = Similarity.kmeansCentroidsByExpr(emb,
      nlist = PipelineQueries.prodNlist, iters = 2)
    assert(fine.length === retrained.length)
    fine.zip(retrained).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a.sameElements(b), s"centroid $i drifted on the round-trip")
    }
    // the coarse matrix is likewise a pure function of the fine one
    val coarse = PipelineQueries.readCentroids(spark, s"$root/coarse", idCol = "kid")
    val recoarse = Similarity.kmeansLocalCentroids(fine,
      Similarity.coarseListsFor(PipelineQueries.prodNlist))
    coarse.zip(recoarse).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a.sameElements(b), s"coarse centroid $i drifted on the round-trip")
    }
  }

  test("hier serving over the persisted index degenerates to flat at cprobe = ncoarse") {
    // with every owned coarse cell probed, the two-level query walk
    // sees every fine list the flat walk sees — answers must be
    // row-identical over the SAME persisted (flat-assigned) index
    val fine = PipelineQueries.readCentroids(spark, s"$root/centroids")
    val coarse = PipelineQueries.readCentroids(spark, s"$root/coarse", idCol = "kid")
    val idx = spark.read.parquet(s"$root/index")
    val q = emb.where($"vec_id" < 5)
    val flat = Similarity.ivfTopKOnIndexByExpr(fine, idx, q, k = 10)
      .select($"query_id", $"nbr_id", $"rank").orderBy("query_id", "rank").collect()
    val hier = Similarity.hierTopKOnIndexByExpr(coarse, fine, idx, q, k = 10,
        cprobe = coarse.length)
      .select($"query_id", $"nbr_id", $"rank").orderBy("query_id", "rank").collect()
    assert(flat.nonEmpty && flat.toSeq === hier.toSeq)
  }

  test("nprobeForRecall: derived config holds its target and reports honest recall") {
    val fine = PipelineQueries.readCentroids(spark, s"$root/centroids")
    val q = emb.where($"vec_id" < 5)
    val cfg = Similarity.nprobeForRecall(emb, q, fine, k = 10, targetRecall = 0.7)
    assert(cfg.recall >= 0.7, s"derived nprobe=${cfg.nprobe} measured ${cfg.recall}")
    assert(cfg.nprobe >= 1 && cfg.nprobe <= fine.length)
    // the derivation picks the SMALLEST visited step that holds the
    // target: the PREVIOUS step the loop actually probed must fall
    // short — otherwise the loop overshot. Replay the loop's own
    // schedule (doubling with a clamp at nlist) rather than assuming
    // nprobe/2: for a non-power-of-two nlist the last step is the
    // clamp and nprobe/2 is a config the loop never visited (ADVICE
    // r14).
    if (cfg.nprobe > 1) {
      val prevStep = Iterator.iterate(1)(n => math.min(n * 2, fine.length))
        .takeWhile(_ < cfg.nprobe).reduceLeft((_, b) => b)
      val prev = Similarity.ivfTopKByExpr(fine, emb, q, k = 10, nprobe = prevStep)
        .select($"query_id", $"nbr_id")
      val truth = Similarity.bruteForceTopK(emb, q, k = 10)
        .select($"query_id", $"nbr_id")
      // denominator derived exactly as nprobeForRecall derives it —
      // |sample|·k when the corpus is larger than k, and robust to a
      // changed sample predicate or k (ADVICE r14)
      val denom = truth.count().toDouble
      val hits = truth.join(prev, Seq("query_id", "nbr_id")).count()
      assert(hits / denom < 0.7,
        s"nprobe=$prevStep already held the target; derivation overshot")
    }
  }

  test("cprobeForRecall: the coarse knob holds the target or stops at the flat ceiling") {
    val fine = PipelineQueries.readCentroids(spark, s"$root/centroids")
    val coarse = PipelineQueries.readCentroids(spark, s"$root/coarse", idCol = "kid")
    val q = emb.where($"vec_id" < 5)
    // nprobe=16 is the flat knob s93 derived for 0.7 on this corpus, so
    // the two-level walk has headroom to buy the target back with cprobe
    val cfg = Similarity.cprobeForRecall(emb, q, coarse, fine, k = 10,
      nprobe = 16, targetRecall = 0.7)
    assert(cfg.cprobe >= 1 && cfg.cprobe <= coarse.length)
    // the loop may stop short of the target ONLY at the structural
    // ceiling (cprobe = ncoarse ≡ the flat walk at the same nprobe)
    if (cfg.recall < 0.7) assert(cfg.cprobe === coarse.length,
      s"stopped at cprobe=${cfg.cprobe} recall=${cfg.recall} below target without hitting the ceiling")
    // at the ceiling the walk IS the flat tier: recall must equal the
    // flat audit's at the same nprobe
    val flat = Similarity.ivfTopKByExpr(fine, emb, q, k = 10, nprobe = 16)
      .select($"query_id", $"nbr_id")
    val truth = Similarity.bruteForceTopK(emb, q, k = 10)
      .select($"query_id", $"nbr_id")
    // denominator from the ground truth itself, as the API derives it
    // — not a hardcoded |sample|·k (ADVICE r14)
    val flatRecall = truth.join(flat, Seq("query_id", "nbr_id")).count() /
      truth.count().toDouble
    val ceiling = Similarity.cprobeForRecall(emb, q, coarse, fine, k = 10,
      nprobe = 16, targetRecall = 1.0)
    assert(ceiling.cprobe === coarse.length || ceiling.recall === 1.0)
    if (ceiling.cprobe === coarse.length)
      assert(math.abs(ceiling.recall - flatRecall) < 1e-9,
        s"ceiling recall ${ceiling.recall} != flat recall $flatRecall")
  }

  test("quantized index: byte carrier round-trips the int8 values bit-for-bit") {
    val stored = spark.read.parquet(s"$root/qindex")
      .select($"nbr_id", $"cvec".cast("array<double>").as("stored"))
    val expected = emb.select($"vec_id".as("nbr_id"),
      graft.operators.Similarity.quantizeInt8($"embedding").as("expected"))
    // tinyint schema is the footprint claim; equality is the losslessness claim
    assert(spark.read.parquet(s"$root/qindex").schema("cvec").dataType ===
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType))
    val mismatches = stored.join(expected, "nbr_id")
      .where(!($"stored" <=> $"expected")).count()
    assert(mismatches === 0L)
  }

  test("quantized serving: exact refine recovers at least the quantized-only recall") {
    // the s62 discipline on the int8 layout: the refine-deep shortlist
    // re-ranked by true cosine must hit the exact top-10 at least as
    // often as serving the quantized scores directly (refine = k keeps
    // the candidate SET equal to the quantized top-10 — re-ranking a
    // set cannot change membership)
    val fine = PipelineQueries.readCentroids(spark, s"$root/centroids")
    val qidx = spark.read.parquet(s"$root/qindex")
    val q = emb.where($"vec_id" < 5)
    val truth = graft.operators.Similarity.bruteForceTopK(emb, q, k = 10)
      .select($"query_id", $"nbr_id")
    def hits(refine: Int): Long =
      truth.join(graft.operators.Similarity
          .ivfQuantizedRefineTopKOnIndexByExpr(fine, qidx, emb, q, k = 10, refine = refine)
          .select($"query_id", $"nbr_id"),
        Seq("query_id", "nbr_id")).count()
    assert(hits(20) >= hits(10),
      "a 20-deep exact re-rank must not lose to quantized-only top-10")
  }

  test("warm-start trainer: cold IS warm-from-firstN; iters=0 returns the seed") {
    import org.apache.spark.sql.functions.col
    val nlist = 16
    val cold = Similarity.kmeansCentroidsByExpr(emb, nlist = nlist, iters = 2)
    val firstN = emb.orderBy(col("vec_id")).limit(nlist)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val warm = Similarity.kmeansCentroidsByExprWarm(emb, firstN, iters = 2)
    assert(cold.length === warm.length)
    cold.zip(warm).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a.sameElements(b), s"cold/warm diverged at centroid $i")
    }
    // the no-op refresh: zero rounds must return the seed values
    val noop = Similarity.kmeansCentroidsByExprWarm(emb, cold, iters = 0)
    cold.zip(noop).foreach { case (a, b) => assert(a.sameElements(b)) }
    // and the returned matrix must not alias the caller's seed array
    val before = cold(0)(0)
    noop(0)(0) += 1.0
    assert(cold(0)(0) === before, "warm trainer must clone its seed")
  }

  // ------------------------- gen2 refresh lifecycle (r15)

  test("gen2 export: refreshed matrices round-trip the warm trainer bit-for-bit") {
    // the persisted refresh must hold exactly what one warm Lloyd
    // round from the gen1 centroids over base ∪ delta computes — a
    // drifted artifact would serve a quantizer nobody trained
    PipelineQueries.ensureIvfProdRefreshExport(spark, dir)
    val fine = PipelineQueries.readCentroids(spark, s"$root/centroids")
    val grown = PipelineQueries.prodGrownCorpus(spark, dir)
    val expect = Similarity.kmeansCentroidsByExprWarm(grown, fine, iters = 1)
    val got = PipelineQueries.readCentroids(spark, s"$root/gen2/centroids")
    assert(got.length === expect.length)
    got.zip(expect).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a.sameElements(b), s"refreshed centroid $i drifted on the gen2 round-trip")
    }
    // the refreshed coarse matrix is likewise a pure function of the
    // refreshed fine one
    val coarse = PipelineQueries.readCentroids(spark, s"$root/gen2/coarse", idCol = "kid")
    val recoarse = Similarity.kmeansLocalCentroids(expect,
      Similarity.coarseListsFor(PipelineQueries.prodNlist))
    coarse.zip(recoarse).foreach { case (a, b) => assert(a.sameElements(b)) }
    // and the layout is the same hive-partition-per-list shape gen1 has
    val listDirs = Option(Paths.get(root, "gen2", "index").toFile.listFiles())
      .getOrElse(Array.empty).count(_.getName.startsWith("__cid="))
    assert(listDirs > 1 && listDirs <= PipelineQueries.prodNlist)
  }

  test("gen2 lifecycle: the generation stamp chains to the base and self-heals on corruption") {
    PipelineQueries.ensureIvfProdRefreshExport(spark, dir)
    val baseStamp = PipelineQueries.genStampOf(root)
    val gen2Stamp = PipelineQueries.genStampOf(s"$root/gen2")
    // refresh-after-append: gen2's identity DERIVES from the base
    // generation's, so a regenerated base (new stamp) invalidates gen2
    // and everything chained to it in one sweep
    assert(gen2Stamp.startsWith(baseStamp) && gen2Stamp != baseStamp,
      s"gen2 stamp must chain to the base stamp: '$gen2Stamp' vs '$baseStamp'")
    // corrupting the gen2 marker (a stale or foreign generation) must
    // force the ensure to rebuild and restore the chained stamp
    RelationalQueries.markFresh(s"$root/gen2", "stale-generation")
    PipelineQueries.ensureIvfProdRefreshExport(spark, dir)
    assert(PipelineQueries.genStampOf(s"$root/gen2") === gen2Stamp)
  }

  test("gen2 lifecycle: a stale-generation delta REFUSES to serve") {
    PipelineQueries.ensureIvfProdGen2DeltaExport(spark, dir)
    val gen2 = s"$root/gen2"
    // the happy path: the gen2-stamped delta serves, and the union
    // holds exactly index + delta rows
    val served = PipelineQueries.guardedDeltaUnion(spark, gen2, s"$gen2/delta")
    val want = spark.read.parquet(s"$gen2/index").count() +
      spark.read.parquet(s"$gen2/delta").count()
    assert(served.count() === want)
    // the refusal: a delta assigned (and stamped) under GEN1 must not
    // serve against gen2 — probing refreshed lists with a stale
    // assignment would be silently wrong, so the union throws instead
    val fine = PipelineQueries.readCentroids(spark, s"$root/centroids")
    val staleDir = s"$gen2/delta-stale-test"
    PipelineQueries.landDelta(
      Similarity.ivfAssignedByExpr(fine, emb.where($"vec_id" < 10)
        .select(($"vec_id" + 3000000L).as("vec_id"), $"embedding")),
      PipelineQueries.genStampOf(root), staleDir) // stamped with GEN1's stamp
    val ex = intercept[IllegalArgumentException] {
      PipelineQueries.guardedDeltaUnion(spark, gen2, staleDir)
    }
    assert(ex.getMessage.contains("stale-generation delta refuses to serve"))
    // an unstamped landing refuses too — no stamp, no service
    Files.deleteIfExists(Paths.get(staleDir, "_SUCCESS"))
    val ex2 = intercept[IllegalArgumentException] {
      PipelineQueries.guardedDeltaUnion(spark, gen2, staleDir)
    }
    assert(ex2.getMessage.contains("no generation stamp"))
    RelationalQueries.wipeDir(staleDir)
  }

  test("gen2 lifecycle: a refresh (new gen2 stamp) forces the chained delta to re-assign") {
    PipelineQueries.ensureIvfProdGen2DeltaExport(spark, dir)
    val gen2 = s"$root/gen2"
    val before = PipelineQueries.genStampOf(s"$gen2/delta")
    // simulate a refresh: rewrite the gen2 stamp (as a base
    // regeneration would, transitively) — the delta is now
    // stale-generation and the ensure must re-land it under the
    // current stamp rather than serve the old assignment
    val refreshedStamp = before + ":simulated-refresh"
    RelationalQueries.markFresh(gen2, refreshedStamp)
    intercept[IllegalArgumentException] {
      PipelineQueries.guardedDeltaUnion(spark, gen2, s"$gen2/delta")
    }
    PipelineQueries.ensureIvfProdGen2DeltaExport(spark, dir)
    // the chain healed: the simulated stamp wasn't the chained one, so
    // the refresh ensure rewrote the generation (restoring the chained
    // stamp) and the delta's stamp check re-agrees with it — serving
    // works again, with assignment and generation consistent
    assert(PipelineQueries.genStampOf(s"$gen2/delta") ===
      PipelineQueries.genStampOf(gen2))
    PipelineQueries.guardedDeltaUnion(spark, gen2, s"$gen2/delta").count()
    // and the delta's OWN staleness branch, actually taken: corrupt
    // the DELTA stamp (a gen1-era landing surviving a refresh) — the
    // union refuses, and the ensure must RE-LAND the delta under the
    // current quantizer (the gen2 generation itself is fresh here, so
    // only the re-landing branch can restore service)
    val before2 = spark.read.parquet(s"$gen2/delta").count()
    RelationalQueries.markFresh(s"$gen2/delta", "gen1-era-landing")
    intercept[IllegalArgumentException] {
      PipelineQueries.guardedDeltaUnion(spark, gen2, s"$gen2/delta")
    }
    PipelineQueries.ensureIvfProdGen2DeltaExport(spark, dir)
    assert(PipelineQueries.genStampOf(s"$gen2/delta") ===
      PipelineQueries.genStampOf(gen2))
    assert(spark.read.parquet(s"$gen2/delta").count() === before2,
      "re-landing must reproduce the same delta rows")
    PipelineQueries.guardedDeltaUnion(spark, gen2, s"$gen2/delta").count()
  }

  test("gen2 hier serving degenerates to gen2 flat at cprobe = ncoarse") {
    // the s91 tier-equivalence claim carried to the NEW generation:
    // over the same gen2-served frame (index ∪ chained delta), the
    // two-level query walk with every owned coarse cell probed must
    // answer row-identically to the flat walk
    PipelineQueries.ensureIvfProdGen2DeltaExport(spark, dir)
    val gen2 = s"$root/gen2"
    val fine = PipelineQueries.readCentroids(spark, s"$gen2/centroids")
    val coarse = PipelineQueries.readCentroids(spark, s"$gen2/coarse", idCol = "kid")
    val served = PipelineQueries.guardedDeltaUnion(spark, gen2, s"$gen2/delta")
    val q = emb.where($"vec_id" < 5)
    val flat = Similarity.ivfTopKOnIndexByExpr(fine, served, q, k = 10)
      .select($"query_id", $"nbr_id", $"rank").orderBy("query_id", "rank").collect()
    val hier = Similarity.hierTopKOnIndexByExpr(coarse, fine, served, q, k = 10,
        cprobe = coarse.length)
      .select($"query_id", $"nbr_id", $"rank").orderBy("query_id", "rank").collect()
    assert(flat.nonEmpty && flat.toSeq === hier.toSeq)
  }

  test("gen3 rollover: the stamp chain is inductive and base-rooted") {
    PipelineQueries.ensureIvfProdGen3DeltaExport(spark, dir)
    val baseStamp = PipelineQueries.genStampOf(root)
    val gen2Stamp = PipelineQueries.genStampOf(s"$root/gen2")
    val gen3Stamp = PipelineQueries.genStampOf(s"$root/gen3")
    // each link derives from the previous by the SAME rule — the
    // construction applied to its own output (r15 verdict item 1)
    assert(gen2Stamp === s"$baseStamp:gen2-refresh-v2")
    assert(gen3Stamp === s"$gen2Stamp:gen3-refresh-v3")
    // ...so the whole lineage is rooted at the base stamp: one base
    // regeneration invalidates gen2, gen3, and every chained delta
    // transitively, in one sweep
    assert(gen3Stamp.startsWith(baseStamp))
    // and each generation's delta is stamped by the generation that
    // assigned it
    assert(PipelineQueries.genStampOf(s"$root/gen3/delta") === gen3Stamp)
    assert(PipelineQueries.genStampOf(s"$root/gen2/delta") === gen2Stamp)
  }

  test("gen3 rollover: a gen2-stamped landing REFUSES to serve against gen3") {
    PipelineQueries.ensureIvfProdGen3DeltaExport(spark, dir)
    val gen3 = s"$root/gen3"
    // happy path first: gen3 ∪ its own delta serves
    val served = PipelineQueries.guardedDeltaUnion(spark, gen3, s"$gen3/delta")
    assert(served.count() === spark.read.parquet(s"$gen3/index").count() +
      spark.read.parquet(s"$gen3/delta").count())
    // a delta assigned under GEN2 must refuse against gen3 — the same
    // refusal the gen1→gen2 link proved, now at the rolled link: what
    // makes rolling generations safe to repeat forever
    val gen2Cents = PipelineQueries.readCentroids(spark, s"$root/gen2/centroids")
    val staleDir = s"$gen3/delta-stale-test"
    PipelineQueries.landDelta(
      Similarity.ivfAssignedByExpr(gen2Cents, emb.where($"vec_id" < 10)
        .select(($"vec_id" + 4000000L).as("vec_id"), $"embedding")),
      PipelineQueries.genStampOf(s"$root/gen2"), staleDir)
    val ex = intercept[IllegalArgumentException] {
      PipelineQueries.guardedDeltaUnion(spark, gen3, staleDir)
    }
    assert(ex.getMessage.contains("stale-generation delta refuses to serve"))
    RelationalQueries.wipeDir(staleDir)
  }

  test("gen3 rollover: gen3's lists hold exactly the frame gen2 serves AFTER deletes") {
    PipelineQueries.ensureIvfProdGen3Export(spark, dir)
    val served = PipelineQueries.deletedServingFrame(spark, s"$root/gen2")
      .select("nbr_id")
    val gen3 = spark.read.parquet(s"$root/gen3/index")
    // row-for-row: the rollover folded (base ∪ delta1 ∪ delta2) MINUS
    // the tombstoned ids into the new generation's clean lists — the
    // delta AND the tombstone set compact away, nothing is lost,
    // nothing else sneaks in, and a deleted row never resurrects
    // (review r16: the gen1 compactor folds tombstonedServingFrame
    // for the same reason)
    assert(gen3.count() === served.count())
    assert(gen3.select("nbr_id").except(served).count() === 0)
    assert(served.except(gen3.select("nbr_id")).count() === 0)
    assert(gen3.where($"nbr_id" % 10 === 7 && $"nbr_id" < 300000000L).count() === 0,
      "a gen2-retired id resurrected into gen3's lists")
    // and the layout is the same hive-partition-per-list shape
    val listDirs = Option(Paths.get(root, "gen3", "index").toFile.listFiles())
      .getOrElse(Array.empty).count(_.getName.startsWith("__cid="))
    assert(listDirs > 1 && listDirs <= PipelineQueries.prodNlist)
    // a corrupted gen3 marker (foreign generation) rebuilds and
    // restores the CHAINED stamp, exactly as the gen2 link does
    val want = PipelineQueries.genStampOf(s"$root/gen3")
    RelationalQueries.markFresh(s"$root/gen3", "foreign-generation")
    PipelineQueries.ensureIvfProdGen3Export(spark, dir)
    assert(PipelineQueries.genStampOf(s"$root/gen3") === want)
  }

  test("gen4 in a scratch dir: the construction applies a THIRD time") {
    // the strongest form of the induction claim: rollGeneration is
    // run once more, on gen3's guarded served frame, into a scratch
    // generation root — no new code path, the SAME function a third
    // time. If this needed anything gen-specific, the chain would not
    // be inductive.
    // roll from gen3's frame AFTER ITS DELETES — exactly as the real
    // gen3 ensure folds gen2's deleted frame (a row retired at any
    // link must never resurrect at the next)
    PipelineQueries.ensureIvfProdGen3TombstoneExport(spark, dir)
    val gen3 = s"$root/gen3"
    withTempDir("gen4") { gen4Path =>
      val gen4 = gen4Path.toString
      val want = s"${PipelineQueries.genStampOf(gen3)}:gen4-refresh-v1"
      PipelineQueries.rollGeneration(spark,
        PipelineQueries.deletedServingFrame(spark, gen3)
          .select($"nbr_id".as("vec_id"), $"cvec".as("embedding")),
        PipelineQueries.readCentroids(spark, s"$gen3/centroids"), gen4, want)
      // the rolled generation holds exactly the frame its input served
      val g4 = spark.read.parquet(s"$gen4/index")
      val srv = PipelineQueries.deletedServingFrame(spark, gen3)
      assert(g4.count() === srv.count())
      assert(g4.select("nbr_id").except(srv.select("nbr_id")).count() === 0)
      // both retire rules are folded out FOR THE ROWS THEY NAMED:
      // tombstones retire ids, not an eternal predicate — ≡3 covered
      // all four arms (gone everywhere), while the ≡7 rule predates
      // delta3, whose ≡7 ids were never retired and rightly survive
      assert(g4.where($"nbr_id" % 10 === 3).count() === 0)
      assert(g4.where($"nbr_id" % 10 === 7 && $"nbr_id" < 300000000L).count() === 0)
      assert(g4.where($"nbr_id" % 10 === 7 && $"nbr_id" >= 300000000L).count() > 0,
        "delta3's post-rule ≡7 ids must survive — a tombstone names rows, not a law")
      // its stamp chains to gen3's, hence transitively to the base —
      // four links now derive from one root stamp
      assert(PipelineQueries.genStampOf(gen4) === want)
      assert(want.startsWith(PipelineQueries.genStampOf(root)))
      // both matrices persist at link 3, so every tier serves: hier at
      // cprobe = ncoarse answers row-identically to flat over gen4
      val fine = PipelineQueries.readCentroids(spark, s"$gen4/centroids")
      val coarse = PipelineQueries.readCentroids(spark, s"$gen4/coarse", idCol = "kid")
      assert(fine.length === PipelineQueries.prodNlist)
      val q = emb.where($"vec_id" < 3)
      val flat = Similarity.ivfTopKOnIndexByExpr(fine, g4, q, k = 10)
        .select($"query_id", $"nbr_id", $"rank").orderBy("query_id", "rank").collect()
      val hier = Similarity.hierTopKOnIndexByExpr(coarse, fine, g4, q, k = 10,
          cprobe = coarse.length)
        .select($"query_id", $"nbr_id", $"rank").orderBy("query_id", "rank").collect()
      assert(flat.nonEmpty && flat.toSeq === hier.toSeq)
      // and a gen3-stamped landing refuses against gen4, as at every link
      val staleDir = s"$gen4/delta-stale-test"
      PipelineQueries.landDelta(
        Similarity.ivfAssignedByExpr(fine, emb.where($"vec_id" < 5)
          .select(($"vec_id" + 5000000L).as("vec_id"), $"embedding")),
        PipelineQueries.genStampOf(gen3), staleDir)
      val ex = intercept[IllegalArgumentException] {
        PipelineQueries.guardedDeltaUnion(spark, gen4, staleDir)
      }
      assert(ex.getMessage.contains("stale-generation delta refuses to serve"))
      RelationalQueries.wipeDir(gen4)
    }
  }

  test("gen3 hier serving degenerates to gen3 flat at cprobe = ncoarse") {
    // the s91/s99 tier-equivalence claim at the ROLLED link: over the
    // gen3-served frame, the two-level walk probing every owned
    // coarse cell must answer row-identically to the flat walk
    PipelineQueries.ensureIvfProdGen3DeltaExport(spark, dir)
    val gen3 = s"$root/gen3"
    val fine = PipelineQueries.readCentroids(spark, s"$gen3/centroids")
    val coarse = PipelineQueries.readCentroids(spark, s"$gen3/coarse", idCol = "kid")
    val served = PipelineQueries.guardedDeltaUnion(spark, gen3, s"$gen3/delta")
    val q = emb.where($"vec_id" < 5)
    val flat = Similarity.ivfTopKOnIndexByExpr(fine, served, q, k = 10)
      .select($"query_id", $"nbr_id", $"rank").orderBy("query_id", "rank").collect()
    val hier = Similarity.hierTopKOnIndexByExpr(coarse, fine, served, q, k = 10,
        cprobe = coarse.length)
      .select($"query_id", $"nbr_id", $"rank").orderBy("query_id", "rank").collect()
    assert(flat.nonEmpty && flat.toSeq === hier.toSeq)
  }

  test("gen2 delete: tombstoned ids vanish; a foreign-stamped set refuses to serve") {
    PipelineQueries.ensureIvfProdGen2TombstoneExport(spark, dir)
    val gen2 = s"$root/gen2"
    // the landing chains to the generation
    assert(PipelineQueries.genStampOf(s"$gen2/tombstones") ===
      PipelineQueries.genStampOf(gen2))
    // serving drops exactly the retired rows — no index file rewritten
    val union = PipelineQueries.guardedDeltaUnion(spark, gen2, s"$gen2/delta")
    val frame = PipelineQueries.deletedServingFrame(spark, s"$root/gen2")
    val retired = spark.read.parquet(s"$gen2/tombstones").count()
    assert(retired > 0, "the deterministic rule must retire some rows")
    assert(frame.count() === union.count() - retired)
    assert(frame.where($"nbr_id" % 10 === 7).count() === 0,
      "every id ≡ 7 mod 10 must be gone from serving")
    // a tombstone set stamped by another generation refuses — deletes
    // name rows in a lineage, and a foreign lineage's ids are not ours
    val want = PipelineQueries.genStampOf(s"$gen2/tombstones")
    RelationalQueries.markFresh(s"$gen2/tombstones", "foreign-generation")
    val ex = intercept[IllegalArgumentException] {
      PipelineQueries.deletedServingFrame(spark, s"$root/gen2")
    }
    assert(ex.getMessage.contains("stale-generation tombstones refuse to serve"))
    // the ensure re-lands them under the current generation
    PipelineQueries.ensureIvfProdGen2TombstoneExport(spark, dir)
    assert(PipelineQueries.genStampOf(s"$gen2/tombstones") === want)
    PipelineQueries.deletedServingFrame(spark, s"$root/gen2").count()
  }

  test("gen3 delete: the second retire rule stacks on the rolled-out first") {
    PipelineQueries.ensureIvfProdGen3TombstoneExport(spark, dir)
    val gen3 = s"$root/gen3"
    // the landing chains to the generation that owns the rows
    assert(PipelineQueries.genStampOf(s"$gen3/tombstones") ===
      PipelineQueries.genStampOf(gen3))
    val union = PipelineQueries.guardedDeltaUnion(spark, gen3, s"$gen3/delta")
    val frame = PipelineQueries.deletedServingFrame(spark, gen3)
    val retired = spark.read.parquet(s"$gen3/tombstones").count()
    assert(retired > 0)
    assert(frame.count() === union.count() - retired)
    // rule 2 live at serve time; rule 1 already folded out at the roll
    assert(frame.where($"nbr_id" % 10 === 3).count() === 0)
    assert(frame.where($"nbr_id" % 10 === 7 && $"nbr_id" < 300000000L).count() === 0)
    // a foreign-stamped set refuses through the SAME generic frame
    val want = PipelineQueries.genStampOf(s"$gen3/tombstones")
    RelationalQueries.markFresh(s"$gen3/tombstones", "foreign-generation")
    val ex = intercept[IllegalArgumentException] {
      PipelineQueries.deletedServingFrame(spark, gen3)
    }
    assert(ex.getMessage.contains("stale-generation tombstones refuse to serve"))
    PipelineQueries.ensureIvfProdGen3TombstoneExport(spark, dir)
    assert(PipelineQueries.genStampOf(s"$gen3/tombstones") === want)
    PipelineQueries.deletedServingFrame(spark, gen3).count()
  }

  test("s98 provenance: the served knob IS nprobeForRecall's output") {
    // the configuration-path claim: run the declared query, then
    // re-derive the config independently — the stashed (served) nprobe
    // must equal the API's output and carry a recall that held the
    // target (the derivation is deterministic: same corpus, same
    // persisted index, same doubling schedule)
    graft.SparkEntry.queries("s98_ann_serving_derived")(spark, dir).collect()
    val (served, servedNp) = OracleStash.get(OracleStash.S98Config).get
    val fine = PipelineQueries.readCentroids(spark, s"$root/centroids")
    val cfg = Similarity.nprobeForRecall(emb, emb.where($"vec_id" < 5), fine,
      k = 10, targetRecall = 0.7,
      index = Some(spark.read.parquet(s"$root/index")))
    assert(servedNp === cfg.nprobe,
      s"served nprobe $servedNp is not the derived ${cfg.nprobe}")
    assert(cfg.recall >= 0.7)
    assert(served.length === fine.length)
  }

  test("s100 provenance: both served knobs ARE the recall APIs' outputs") {
    // the two-knob sizing flow: run the declared query, then re-derive
    // both configs independently over the same persisted index — the
    // stashed (nprobe, cprobe) pair must equal the APIs' outputs (both
    // derivations are deterministic), and the hybrid-path audit over
    // the index must have priced exactly the walk the query serves
    graft.SparkEntry.queries("s100_ann_hier_derived")(spark, dir).collect()
    val (coarse, fine, np, cp) = OracleStash.get(OracleStash.S100Config).get
    val q = emb.where($"vec_id" < 5)
    val idx = spark.read.parquet(s"$root/index")
    val npCfg = Similarity.nprobeForRecall(emb, q, fine, k = 10,
      targetRecall = 0.7, index = Some(idx))
    assert(np === npCfg.nprobe, s"served nprobe $np != derived ${npCfg.nprobe}")
    val cpCfg = Similarity.cprobeForRecall(emb, q, coarse, fine, k = 10,
      nprobe = np, targetRecall = 0.7, index = Some(idx))
    assert(cp === cpCfg.cprobe, s"served cprobe $cp != derived ${cpCfg.cprobe}")
    // the coarse audit may stop short of the target only at its
    // structural ceiling (cprobe = ncoarse ≡ the flat walk at np —
    // whose recall the flat audit already proved ≥ 0.7)
    assert(cpCfg.recall >= 0.7 || cpCfg.cprobe === coarse.length,
      s"cprobe audit stopped at ${cpCfg.cprobe} recall=${cpCfg.recall}")
  }

  test("s102 provenance: every micro-batch serves at the derived knob, InSet sized by it") {
    // the streaming half of the s98 claim (r15 verdict item 2): the
    // knob is derived once per generation and EVERY micro-batch both
    // serves at it and pins its index scan to ≤ 3·derived-nprobe lists
    graft.SparkEntry.queries("s102_stream_ann_serving_derived")(spark, dir).collect()
    val (served, servedNp) = OracleStash.get(OracleStash.S102Config).get
    val fine = PipelineQueries.readCentroids(spark, s"$root/centroids")
    val cfg = Similarity.nprobeForRecall(emb, emb.where($"vec_id" < 5), fine,
      k = 10, targetRecall = 0.7,
      index = Some(spark.read.parquet(s"$root/index")))
    assert(servedNp === cfg.nprobe,
      s"streamed nprobe $servedNp is not the derived ${cfg.nprobe}")
    assert(cfg.recall >= 0.7)
    assert(served.length === fine.length)
    val pins = StreamingQueries.s102BatchPins
    assert(pins.size === 5, s"expected 5 micro-batches, got ${pins.size}")
    pins.values.foreach { case (nq, ncids, inSize, nlist) =>
      assert(nlist === PipelineQueries.prodNlist)
      assert(nq === 3, s"request batch should hold 3 queries, got $nq")
      assert(ncids > 0 && ncids <= nq * servedNp,
        s"probe union $ncids exceeds the structural 3·nprobe=${nq * servedNp} bound")
      assert(inSize === ncids,
        s"batch scan's static In/InSet has $inSize elements, probe union $ncids")
    }
  }

  test("s105 provenance: the rolled generation serves at the knob IT derived") {
    // a rollover REPLACES the quantizer, so the audit must re-run per
    // generation: run the declared query, then re-derive the config
    // over the same gen3 guarded frame — the stashed (served) nprobe
    // must equal the API's output measured on gen3 itself
    graft.SparkEntry.queries("s105_ann_gen3_derived")(spark, dir).collect()
    val (served, servedNp) = OracleStash.get(OracleStash.S105Config).get
    val gen3 = s"$root/gen3"
    val fine = PipelineQueries.readCentroids(spark, s"$gen3/centroids")
    assert(served.length === fine.length)
    val frame = PipelineQueries.guardedDeltaUnion(spark, gen3, s"$gen3/delta")
    val corpus = frame.select($"nbr_id".as("vec_id"), $"cvec".as("embedding"))
    val cfg = Similarity.nprobeForRecall(corpus, emb.where($"vec_id" < 5), fine,
      k = 10, targetRecall = 0.7, index = Some(frame))
    assert(servedNp === cfg.nprobe,
      s"served nprobe $servedNp is not the one gen3 derived (${cfg.nprobe})")
    assert(cfg.recall >= 0.7 || cfg.nprobe === fine.length)
  }

  test("nprobeForRecall: boundary targets degenerate cleanly") {
    val fine = PipelineQueries.readCentroids(spark, s"$root/centroids")
    val q = emb.where($"vec_id" < 3)
    // a trivially low target is held by the first probe
    val lo = Similarity.nprobeForRecall(emb, q, fine, k = 5, targetRecall = 0.001)
    assert(lo.nprobe === 1)
    // target 1.0 terminates (structurally: probing all lists is exact)
    // and reports recall exactly 1
    val hi = Similarity.nprobeForRecall(emb, q, fine, k = 5, targetRecall = 1.0)
    assert(hi.recall === 1.0)
    assert(hi.nprobe <= fine.length)
  }
}
