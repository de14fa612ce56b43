package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over embedding columns (`array<float>`).
 *
 * Scale design: the query set is small and broadcast; the corpus scan
 * stays partitioned, so brute-force top-k is ONE pass over the corpus.
 * With `rankAgg` that pass is the fused kernel ([[FusedTopK]]): each
 * corpus task scores its rows against the broadcast query matrix and
 * keeps ≤ k (sim, nbr_id) per query in primitive buffers, and the
 * driver merges the task partials — no per-pair rows, no shuffle, no
 * sort. Without it, the scored pairs stream through a broadcast join
 * into a window rank (the window form the audit-family callers keep).
 * The LSH variant buckets the corpus by random-hyperplane signature so
 * each query probes only matching buckets — the 100 TB path where even
 * one full pass is too slow. IVF replaces the random planes with
 * k-means centroids; its broadcast-query `rankAgg` path is the same
 * fused kernel, restricted per row to the queries that probe its list.
 *
 * All arithmetic is elementwise-fold in DOUBLE (deterministic, matches
 * the DuckDB oracle bit-for-bit).
 */
object Similarity {

  /** Fused-loop dot product in DOUBLE (native VecDot expression —
    * bit-identical to the zip_with/aggregate fold, without the
    * intermediate array allocation per pair). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vec_dot(a, b)

  /** L2 norm (DOUBLE). */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity (DOUBLE), 0 when either vector is all-zero. */
  def cosine(a: Column, b: Column): Column =
    cosinePrenormed(a, b, norm(a) * norm(b))

  /** Cosine with the norm product supplied (precomputed per side before a
    * pair join, so each row's norm is computed once, not once per pair). */
  def cosinePrenormed(a: Column, b: Column, normProduct: Column): Column =
    when(normProduct === 0.0, lit(0.0)).otherwise(dot(a, b) / normProduct)

  /**
   * Brute-force cosine top-k: for each row of `queries` (small,
   * broadcast), the `k` nearest corpus rows. Deterministic tie-break on
   * corpus id.
   *
   * `rankAgg` ranks through the fused kernel ([[FusedTopK]]): row-for-
   * row the window form's answer, sims included, from one corpus scan
   * with no per-pair rows and no shuffle. That form runs its two jobs
   * (collect the query side, scan the corpus) when CALLED and returns a
   * local DataFrame; the window form stays lazy until its action. The
   * window stays the default: the audit-family callers rank
   * metadata-sized streams where either form is free.
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     rankAgg: Boolean = false): DataFrame =
    if (rankAgg && FusedTopK.applies(corpus, queries, idCol))
      FusedTopK.brute(corpus, queries, k, idCol, vecCol)
    else {
      val c = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("cvec"),
        norm(col(vecCol)).as("cn"))
      val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        norm(col(vecCol)).as("qn"))
      val scored = c.crossJoin(broadcast(q))
        .where(col("nbr_id") =!= col("query_id"))
        .select(col("query_id"), col("nbr_id"),
          cosinePrenormed(col("qvec"), col("cvec"), col("qn") * col("cn")).as("sim"))
      rankCandidates(scored, k, rankAgg)
    }

  /** Deterministic pseudo-random hyperplanes: `nPlanes` × `dim`, values
    * from a seeded LCG mapped to [-1, 1). Fixed forever (stable buckets). */
  private[graft] def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    var s = seed
    def next(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    Array.fill(nPlanes)(Array.fill(dim)(next()))
  }

  /** Sign-of-projection LSH signature (one bit per hyperplane), as int. */
  def lshSignature(vec: Column, nPlanes: Int, dim: Int, seed: Long = 42L): Column = {
    val planes = hyperplanes(nPlanes, dim, seed)
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val plane = array(p.toIndexedSeq.map(lit): _*)
      when(dot(vec, plane) >= 0.0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _).cast("long")
  }

  /**
   * LSH-bucketed approximate top-k: corpus rows are probed only when
   * their signature is within `maxBitDiff` bits of the query's (multi-
   * probe by Hamming ball). Recall < 1 by construction; the companion
   * spec measures it against [[bruteForceTopK]].
   */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nPlanes: Int = 8, dim: Int = 64, maxBitDiff: Int = 1,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("cvec"),
      lshSignature(col(vecCol), nPlanes, dim).as("csig"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      lshSignature(col(vecCol), nPlanes, dim).as("qsig"))
    val cand = c.join(broadcast(q),
      bit_count(col("csig").bitwiseXOR(col("qsig"))) <= maxBitDiff)
      .where(col("nbr_id") =!= col("query_id"))
      .select(col("query_id"), col("nbr_id"), cosine(col("qvec"), col("cvec")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("nbr_id"))
    cand.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("nbr_id"), col("rank").cast("int").as("rank"), col("sim"))
  }

  /**
   * Corpus-sized band width: the number of sign-bits per LSH table that
   * holds expected bucket occupancy near `targetOccupancy` (buckets =
   * 2^bits, occupancy ≈ n/2^bits). With FIXED bits, per-bucket candidate
   * pairs grow as (n/2^bits)² — quadratic in corpus size (measured:
   * 15.7× time at 10× rows, SCALING.md); holding occupancy constant
   * makes candidate cost L·n·occupancy/2 — linear. The trade is recall:
   * per-table collision probability p(sim)^bits falls as bits grow, so
   * a production deployment that must HOLD recall grows the table count
   * L ∝ p^-bits alongside (the classic LSH exponent — sub-quadratic,
   * not linear). The declared queries keep L=8 fixed and size only the
   * bits, documenting recall-for-cost as the chosen trade; the oracle
   * re-derives candidates with the same (L, bits), so the result is
   * exact for whatever sizing is in force. The recall-holding
   * configuration is DEMONSTRATED in SimilaritySpec ("recall-holding
   * LSH"): on the sf0.1 corpus at θ=0.35 (4 137 ground-truth pairs),
   * recall measures 0.733 at (b=4, L=8), collapses to 0.174 at
   * (b=8, L=8), and L = ⌈8·p(0.35)⁻⁴⌉ = 57 restores it to 0.734 at
   * ~7× the candidate cost.
   */
  def lshBitsFor(n: Long, targetOccupancy: Int = 125,
                 minBits: Int = 4, maxBits: Int = 16): Int = {
    val needed = math.ceil(math.log(math.max(1.0, n.toDouble / targetOccupancy)) / math.log(2.0)).toInt
    math.min(maxBits, math.max(minBits, needed))
  }

  /**
   * Occupancy-held IVF list count — the coarse-quantizer sibling of
   * [[lshBitsFor]] (and implemented THROUGH it): lists =
   * 2^clamp(⌈log2(n/targetOccupancy)⌉, minBits, maxBits), clamped to n
   * so a corpus smaller than the floor still trains one centroid per
   * vector at most. Holding per-list occupancy keeps a query's probe
   * cost (~nprobe/nlist of the corpus) constant as the corpus grows.
   * The default maxBits cap is not a bound of the kernel — the fused
   * argmax/probe expressions take any nlist an executor holds, and a
   * caller passes a larger maxBits freely (the index layout and the
   * oracle splice are size-agnostic; s81 serves 128 lists, the probes
   * measured through 1024+). It stays because the declared gate-nlist
   * queries (s80, the curated index) were built and oracle-checked at
   * it.
   */
  def ivfListsFor(n: Long, targetOccupancy: Int = 16,
                  minBits: Int = 4, maxBits: Int = 5): Int =
    math.min(math.max(1L, n),
      1L << lshBitsFor(n, targetOccupancy, minBits, maxBits)).toInt

  /**
   * COST-balanced IVF list count for all-query workloads — the √-law
   * sibling of [[ivfListsFor]]'s occupancy rule, for the eval/batch
   * shape where every corpus vector is also a query (s82/s84, d74's
   * semantic-dedup probes). Per-query cost there is quantizer scoring
   * (nlist·d) plus candidate scoring (nprobe·(n/nlist)·d); the sum is
   * minimized at nlist* = √(n·nprobe), and holding OCCUPANCY instead
   * (nlist ∝ n) grows the quantizer term linearly until it dominates.
   * Measured (SCALING.md r13, same-session pair at n=200 000,
   * nprobe=4, √-law says 894): nlist=1024 evals in 11.8 s where
   * occupancy-16's nlist=8192 takes 59.4 s — the 8× candidate saving
   * no longer pays for the 8× quantizer scoring. Rounded to the
   * nearest power of two so list counts stay comparable with
   * [[ivfListsFor]]'s grid; clamped to [1, n] the same way. For the
   * few-queries serving shape (s81/s83) the quantizer term is
   * per-QUERY, not per-corpus-row, and occupancy-held stays right —
   * which is why both rules exist.
   */
  def ivfListsBalanced(n: Long, nprobe: Int = 4): Int = {
    require(n >= 1 && nprobe >= 1, s"need n >= 1, nprobe >= 1; got n=$n nprobe=$nprobe")
    val star = math.sqrt(n.toDouble * nprobe)
    val bits = math.round(math.log(star) / math.log(2.0)).toInt
    math.min(math.max(1L, n), 1L << math.max(0, bits)).toInt
  }

  /** Hyperplane-LSH collision probability for a pair AT the verify
    * threshold: p = 1 − acos(θ)/π (one random hyperplane separates two
    * vectors with probability angle/π). The quantity every (b, L)
    * sizing rule in this file is computed from. Domain (−1, 1]:
    * threshold = 1 (exact-direction duplicates) is legal — p = 1, so
    * any single table catches every duplicate and [[tablesForRecall]]
    * degenerates to L = 1; threshold = −1 is rejected (p = 0 — an
    * opposite-direction pair NEVER collides, so no L holds recall). */
  def collisionProb(threshold: Double): Double = {
    require(threshold > -1.0 && threshold <= 1.0,
      s"cosine threshold must be in (-1, 1], got $threshold")
    1.0 - math.acos(threshold) / math.Pi
  }

  /**
   * Table count L that HOLDS recall at band width `bits`: the OR-
   * construction's recall for a pair at the threshold is 1−(1−p^b)^L,
   * so the smallest L meeting `targetRecall` is
   * L = ⌈ln(1−r) / ln(1−p^b)⌉. This is the missing half of
   * [[lshBitsFor]]: occupancy-held band widths keep candidate cost
   * linear in the corpus but drop per-table collision odds to p^b, so
   * a deployment that must HOLD recall grows L alongside — the classic
   * sub-quadratic-but-not-linear LSH exponent. Measured at three
   * scales (SCALING.md r10): at sf10/b=11 the fixed shipped L=8
   * collapses to recall 0.061 while the held count restores 0.854 ≈
   * the sf0.1 baseline. Pairs ABOVE the threshold collide more often
   * (p rises with similarity), so the target is a floor for exactly-at-
   * threshold pairs and conservative for everything a dedup actually
   * keeps.
   */
  def tablesForRecall(threshold: Double, bits: Int, targetRecall: Double = 0.85): Int = {
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall must be in (0, 1), got $targetRecall")
    require(bits >= 1, s"bits must be >= 1, got $bits")
    val pb = math.pow(collisionProb(threshold), bits)
    math.max(1, math.ceil(math.log1p(-targetRecall) / math.log1p(-pb)).toInt)
  }

  /** The three knobs SCALING.md r10 measured must move TOGETHER for the
    * production near-dup deployment: table count, band width, distinct
    * placement. [[recallHeldConfig]] derives them; the d73 oracle
    * splices `tables`/`bits` to recompute candidates independently. */
  case class LshConfig(tables: Int, bits: Int, verifyThenDistinct: Boolean)

  /**
   * Whether the verify stage's vector build side will BROADCAST under
   * the session's CURRENT autoBroadcastJoinThreshold — the regime
   * signal that decides distinct placement. Uses the optimizer's own
   * size estimate of exactly the projection [[bandedNearDupPairs]]
   * builds for the verify join, so the decision mirrors the planner's
   * broadcast choice instead of guessing at it.
   *
   * Why the regime decides (both directions MEASURED, SCALING.md):
   *  - shuffled-verify regime (vectors too big to broadcast): the
   *    pre-verify distinct's job is shrinking the input to two
   *    SortMergeJoins — moving it after the verify measured WORSE,
   *    80 → 103 s (r8, sf10 partition-scaled d36).
   *  - broadcast regime (metadata-sized vectors — the recall-holding
   *    deployment raises the threshold for exactly this): the verify
   *    is map-side, the pre-verify distinct is the only remaining
   *    full-candidate-stream shuffle, and moving the dedupe after the
   *    verify shrinks that shuffle to the θ-survivors — 376 → 115 s
   *    with bit-identical output (r10, sf10/L=137, ~17 GB disk
   *    transient eliminated).
   *
   * Boundary caveat: this reads the optimizer's STATIC size estimate
   * of the projection; AQE re-plans the verify join from runtime
   * stats and can flip the physical regime when the actual size lands
   * on the other side of the threshold. Output is placement-
   * independent (spec-pinned identical), so a boundary flip costs
   * only the non-preferred shuffle shape, never correctness.
   */
  def vectorSideBroadcasts(df: DataFrame,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): Boolean = {
    val side = df.select(col(idCol), col(vecCol), norm(col(vecCol)))
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    threshold > 0 &&
      side.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(threshold)
  }

  /**
   * The PRODUCTION near-dup configuration as one derivation — corpus-
   * sized band width ([[lshBitsFor]]), recall-holding table count
   * ([[tablesForRecall]]), regime-derived distinct placement
   * ([[vectorSideBroadcasts]]). Until round 11 the measured-good sf10
   * configuration (recall 0.854, 115 s) was reachable only by reading
   * SCALING.md and hand-computing L; this makes it callable.
   * `corpusSize` skips the count pass when the caller already knows n
   * (at 100 TB the count is parquet-footer metadata either way).
   *
   * Threshold domain (−1, 1] — inherited from [[collisionProb]]. The
   * θ = 1 boundary (exact-direction duplicates) degenerates cleanly:
   * p = 1 so the derived L is 1, matching [[bandedNearDupPairs]]'s
   * documented acceptance of threshold = 1.0.
   */
  def recallHeldConfig(df: DataFrame, threshold: Double,
                       targetRecall: Double = 0.85,
                       corpusSize: Option[Long] = None,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): LshConfig = {
    val n = corpusSize.getOrElse(df.count())
    val bits = lshBitsFor(n)
    LshConfig(tablesForRecall(threshold, bits, targetRecall), bits,
      vectorSideBroadcasts(df, idCol, vecCol))
  }

  /** One-call production preset: [[recallHeldConfig]] fed into
    * [[bandedNearDupPairs]]. Pass a precomputed `config` to splice the
    * same knobs elsewhere (the d73 oracle re-derives candidates from
    * them). Output is placement-independent (spec-pinned identical);
    * only the shuffle shape differs by regime. Threshold domain
    * (−1, 1], as [[recallHeldConfig]] — θ = 1 derives L = 1. */
  def recallHeldNearDupPairs(df: DataFrame, threshold: Double,
                             targetRecall: Double = 0.85, dim: Int = 64,
                             idCol: String = "vec_id", vecCol: String = "embedding",
                             config: Option[LshConfig] = None): DataFrame = {
    val cfg = config.getOrElse(
      recallHeldConfig(df, threshold, targetRecall, None, idCol, vecCol))
    bandedNearDupPairs(df, threshold, cfg.tables, cfg.bits, dim,
      idCol, vecCol, cfg.verifyThenDistinct)
  }

  /**
   * Banded (OR-construction) hyperplane LSH near-dup pairs: `tables`
   * independent hash tables of `bitsPerTable` sign-bits each; two docs
   * become candidates when they agree on ALL bits of ANY table, then an
   * exact cosine verify applies `threshold`. Recall = 1-(1-p^b)^L with
   * p = 1-θ/π — tune (L, b) to the threshold. This is the production
   * near-dup path at 100 TB: candidates come from L equi-joins on
   * (table, signature) — no O(n²) pair scan anywhere — and the vectors
   * are joined back only for surviving candidate pairs. The single-table
   * variant ([[nearDupPairs]] `useLsh`) is the degenerate L=1 case.
   *
   * `verifyThenDistinct`: dedupe candidate pairs AFTER the cosine
   * verify instead of before. Tried-and-rejected in the SHUFFLED-
   * verify regime (SCALING.md r8: the pre-verify distinct's job is
   * shrinking the input to the vector-payload joins), but when the
   * vector side BROADCASTS (metadata-sized corpus vectors — the
   * recall-holding deployment raises the threshold for exactly this)
   * the verify is map-side and the pre-verify distinct is the only
   * remaining full-candidate-stream shuffle; moving it after the
   * verify shrinks that shuffle to the θ-survivors (SCALING.md r10
   * measures the pair). Results are identical either way — duplicate
   * candidates carry identical sims — so the default stays the
   * shuffle-safe pre-verify form.
   */
  def bandedNearDupPairs(df: DataFrame, threshold: Double,
                         tables: Int = 8, bitsPerTable: Int = 4, dim: Int = 64,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         verifyThenDistinct: Boolean = false): DataFrame = {
    // loud footgun guard (r11): a FIXED table count at a corpus-sized
    // band width silently collapses recall as the corpus grows
    // (measured 0.242 → 0.061 across a decade at L=8, SCALING.md) —
    // warn when the requested (L, b)'s theoretical at-threshold recall
    // is under 0.5 and point at the first-class derivation. Results
    // stay exact for whatever sizing is in force (the oracle
    // re-derives candidates at the same knobs); only RECALL is at
    // stake, which is why this warns instead of failing — and why the
    // guard must not NARROW the operator's domain: collisionProb's
    // require rejects thresholds at/under −1, but θ = −1 (and any
    // out-of-range caller value) is still legal for the raw
    // candidate+verify machinery, so the guard simply skips there
    // (θ = 1 passes through collisionProb with p = 1 and can never
    // warn — recall is exactly 1 at any L ≥ 1).
    if (threshold > -1.0 && threshold <= 1.0) {
      val theoreticalRecall =
        1.0 - math.pow(1.0 - math.pow(collisionProb(threshold), bitsPerTable), tables)
      if (theoreticalRecall < 0.5)
        org.slf4j.LoggerFactory.getLogger(Similarity.getClass).warn(
          f"bandedNearDupPairs(threshold=$threshold%.2f, tables=$tables, " +
            f"bits=$bitsPerTable): theoretical at-threshold recall is " +
            f"$theoreticalRecall%.3f — hold it with Similarity.recallHeldConfig/" +
            f"tablesForRecall (L=${tablesForRecall(threshold, bitsPerTable)} " +
            f"for 0.85 at this width; SCALING.md r10/r11)")
    }
    val planes = hyperplanes(tables * bitsPerTable, dim)
    def tableSig(vec: Column, t: Int): Column =
      (0 until bitsPerTable).map { k =>
        when(dot(vec, array(planes(t * bitsPerTable + k).toIndexedSeq.map(lit): _*)) >= 0.0,
          lit(1L << k)).otherwise(lit(0L))
      }.reduce(_ + _)
    // signatures only — the 8-byte (tbl, sig) rows shuffle; vectors don't.
    // Persisted because both self-join sides consume it: without the
    // cache each side re-evaluates all L*b plane dot products per row
    // and re-scans the source. (Tiny: L rows of 3 longs per doc. The
    // vector re-join below deliberately re-SCANS instead of caching —
    // pinning the full corpus of vectors in memory is not the 100 TB
    // trade.) The cache entry lives until released: call
    // `spark.catalog.clearCache()` (or graft.SessionHygiene.sweep,
    // which Bench/Verify run per query) once results are consumed.
    val banded = df.select(col(idCol).as("id"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"), tableSig(col(vecCol), t).as("sig"))): _*)).as("ts"))
      .select(col("id"), col("ts.tbl").as("tbl"), col("ts.sig").as("sig"))
      .persist()
    val candsRaw = banded.toDF("i", "tbl", "sig")
      .join(banded.toDF("j", "tbl", "sig"), Seq("tbl", "sig"))
      .where(col("i") < col("j"))
      .select("i", "j")
    val cands = if (verifyThenDistinct) candsRaw else candsRaw.distinct()
    val va = df.select(col(idCol).as("i"), col(vecCol).as("v_i"), norm(col(vecCol)).as("n_i"))
    val vb = df.select(col(idCol).as("j"), col(vecCol).as("v_j"), norm(col(vecCol)).as("n_j"))
    val verified = cands.join(va, "i").join(vb, "j")
      .select(col("i"), col("j"),
        cosinePrenormed(col("v_i"), col("v_j"), col("n_i") * col("n_j")).as("sim"))
      .where(col("sim") >= threshold)
    // post-verify dedupe: duplicate (i, j) candidates carry identical
    // sims, so any representative is THE answer
    if (verifyThenDistinct) verified.dropDuplicates("i", "j") else verified
  }

  // ------------------------------------------ IVF (flat coarse quantizer)
  //
  // One kernel per semantics: assignment is argmax cosine with ties →
  // the LOWEST cid ([[graft.functions.CentroidArgmax]]), probe selection
  // is the top-nprobe by cosine with ties → the HIGHER cid
  // ([[graft.functions.CentroidProbes]]). The whole centroid matrix
  // rides the plan as ONE Literal and both are fused loops inside the
  // scan projection — no ×nlist row expansion, no aggregation, no
  // join-back, at any nlist an executor holds (the matrix ships once
  // per stage with the plan). Every spliced-centroid DuckDB oracle
  // recomputes the same arithmetic and tie-breaks; IvfExprTierSpec pins
  // the kernels against driver-side scalar references.

  /**
   * Deterministic spherical k-means coarse quantizer for IVF: seeds are
   * the first `nlist` corpus vectors by id, then `iters` Lloyd rounds
   * (assign by max cosine through the fused argmax, re-average,
   * renormalize implicitly via cosine). Each round is one scan
   * projection plus the (nlist × dim)-row update aggregate; only the
   * centroids (nlist × dim doubles — metadata-sized) ever reach the
   * driver, the corpus is never collected.
   */
  def kmeansCentroidsByExpr(corpus: DataFrame, nlist: Int, iters: Int = 2,
                            idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Double]] =
    lloydRounds(corpus, nlist, iters, idCol, vecCol, argmaxAssign(vecCol))

  /** [[kmeansCentroidsByExpr]] WARM-STARTED from an existing matrix —
    * the index REFRESH trainer: after enough appends the frozen
    * quantizer drifts off the grown corpus, and the production move is
    * a few Lloyd rounds seeded from the CURRENT centroids over the
    * CURRENT corpus, not a cold retrain (cold pays iters× the full
    * n·nlist scan to rediscover what the old matrix already knows;
    * warm converges in 1-2 rounds because the seed is already near the
    * optimum). Cost per round is identical to the cold trainer's; the
    * saving is in ROUNDS. Same update fold, same empty-cell rule, and
    * the cold trainer is exactly this function seeded with the first
    * nlist rows (spec-pinned bit-equal), so warm-vs-cold cannot drift
    * semantically. iters=0 returns the seed unchanged (the no-op
    * refresh, spec-pinned). */
  def kmeansCentroidsByExprWarm(corpus: DataFrame, init: Array[Array[Double]],
                                iters: Int = 1,
                                vecCol: String = "embedding"): Array[Array[Double]] = {
    require(init.nonEmpty, "warm start needs a non-empty seed matrix")
    lloydRoundsFrom(corpus, init, iters, vecCol, argmaxAssign(vecCol))
  }

  private def argmaxAssign(vecCol: String): (DataFrame, Array[Array[Double]]) => DataFrame =
    (df, cents) => df.withColumn("__cid",
      graft.functions.CentroidFunctions.centroid_argmax(col(vecCol), cents))

  private def lloydRounds(corpus: DataFrame, nlist: Int, iters: Int,
                          idCol: String, vecCol: String,
                          assign: (DataFrame, Array[Array[Double]]) => DataFrame): Array[Array[Double]] = {
    val init: Array[Array[Double]] = corpus.orderBy(col(idCol)).limit(nlist)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    lloydRoundsFrom(corpus, init, iters, vecCol, assign)
  }

  /** The Lloyd loop from an EXPLICIT initial matrix — the warm-start
    * entry ([[kmeansCentroidsByExprWarm]]); [[lloydRounds]] is this
    * seeded with the first nlist rows in id order, so the cold trainers
    * are warm-from-firstN by construction (spec-pinned bit-equal).
    * Update rule unchanged: member mean per dimension, an empty cell
    * keeps its previous centroid. */
  private def lloydRoundsFrom(corpus: DataFrame, init: Array[Array[Double]],
                              iters: Int, vecCol: String,
                              assign: (DataFrame, Array[Array[Double]]) => DataFrame): Array[Array[Double]] = {
    var centroids: Array[Array[Double]] = init.map(_.clone())
    var it = 0
    while (it < iters) {
      val assigned = assign(corpus, centroids)
      val sums = assigned
        .select(col("__cid"), posexplode(col(vecCol)))
        .groupBy(col("__cid"), col("pos"))
        .agg(sum(col("col").cast("double")).as("s"), count(lit(1)).as("n"))
        .collect()
      val dim = centroids(0).length
      val next = Array.tabulate(centroids.length)(i => centroids(i).clone())
      sums.groupBy(_.getInt(0)).foreach { case (cid, rows) =>
        val c = new Array[Double](dim)
        rows.foreach(r => c(r.getInt(1)) = r.getLong(3) match {
          case 0 => 0.0
          case n => r.getDouble(2) / n
        })
        next(cid) = c
      }
      centroids = next
      it += 1
    }
    centroids
  }

  /**
   * Per-cluster corpus report over a fitted quantizer: size, lowest
   * member id, and the DECIMAL-folded sum of member cosines to the
   * owning centroid (the inertia-style cohesion signal a curation
   * pipeline buckets by — SemDeDup-family clustering reads exactly
   * this table to pick prototype-dense clusters). One corpus pass:
   * the fused argmax picks the cluster, the member cosine is the
   * same `vec_dot` fold against that one centroid, and the only
   * exchange is the ≤nlist-group aggregation. A NULL vector has no
   * cluster (NULL cid, NULL sim) and lands in the NULL group.
   */
  def clusterReport(centroids: Array[Array[Double]], corpus: DataFrame,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val fns = graft.functions.CentroidFunctions
    corpus
      .select(col(idCol), col(vecCol), fns.centroid_argmax(col(vecCol), centroids).as("cid"))
      .select(col(idCol), col(vecCol), col("cid"),
        element_at(fns.centsLit(centroids), col("cid") + 1).as("__c"))
      .select(col(idCol), col("cid"), cosine(col(vecCol), col("__c")).as("sim"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col(idCol)).as("first_vec"),
        sum(expr("CAST(round(sim, 6) AS DECIMAL(18,6))")).cast("double").as("sum_sim"))
      .orderBy("cid")
  }

  /** The assigned-corpus shape every IVF serving path consumes:
    * (nbr_id, cvec, cn, __cid) — vector, precomputed norm, owning list
    * ([[graft.functions.CentroidArgmax]]). [[ivfTopKByExpr]] computes
    * it inline; [[ivfTopKOnIndexByExpr]] reads it back from a persisted
    * `partitionBy(__cid)` index layout. `payloadCols` are carried
    * through verbatim — the production index-with-payload layout (a
    * refine tier re-ranks against the stored source text /
    * full-precision vectors without a second corpus join). */
  def ivfAssignedByExpr(cents: Array[Array[Double]], corpus: DataFrame,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        payloadCols: Seq[String] = Nil): DataFrame =
    corpus.select(Seq(col(idCol).as("nbr_id"), col(vecCol).as("cvec"),
      norm(col(vecCol)).as("cn"),
      graft.functions.CentroidFunctions.centroid_argmax(col(vecCol), cents).as("__cid")) ++
      payloadCols.map(col): _*)

  /**
   * Driver-side probe selection for LITERAL queries (the serving-layer
   * shape: query vectors come from a user request, not a table, so
   * their nprobe nearest centroid ids are known before planning).
   * Replicates [[graft.functions.CentroidProbes]]'s tie-break exactly —
   * cosine descending, then centroid id descending — so a scan
   * restricted to these lists is a superset of everything the probe
   * join touches. The caller pushes the result as a STATIC
   * `__cid IN (...)` filter onto the index scan: partition pruning at
   * PLANNING time, with no DPP machinery needed (DPP cannot fire from a
   * LocalRelation probe side — there is no scan on the build side to
   * size the benefit against).
   */
  def literalProbeCids(centroids: Array[Array[Double]],
                       queries: Seq[Array[Double]], nprobe: Int = 4): Seq[Int] = {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val n = math.sqrt(na) * math.sqrt(nb)
      if (n == 0.0) 0.0 else dot / n
    }
    queries.flatMap { q =>
      centroids.zipWithIndex
        .map { case (c, i) => (cos(q, c), i) }
        .sortBy { case (s, i) => (-s, -i) }
        .take(nprobe).map(_._2)
    }.distinct
  }

  /** The probe-assignment + candidate-scoring stage shared by the batch
    * rank paths and the STREAMING serving path (s77): each query
    * explodes to its nprobe probe ids (one fused top-nprobe loop in its
    * own scan projection — explode of a ≤nprobe array is the only
    * expansion anywhere) and scores the probed lists' candidates by
    * exact cosine. Everything up to the per-query ranking, which batch
    * does with a window or TopKAgg and streaming with bounded TopKAgg
    * state. ONE definition: the streaming oracle's premise is that
    * streaming must not change the answer, so the stream path may not
    * drift from this stage. `broadcastQueries` is the one legal
    * difference — a stream side cannot carry a broadcast hint (and
    * drives the join instead). */
  private[graft] def ivfCandidatesByExpr(c: DataFrame, cents: Array[Array[Double]],
                                         queries: DataFrame, nprobe: Int,
                                         idCol: String = "vec_id",
                                         vecCol: String = "embedding",
                                         broadcastQueries: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      norm(col(vecCol)).as("qn"),
      explode(graft.functions.CentroidFunctions.centroid_probes(col(vecCol), cents, nprobe))
        .as("__cid"))
    c.join(if (broadcastQueries) broadcast(q) else q, Seq("__cid"))
      .where(col("nbr_id") =!= col("query_id"))
      .select(col("query_id"), col("nbr_id"),
        cosinePrenormed(col("qvec"), col("cvec"), col("qn") * col("cn")).as("sim"))
  }

  /**
   * IVF (inverted-file) ANN over PRECOMPUTED centroids: corpus vectors
   * are bucketed by nearest centroid; each query probes only its
   * `nprobe` nearest lists, so the probe join is an equi-join on the
   * list id scanning ~nprobe/nlist of the corpus per query. The caller
   * holds the (deterministic) quantizer, so an oracle can recompute the
   * same probe logic independently (the s37 oracle splices exactly
   * these centroids into DuckDB SQL as literals).
   *
   * `broadcastQueries = false` when the query side is corpus-sized
   * (leave-one-out evals, batch re-embedding): the probe join then
   * shuffles both sides on the list id instead of collecting every
   * query vector to the driver for a broadcast. With `rankAgg` and
   * broadcast queries it ranks through the fused kernel
   * ([[FusedTopK]]), which runs when called, as [[bruteForceTopK]]
   * describes.
   */
  def ivfTopKByExpr(cents: Array[Array[Double]], corpus: DataFrame, queries: DataFrame,
                    k: Int, nprobe: Int = 4,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    broadcastQueries: Boolean = true,
                    rankAgg: Boolean = false): DataFrame = {
    val assigned = ivfAssignedByExpr(cents, corpus, idCol, vecCol)
    if (rankAgg && broadcastQueries && FusedTopK.applies(corpus, queries, idCol))
      FusedTopK.ivf(assigned, cents, queries, k, nprobe, idCol, vecCol, pruneLists = false)
    else rankCandidates(ivfCandidatesByExpr(assigned,
      cents, queries, nprobe, idCol, vecCol, broadcastQueries), k, rankAgg)
  }

  /** IVF probe/rank over an ALREADY-ASSIGNED corpus in the
    * [[ivfAssignedByExpr]] shape. When that frame is a scan of a
    * `partitionBy(__cid)` index layout, the broadcast probe join on the
    * partition column lets dynamic partition pruning skip every
    * unprobed list's directory — the on-disk IVF read path. With
    * `rankAgg` and broadcast queries the fused kernel reads only the
    * probed lists (a static `__cid IN (...)` filter, partition pruning
    * at planning time) and runs when called, as [[bruteForceTopK]]
    * describes. */
  def ivfTopKOnIndexByExpr(cents: Array[Array[Double]], assigned: DataFrame,
                           queries: DataFrame, k: Int, nprobe: Int = 4,
                           idCol: String = "vec_id", vecCol: String = "embedding",
                           broadcastQueries: Boolean = true,
                           rankAgg: Boolean = false): DataFrame =
    if (rankAgg && broadcastQueries && FusedTopK.applies(assigned, queries, idCol))
      FusedTopK.ivf(assigned, cents, queries, k, nprobe, idCol, vecCol, pruneLists = true)
    else rankCandidates(ivfCandidatesByExpr(assigned, cents, queries, nprobe,
      idCol, vecCol, broadcastQueries), k, rankAgg)

  /** The shared final ranking of a scored candidate stream
    * (query_id, nbr_id, sim) → top-k with the (sim DESC, nbr_id)
    * tie-break every ANN oracle in this codebase encodes. Where the
    * query set is broadcast, `rankAgg` never builds this stream: the
    * fused kernel ([[FusedTopK]]) ranks inside the corpus scan. What
    * reaches here is the window form, the shuffled-query forms
    * (`broadcastQueries = false`), streaming inputs, and the
    * hierarchical tier.
    *
    * `viaAgg` picks the BOUNDED-BUFFER form ([[graft.functions.TopKAgg]]
    * — the identical total order, so answers are row-for-row equal on
    * the family's candidate streams, spec-pinned incl. sims): the
    * window form sorts the ENTIRE candidate stream after shuffling it,
    * which is the eval-scale chokepoint — at n=2 M × nlist=2048 the
    * every-vector-is-a-query candidate stream is ~8·10⁹ rows and the
    * window sort spilled past this box's disk (measured as a crash,
    * SCALING.md r13 addendum 2), while the bounded buffers carry ≤ k
    * rows per query per partition through the exchange and sort
    * nothing. The window form stays the default for the few-queries
    * serving shape where its cost is trivial and plans stay
    * WholeStageCodegen-simple.
    *
    * Two scoped differences from the window form, enforced rather than
    * discovered: (a) the buffers key ids as LONG ([[requireLongNbr]] —
    * a non-long idCol would otherwise widen or fail inside the
    * encoder); (b) NULL sims (a NULL vector on either side) are dropped
    * by the buffers where `desc` nulls-last window ranking would emit
    * them in underfull groups. The fused kernel keeps both. */
  private def rankCandidates(cand: DataFrame, k: Int,
                             viaAgg: Boolean = false): DataFrame =
    if (!viaAgg) {
      val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("nbr_id"))
      cand.withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select(col("query_id"), col("nbr_id"), col("rank").cast("int").as("rank"), col("sim"))
    } else {
      requireLongNbr(cand.schema("nbr_id").dataType)
      cand.groupBy(col("query_id"))
        .agg(graft.functions.TopKAgg.top_k(col("sim"), col("nbr_id"), k).as("tk"))
        .select(col("query_id"), posexplode(col("tk")))
        .select(col("query_id"), col("col._2").as("nbr_id"),
          (col("pos") + 1).cast("int").as("rank"), col("col._1").as("sim"))
    }

  /** The bounded top-k buffers key corpus ids as LONG. */
  private[graft] def requireLongNbr(dt: org.apache.spark.sql.types.DataType): Unit =
    require(dt == org.apache.spark.sql.types.LongType,
      s"rankCandidates(viaAgg): nbr_id must be LONG for the TopKAgg buffer " +
        s"encoding, got $dt — use the window form")

  /** A derived IVF probe-count configuration: the smallest probed
    * count that HELD `targetRecall` on the audited query sample, plus
    * the recall it measured there. The IVF sibling of [[LshConfig]] —
    * a config the caller can stash so an oracle re-derives candidates
    * at exactly the audited knob (the d73 discipline). */
  case class IvfProbeConfig(nprobe: Int, recall: Double)

  /** [[IvfProbeConfig]]'s coarse-knob sibling — [[cprobeForRecall]]'s
    * return type, with the field NAMED for what it holds: a count of
    * COARSE cells probed per query, never interchangeable with a fine
    * nprobe (the r14 verdict's hygiene item: a coarse-probe count must
    * not be read from a field named `nprobe`). */
  case class CprobeConfig(cprobe: Int, recall: Double)

  /**
   * Derive the nprobe that HOLDS a recall target — [[tablesForRecall]]
   * for the IVF family. LSH admits a closed form (collision odds are
   * analytic in (θ, b, L)); IVF recall depends on where the trained
   * lists fall relative to the queries, so the honest derivation is
   * the MEASURED one: run the s88-style recall@k audit (exact ground
   * truth over the query SAMPLE only — linear in the corpus, the
   * affordable production shape) at doubling nprobe until the mean
   * recall meets the target. Termination is structural: at
   * nprobe = nlist every list is probed, the candidate set is the
   * whole corpus minus self, and recall@k is exactly 1. Cost:
   * ≤ log₂(nlist)+1 audit passes, each ~one serving query over the
   * sample — what a deployment pays once per trained quantizer, not
   * per query. The ground truth is computed ONCE and localCheckpointed
   * (≤ |sample|·k id pairs — metadata) so the loop re-scores only the
   * probe side.
   *
   * Recall@k convention: |probe top-k ∩ exact top-k| / (|sample|·k),
   * i.e. MEAN recall with every query weighted equally — the s88/s89
   * audits' integer hit counts, averaged. Requires corpus size > k so
   * the exact top-k is always full (the caller's sample is queries
   * FROM the corpus; self-matches are excluded on both sides).
   */
  def nprobeForRecall(corpus: DataFrame, queries: DataFrame,
                      cents: Array[Array[Double]], k: Int = 10,
                      targetRecall: Double = 0.7,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      index: Option[DataFrame] = None): IvfProbeConfig = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall must be in (0, 1], got $targetRecall")
    require(cents.nonEmpty, "need a trained quantizer")
    val truth = bruteForceTopK(corpus, queries, k, idCol, vecCol)
      .select(col("query_id"), col("nbr_id")).localCheckpoint(true)
    val denom = truth.count().toDouble // = |sample|·k when corpus > k
    require(denom > 0, "empty query sample")
    // the audit scores candidates from `index` when the caller holds a
    // persisted assigned layout (each pass then reads only its probed
    // lists via partition pruning — the production shape); otherwise
    // assignment is the scan-local fused argmax, re-evaluated per pass
    // (one plan, no shuffle — never materialized: the frame is
    // corpus-sized and an audit must not checkpoint the corpus)
    val assigned = index.getOrElse(ivfAssignedByExpr(cents, corpus, idCol, vecCol))
    var nprobe = 1
    var recall = 0.0
    while ({
      val got = ivfTopKOnIndexByExpr(cents, assigned, queries, k, nprobe,
        idCol, vecCol).select(col("query_id"), col("nbr_id"))
      recall = truth.join(got, Seq("query_id", "nbr_id")).count() / denom
      recall < targetRecall && nprobe < cents.length
    }) nprobe = math.min(nprobe * 2, cents.length)
    IvfProbeConfig(nprobe, recall)
  }

  /**
   * [[nprobeForRecall]] for the HIERARCHICAL tier's coarse knob: the
   * smallest cprobe whose two-level probe walk holds `targetRecall` on
   * the query sample, at a FIXED fine nprobe. The coarse approximation
   * loses recall exactly where a true neighbor's list is owned by a
   * coarse cell outside the top-cprobe — this audit prices that loss
   * in the deciding metric (measured: ~0 on clustered corpora, up to
   * ~0.1 on isotropic ones at small scales — SCALING.md r14).
   * Termination structural as [[nprobeForRecall]]: cprobe = ncoarse
   * degenerates to the flat walk (spec-pinned), so the loop's last
   * step measures exactly the flat tier's recall at the same nprobe
   * (the ceiling this knob can buy back; pass that configuration to
   * [[nprobeForRecall]] to push further). Assignment: with `index`
   * the audit walks the HYBRID path over the caller's persisted
   * flat-assigned layout ([[hierTopKOnIndexByExpr]] — exactly the
   * path production serving runs, each pass reading only its probed
   * lists); without it, the all-hier configuration over an in-memory
   * re-assignment ([[hierTopKByExpr]]), conservative for a
   * flat-assigned index like the r14 production export.
   */
  def cprobeForRecall(corpus: DataFrame, queries: DataFrame,
                      coarse: Array[Array[Double]], fine: Array[Array[Double]],
                      k: Int = 10, nprobe: Int = 4,
                      targetRecall: Double = 0.7,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      index: Option[DataFrame] = None): CprobeConfig = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall must be in (0, 1], got $targetRecall")
    require(coarse.nonEmpty && fine.nonEmpty, "need a trained two-level quantizer")
    val truth = bruteForceTopK(corpus, queries, k, idCol, vecCol)
      .select(col("query_id"), col("nbr_id")).localCheckpoint(true)
    val denom = truth.count().toDouble
    require(denom > 0, "empty query sample")
    var cprobe = 1
    var recall = 0.0
    while ({
      val got = (index match {
        case Some(idx) => hierTopKOnIndexByExpr(coarse, fine, idx, queries, k,
          cprobe, nprobe, idCol, vecCol)
        case None => hierTopKByExpr(coarse, fine, corpus, queries, k, cprobe, nprobe,
          idCol, vecCol)
      }).select(col("query_id"), col("nbr_id"))
      recall = truth.join(got, Seq("query_id", "nbr_id")).count() / denom
      recall < targetRecall && cprobe < coarse.length
    }) cprobe = math.min(cprobe * 2, coarse.length)
    CprobeConfig(cprobe, recall)
  }

  // --------------------- hierarchical (two-level) quantizer tier

  /** COST-balanced coarse cell count for the hierarchical quantizer:
    * per-row quantizer work is ncoarse + cprobe·(nlist/ncoarse)
    * cosines, minimized at ncoarse* = √(cprobe·nlist) — the same
    * argument as [[ivfListsBalanced]] one level up. Rounded to the
    * power-of-two grid, clamped to [1, nlist]. At the √-law operating
    * point (nlist = √(n·nprobe)) the two levels together cost
    * ~2·√(cprobe·√(n·nprobe)) per row — the flat n·nlist quantizer
    * scan that SCALING.md r13 named as the ≥10¹⁰-vector bottleneck
    * drops to its square root. */
  def coarseListsFor(nlist: Int, cprobe: Int = 4): Int = {
    require(nlist >= 1 && cprobe >= 1,
      s"need nlist >= 1, cprobe >= 1; got nlist=$nlist cprobe=$cprobe")
    val star = math.sqrt(cprobe.toDouble * nlist)
    val bits = math.round(math.log(star) / math.log(2.0)).toInt
    math.min(nlist.toLong, 1L << math.max(0, bits)).toInt
  }

  /** Driver-side Lloyd over a METADATA-sized point set — the coarse
    * trainer: its input is the fine centroid matrix (nlist × dim
    * doubles), never corpus rows, so the loop belongs on the driver
    * like every other trained-artifact computation (PCA eigensolve,
    * codebook reshapes). Semantics mirror [[lloydRounds]]: init = the
    * first k points in index order, assignment = argmax cosine (ties →
    * low cid, [[graft.functions.IvfOps.argmaxCidD]] — the SAME fold the
    * hierarchical expressions use at plan time), update = member mean
    * per dimension, an empty cell keeps its previous centroid.
    * Deterministic: a pure function of (points, k, iters). */
  def kmeansLocalCentroids(points: Array[Array[Double]], k: Int,
                           iters: Int = 2): Array[Array[Double]] = {
    require(points.nonEmpty && k >= 1 && k <= points.length,
      s"need 1 <= k <= ${points.length}; got $k")
    val dim = points(0).length
    var cents = Array.tabulate(k)(i => points(i).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      points.foreach { p =>
        val c = graft.functions.IvfOps.argmaxCidD(p, cents)
        var d = 0
        while (d < dim) { sums(c)(d) += p(d); d += 1 }
        counts(c) += 1
      }
      cents = Array.tabulate(k)(i =>
        if (counts(i) == 0) cents(i)
        else {
          val c = new Array[Double](dim)
          var d = 0
          while (d < dim) { c(d) = sums(i)(d) / counts(i); d += 1 }
          c
        })
      it += 1
    }
    cents
  }

  /** Hierarchical argmax assignment — [[ivfAssignedByExpr]] with the
    * two-level quantizer: per row, top-cprobe OWNED coarse cells, then
    * argmax over the fine centroids those cells own, all inside one
    * fused scan-projection loop. Per-row cost falls from nlist to
    * ncoarse + cprobe·(nlist/ncoarse) cosines — the corpus-side
    * assignment scan (the dominant index-build cost once nlist tracks
    * the corpus) drops ~√nlist-fold at the balanced ncoarse.
    * Assignment is approximate exactly where the true owner's coarse
    * cell falls outside the top-cprobe — the probe main measures that
    * divergence beside the wall-clock. */
  def hierAssignedByExpr(coarse: Array[Array[Double]], fine: Array[Array[Double]],
                         corpus: DataFrame, cprobe: Int = 4,
                         idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("cvec"),
      norm(col(vecCol)).as("cn"),
      graft.functions.CentroidFunctions.hier_argmax(col(vecCol), coarse, fine, cprobe)
        .as("__cid"))

  /** [[ivfCandidatesByExpr]] with hierarchical probe selection: each
    * query's nprobe fine lists come from the two-level loop (coarse
    * top-cprobe, fine top-nprobe among the owned lists), then the same
    * list-bucketed candidate join. */
  private[graft] def hierCandidatesByExpr(c: DataFrame, coarse: Array[Array[Double]],
                                          fine: Array[Array[Double]],
                                          queries: DataFrame, cprobe: Int, nprobe: Int,
                                          idCol: String = "vec_id",
                                          vecCol: String = "embedding",
                                          broadcastQueries: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      norm(col(vecCol)).as("qn"),
      explode(graft.functions.CentroidFunctions.hier_probes(col(vecCol), coarse, fine,
        cprobe, nprobe)).as("__cid"))
    c.join(if (broadcastQueries) broadcast(q) else q, Seq("__cid"))
      .where(col("nbr_id") =!= col("query_id"))
      .select(col("query_id"), col("nbr_id"),
        cosinePrenormed(col("qvec"), col("cvec"), col("qn") * col("cn")).as("sim"))
  }

  /** IVF top-k through the HIERARCHICAL expression tier: the s83/s84
    * scan-local shape with the flat per-row nlist quantizer scan
    * replaced by the two-level loop — the tier SCALING.md r13 named
    * for ≥10¹⁰ vectors, where even the flat kernel's n·nlist
    * assignment dominates. Index semantics change ONLY through the
    * assignment/probe approximation (the candidate join, ranking and
    * tie-breaks are the shared code); with cprobe ≥ the owned coarse
    * count it is answer-identical to [[ivfTopKByExpr]] (spec-pinned). */
  def hierTopKByExpr(coarse: Array[Array[Double]], fine: Array[Array[Double]],
                     corpus: DataFrame, queries: DataFrame, k: Int,
                     cprobe: Int = 4, nprobe: Int = 4,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     broadcastQueries: Boolean = true,
                     rankAgg: Boolean = false): DataFrame =
    rankCandidates(hierCandidatesByExpr(
      hierAssignedByExpr(coarse, fine, corpus, cprobe, idCol, vecCol),
      coarse, fine, queries, cprobe, nprobe, idCol, vecCol, broadcastQueries), k, rankAgg)

  /** [[ivfTopKOnIndexByExpr]] through the hierarchical tier (serving
    * over an already-assigned index). */
  def hierTopKOnIndexByExpr(coarse: Array[Array[Double]], fine: Array[Array[Double]],
                            assigned: DataFrame, queries: DataFrame, k: Int,
                            cprobe: Int = 4, nprobe: Int = 4,
                            idCol: String = "vec_id", vecCol: String = "embedding",
                            broadcastQueries: Boolean = true,
                            rankAgg: Boolean = false): DataFrame =
    rankCandidates(hierCandidatesByExpr(assigned, coarse, fine, queries,
      cprobe, nprobe, idCol, vecCol, broadcastQueries), k, rankAgg)

  /** [[kmeansCentroidsByExpr]] with HIERARCHICAL assignment inside each
    * Lloyd round — the INDEX-BUILD form of the two-level lever:
    * training pays the flat n·nlist scan once per ITERATION, so it is
    * where the quantizer-scan term bites first at scale. Per round a
    * coarse level is derived driver-side from the CURRENT fine matrix
    * (metadata-sized [[kmeansLocalCentroids]] work) and corpus
    * assignment runs the fused two-level loop (ncoarse +
    * cprobe·(nlist/ncoarse) cosines per row); the update fold is the
    * shared [[lloydRounds]] one. The result is a DIFFERENT, slightly
    * approximate quantizer than the flat trainer's (hier assignment
    * can place a near-tie row one list off), so this trainer targets
    * the scale regime rather than bit-parity with the flat family —
    * with cprobe ≥ every round's coarse count it degenerates to the
    * flat trainer exactly (spec-pinned), and the probe prints both
    * trainers' eval quality side by side. */
  def kmeansCentroidsByHier(corpus: DataFrame, nlist: Int, iters: Int = 2,
                            cprobe: Int = 4,
                            idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Double]] =
    lloydRounds(corpus, nlist, iters, idCol, vecCol,
      (df, cents) => {
        val coarse = kmeansLocalCentroids(cents, coarseListsFor(nlist, cprobe))
        df.withColumn("__cid",
          graft.functions.CentroidFunctions.hier_argmax(col(vecCol), coarse, cents, cprobe))
      })

  /**
   * Symmetric int8 scalar quantization: q[i] = floor(v[i]·127/max|v| + ½)
   * (integer-valued, |q[i]| ≤ 127; the all-zero vector quantizes to
   * zeros). The values are carried as `array<double>` so the existing
   * fused [[dot]] kernel applies unchanged — every element is an exact
   * small integer, so all downstream arithmetic (integer products ≤
   * 127², sums ≤ dim·127²) is exact in DOUBLE and reproducible
   * bit-for-bit by the oracle's list fold.
   *
   * This is the memory-bound 100 TB similarity path: a quantized corpus
   * is 4× smaller than float32 (per-vector scale adds 8 bytes), so 4×
   * more of it fits per executor and scan/shuffle bytes drop 4×; the
   * quantized dot is also integer arithmetic a SIMD engine chews
   * through. Ranking error vs exact cosine is bounded by the
   * quantization step (measured in spec); exact re-rank of the top
   * candidates restores full precision when needed.
   */
  def quantizeInt8(vec: Column): Column = {
    val mx = array_max(transform(vec, x => abs(x.cast("double"))))
    val scale = when(mx === 0.0, lit(0.0)).otherwise(lit(127.0) / mx)
    // Spark's floor yields LONG; carry DOUBLE so the fused dot kernel
    // applies (the values are exact small integers either way)
    transform(vec, x => floor(x.cast("double") * scale + lit(0.5)).cast("double"))
  }

  /**
   * Embedding-space benchmark decontamination: drop every corpus
   * vector within cosine `threshold` of ANY benchmark vector — the
   * semantic sibling of the shingle-overlap `Dedup.contaminatedDocs`
   * (real pipelines run both: n-gram overlap catches verbatim leaks,
   * embedding similarity catches paraphrased ones). The benchmark side
   * is metadata-sized by definition, so it BROADCASTS and the whole
   * operator is ONE corpus scan with a broadcast anti nested-loop
   * probe — at 100 TB no shuffle, no pair materialization; corpus
   * rows stream through their own mappers. Norms are precomputed per
   * side (once per row, not once per pair).
   */
  def embedDecontaminate(corpus: DataFrame, bench: DataFrame, threshold: Double,
                         idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val b = broadcast(bench.select(col(vecCol).as("__bv"), norm(col(vecCol)).as("__bn")))
    corpus.withColumn("__cn", norm(col(vecCol)))
      .join(b,
        cosinePrenormed(col(vecCol), col("__bv"), col("__cn") * col("__bn")) >= threshold,
        "left_anti")
      .drop("__cn")
  }

  /**
   * Top-k by quantized cosine: both sides quantized once (corpus-side
   * at ingest in production), ranking on the integer dot over quantized
   * vectors normalized by quantized norms. Same broadcast-query /
   * partitioned-corpus shape as [[bruteForceTopK]] — one corpus pass,
   * no corpus shuffle before the tiny rank exchange.
   */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("nbr_id"), quantizeInt8(col(vecCol)).as("cq"))
      .select(col("nbr_id"), col("cq"), norm(col("cq")).as("cn"))
    val q = queries.select(col(idCol).as("query_id"), quantizeInt8(col(vecCol)).as("qq"))
      .select(col("query_id"), col("qq"), norm(col("qq")).as("qn"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("nbr_id") =!= col("query_id"))
      .select(col("query_id"), col("nbr_id"),
        cosinePrenormed(col("qq"), col("cq"), col("qn") * col("cn")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("nbr_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("nbr_id"), col("rank").cast("int").as("rank"), col("sim"))
  }

  /**
   * The INT8-QUANTIZED index frame — [[ivfAssignedByExpr]] with the
   * stored vector quantized ([[quantizeInt8]]) while ASSIGNMENT stays
   * full-precision (the quantizer sees the real vector; only the
   * serving payload shrinks). Output shape matches [[ivfAssignedByExpr]]
   * (nbr_id, cvec, cn, __cid) with cvec the exact-small-integer
   * quantized array CARRIED AS array<tinyint> — the values are
   * integers in [−127, 127] by construction, so the byte cast is
   * lossless and the serving path's cast back to double reproduces
   * [[quantizeInt8]]'s output bit-for-bit. The byte carrier is what
   * makes the footprint claim REAL and was chosen by measurement: a
   * doubles-in-parquet carrier measured only 2-3 % smaller than the
   * full-precision index (plain DOUBLE encoding defeats the point),
   * while the tinyint layout measures 2.05× smaller at 20 k vectors
   * (6.49 → 3.16 MB against the float32-carried index; the
   * data-column ratio is 4× asymptotically — 1 byte vs 4 per element
   * — with per-file parquet overhead narrowing it at small corpora
   * and the id/norm columns shared by both layouts). The 100 TB
   * index-FOOTPRINT lever: scan bytes, page-cache residency and
   * replication all shrink with the stored vector. The per-vector
   * norm is precomputed at build from the exact values, as
   * [[ivfAssignedByExpr]] does.
   */
  def quantizedAssignedByExpr(cents: Array[Array[Double]], corpus: DataFrame,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol).as("nbr_id"),
      quantizeInt8(col(vecCol)).as("__qd"),
      graft.functions.CentroidFunctions.centroid_argmax(col(vecCol), cents).as("__cid"))
      .select(col("nbr_id"), col("__qd").cast("array<tinyint>").as("cvec"),
        norm(col("__qd")).as("cn"), col("__cid"))

  /**
   * Quantized-probe + exact-refine serving over a persisted
   * [[quantizedAssignedByExpr]] index — the int8 instantiation of the
   * FAISS IndexRefineFlat stack (s62's mechanism on the s90 layout):
   *
   *  1. probe selection from the FULL-PRECISION query vector (fused
   *     [[graft.functions.CentroidFunctions.centroid_probes]] loop —
   *     the quantizer is full-precision; only stored vectors shrink);
   *  2. candidate scoring by QUANTIZED cosine over the pruned index
   *     scan (both sides int8 — [[quantizedTopK]]'s arithmetic, exact
   *     integers so the oracle reproduces it bit-for-bit);
   *  3. the per-query `refine`-deep shortlist (metadata-sized:
   *     queries × refine id pairs) broadcast INTO one scan of the
   *     full-precision corpus — the hit-set fetch — and re-ranked by
   *     TRUE cosine to the final k.
   *
   * The corpus is read once for the fetch and the index once for the
   * probe; nothing corpus-sized is shuffled. Recall relative to the
   * full-precision probe is bounded by the quantization step and
   * bought back by `refine` (spec-pinned ≥ unrefined at equal probe
   * cost for the gate corpus).
   */
  def ivfQuantizedRefineTopKOnIndexByExpr(cents: Array[Array[Double]],
                                          qindex: DataFrame, exact: DataFrame,
                                          queries: DataFrame, k: Int,
                                          refine: Int = 20, nprobe: Int = 4,
                                          idCol: String = "vec_id",
                                          vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
        quantizeInt8(col(vecCol)).as("__qq"),
        explode(graft.functions.CentroidFunctions.centroid_probes(col(vecCol), cents, nprobe))
          .as("__cid"))
      .withColumn("__qn", norm(col("__qq")))
    // the byte carrier widens back to double in the scan projection —
    // lossless (exact integers), codegen'd, and the fused dot kernel
    // applies unchanged
    val cand = qindex
      .withColumn("cvec", col("cvec").cast("array<double>"))
      .join(broadcast(q), Seq("__cid"))
      .where(col("nbr_id") =!= col("query_id"))
      .select(col("query_id"), col("nbr_id"),
        cosinePrenormed(col("__qq"), col("cvec"), col("__qn") * col("cn")).as("sim"))
    val short = rankCandidates(cand, refine).select(col("query_id"), col("nbr_id"))
    val ex = exact.select(col(idCol).as("nbr_id"), col(vecCol).as("__nv"),
      norm(col(vecCol)).as("__nn"))
    val qx = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qxn"))
    val rescored = ex.join(broadcast(short), Seq("nbr_id"))
      .join(broadcast(qx), Seq("query_id"))
      .select(col("query_id"), col("nbr_id"),
        cosinePrenormed(col("__qv"), col("__nv"), col("__qxn") * col("__nn")).as("sim"))
    rankCandidates(rescored, k)
  }

  /**
   * Embedding near-duplicate pairs: cosine ≥ `threshold`, EXACT (recall 1
   * by construction — near the 0.5 threshold the pair angle is ~60°, so
   * no hyperplane-LSH banding can promise recall 1; the threshold-exact
   * semantics the oracle checks demand exhaustive comparison).
   *
   * The pair space is covered by a **block-pair equi-join**, not a cross
   * join: rows are hashed into `blocks` blocks; each row is replicated
   * once per block-pair it participates in and the self-join runs on the
   * (blockLo, blockHi) key. Same O(n²) comparisons — inherent to exact
   * all-pairs — but as a hash join whose ~B²/2 buckets each hold ~2n/B
   * rows, so work spreads evenly over reducers, per-task memory is
   * bounded (raise `blocks` ∝ n to keep 2n/B fixed), AQE can split
   * stragglers, and nothing is broadcast or nested-loop scanned — unlike
   * BroadcastNestedLoopJoin, which ships the whole table to every task
   * and dies at scale. For sub-quadratic approximate pruning use
   * `useLsh=true` (signature equi-join; recall < 1, measured in spec).
   */
  def nearDupPairs(df: DataFrame, threshold: Double, useLsh: Boolean = false,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   blocks: Int = 16): DataFrame = {
    if (useLsh) {
      val a = df.select(col(idCol).as("i"), col(vecCol).as("va"),
        norm(col(vecCol)).as("na"), lshSignature(col(vecCol), 8, 64).as("siga"))
      val b = df.select(col(idCol).as("j"), col(vecCol).as("vb"),
        norm(col(vecCol)).as("nb"), lshSignature(col(vecCol), 8, 64).as("sigb"))
      a.join(b, col("siga") === col("sigb") && col("i") < col("j"))
        .select(col("i"), col("j"),
          cosinePrenormed(col("va"), col("vb"), col("na") * col("nb")).as("sim"))
        .where(col("sim") >= threshold)
    } else {
      val base = df.select(col(idCol).as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nrm"),
        pmod(xxhash64(col(idCol)), lit(blocks.toLong)).cast("int").as("blk"))
      // every (block g, peer block h) → canonical key (min,max); a row in
      // g emits each of its `blocks` keys once
      def banded(side: String) = base
        .withColumn("__bp", explode(transform(sequence(lit(0), lit(blocks - 1)),
          h => struct(least(col("blk"), h).as("x"), greatest(col("blk"), h).as("y")))))
        .select(col("__bp.x").as("bx"), col("__bp.y").as("by"),
          col("id").as(side), col("v").as(s"v_$side"),
          col("nrm").as(s"n_$side"), col("blk").as(s"g_$side"))
      // same-block pairs would match on all `blocks` shared keys — keep
      // each pair only on its canonical (min(gi,gj), max(gi,gj)) key
      banded("i").join(banded("j"), Seq("bx", "by"))
        .where(col("i") < col("j") &&
          col("bx") === least(col("g_i"), col("g_j")) &&
          col("by") === greatest(col("g_i"), col("g_j")))
        .select(col("i"), col("j"),
          cosinePrenormed(col("v_i"), col("v_j"), col("n_i") * col("n_j")).as("sim"))
        .where(col("sim") >= threshold)
    }
  }

  // ---------------------------------------------- product quantization
  //
  // Encode and ADC run through the native PqEncode/PqAdc kernels
  // (graft.functions.PqOps): one expression node holding the codebook as
  // a single literal, a fused loop per row. The per-cell-literal Column
  // formulation computed the same doubles but as ~5000-node trees whose
  // optimizer/codegen cost dominated s44/s45 wall-clock. Arithmetic is
  // bit-identical (left-associated folds, argmin ties → lowest code), so
  // the oracles that re-derive codes/ADC from codebook literals in SQL
  // still hash-match — see PqOps scaladoc.

  /**
   * Deterministic per-subspace L2 k-means codebooks for product
   * quantization: the 64-dim space splits into `m` subspaces of dim/m;
   * each gets `k` centroids (seeds = first k corpus subvectors by id,
   * then `iters` Lloyd rounds — assign by min squared L2, ties → lowest
   * code; means recomputed distributed). Only the m × k × dim/m
   * codebook doubles reach the driver (metadata-sized, the s37
   * contract); the corpus is never collected.
   */
  def pqCodebooks(corpus: DataFrame, m: Int = 8, k: Int = 16, iters: Int = 2,
                  dim: Int = 64, idCol: String = "vec_id",
                  vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    val sub = dim / m
    // seeds: first k corpus vectors by id, sliced per subspace — the
    // same seeds a per-subspace limit-collect would pick, in ONE job
    val seeds = corpus.orderBy(col(idCol)).limit(k)
      .select(array((0 until dim).map(i =>
        element_at(col(vecCol), i + 1).cast("double")): _*).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    var books: Array[Array[Array[Double]]] = Array.tabulate(m)(s =>
      Array.tabulate(k)(i => seeds(i).slice(s * sub, (s + 1) * sub)))
    var it = 0
    while (it < iters) {
      // ONE distributed pass re-fits every subspace: assign all m codes
      // per row (the exact argmin expression the encoder uses), explode
      // the dims, aggregate sum/count per (subspace, code, dim). Total
      // driver jobs for the whole training: 1 + iters — the earlier
      // per-subspace loop paid m·(1 + iters) jobs and m·iters codegen
      // compilations of near-identical expressions, which dominated
      // wall-clock (the data per job is tiny; the fixed costs weren't).
      val v = array((0 until dim).map(i =>
        element_at(col(vecCol), i + 1).cast("double")): _*)
      val sCol = (col("pos") / sub).cast("int")
      val sums = corpus
        .select(pqCodes(books, col(vecCol)).as("codes"),
          posexplode(v).as(Seq("pos", "x")))
        .groupBy(sCol.as("s"), element_at(col("codes"), sCol + 1).as("cid"),
          pmod(col("pos"), lit(sub)).as("d"))
        .agg(sum(col("x")).as("sum"), count(lit(1)).as("n"))
        .collect()
      val next = Array.tabulate(m)(s =>
        Array.tabulate(k)(i => books(s)(i).clone()))
      sums.groupBy(r => (r.getInt(0), r.getInt(1))).foreach { case ((s, cid), rows) =>
        val c = new Array[Double](sub)
        rows.foreach(r => c(r.getInt(2)) =
          if (r.getLong(4) == 0L) 0.0 else r.getDouble(3) / r.getLong(4))
        next(s)(cid) = c
      }
      books = next
      it += 1
    }
    books
  }

  /**
   * PQ encode/rank over PRECOMPUTED codebooks (stash-and-splice like
   * [[ivfTopKByExpr]] — the s44 oracle re-derives codes, ADC scores and
   * ranks from the same codebook literals). Corpus rows carry only
   * their m small codes (m + id ≈ 16 bytes vs 256 bytes float32 — the
   * memory-bound extreme of the quantization family; s39's int8 path
   * is the 4× midpoint). Queries stay exact: each candidate scores by
   * asymmetric distance (ADC) — the query's true subvector against the
   * centroid its code names — ranked ascending, ties → low nbr_id.
   */
  /** m PQ codes of a vector column: per subspace, argmin squared L2 to
    * the codebook (ties → lowest code). */
  private def pqCodes(books: Array[Array[Array[Double]]], vec: Column): Column =
    graft.functions.VectorFunctions.pq_encode(vec, books)

  /** ADC squared distance: Σ over subspaces of ‖query subvector −
    * centroid named by the candidate's code‖². */
  private def pqAdc(books: Array[Array[Array[Double]]],
                    qv: Column, codes: Column): Column =
    graft.functions.VectorFunctions.pq_adc(qv, codes, books)

  def pqTopKWith(books: Array[Array[Array[Double]]],
                 corpus: DataFrame, queries: DataFrame, k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val codes = corpus.select(col(idCol).as("nbr_id"),
      pqCodes(books, col(vecCol)).as("codes"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val cand = codes.crossJoin(broadcast(q))
      .where(col("nbr_id") =!= col("query_id"))
      .select(col("query_id"), col("nbr_id"),
        pqAdc(books, col("qv"), col("codes")).as("dist"))
    val w = Window.partitionBy("query_id").orderBy(col("dist").asc, col("nbr_id"))
    cand.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("nbr_id"), col("rank").cast("int").as("rank"))
  }

  /**
   * IVF-PQ: the production 100 TB ANN index shape — a coarse quantizer
   * buckets the corpus into `nlist` inverted lists (spherical k-means,
   * as s37) and each vector is stored as its m PQ codes; a query probes
   * its `nprobe` nearest lists and ADC-ranks only those candidates.
   * Scan cost per query: ~nprobe/nlist of a corpus that is itself
   * ~30× smaller than float32. Codes here encode the raw vectors (not
   * residuals): one codebook serves every list, which keeps the oracle
   * a pure composition of the s37 probe and s44 encode templates.
   */
  def ivfPqTopKWith(cents: Array[Array[Double]],
                    books: Array[Array[Array[Double]]],
                    corpus: DataFrame, queries: DataFrame, k: Int, nprobe: Int = 4,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val codes = corpus.select(col(idCol).as("nbr_id"),
      graft.functions.CentroidFunctions.centroid_argmax(col(vecCol), cents).as("__cid"),
      pqCodes(books, col(vecCol)).as("codes"))
    val q = probedQueries(cents, queries, nprobe, idCol, vecCol)
    val cand = codes.join(broadcast(q), Seq("__cid"))
      .where(col("nbr_id") =!= col("query_id"))
      .select(col("query_id"), col("nbr_id"),
        pqAdc(books, col("qv"), col("codes")).as("dist"))
    val w = Window.partitionBy("query_id").orderBy(col("dist").asc, col("nbr_id"))
    cand.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("nbr_id"), col("rank").cast("int").as("rank"))
  }

  /** One-call PQ ANN (codebooks computed here; see [[pqTopKWith]]). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 8, kCent: Int = 16, iters: Int = 2,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqTopKWith(pqCodebooks(corpus, m, kCent, iters, 64, idCol, vecCol),
      corpus, queries, k, idCol, vecCol)

  /** (query_id, qv, __cid): each query once per probed list — the
    * IVF-PQ probe side ([[graft.functions.CentroidProbes]]). */
  private def probedQueries(cents: Array[Array[Double]], queries: DataFrame, nprobe: Int,
                            idCol: String, vecCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(graft.functions.CentroidFunctions.centroid_probes(col(vecCol), cents, nprobe))
        .as("__cid"))

  /** Tiny broadcastable (cid, centroid) relation for residual math. */
  private def centroidDf(cents: Array[Array[Double]],
                         df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    cents.zipWithIndex.map { case (cv, i) => (i, cv.toSeq) }.toSeq
      .toDF("__cid", "__cv")
  }

  /** Corpus rows with their coarse assignment and the per-row RESIDUAL
    * against the owning centroid (`__res`, array<double>): element-wise
    * x.toDouble − c, the exact arithmetic the oracle recomputes. */
  private def withResidual(cents: Array[Array[Double]], df: DataFrame,
                           idCol: String, vecCol: String): DataFrame =
    df.withColumn("__cid", graft.functions.CentroidFunctions.centroid_argmax(col(vecCol), cents))
      .join(broadcast(centroidDf(cents, df)), Seq("__cid"))
      .withColumn("__res", zip_with(col(vecCol), col("__cv"),
        (x, c) => x.cast("double") - c))

  /**
   * Residual PQ codebooks: the product quantizer is trained on
   * (vector − owning coarse centroid) residuals instead of raw vectors
   * — the FAISS-style IVF-PQ refinement. Residual magnitudes are much
   * smaller and more isotropic than raw vectors (the coarse quantizer
   * already absorbed the between-list variance), so the same codebook
   * bytes carve a finer grid: better recall per byte at equal m × k.
   */
  def pqResidualCodebooks(cents: Array[Array[Double]], corpus: DataFrame,
                          m: Int = 8, k: Int = 16, iters: Int = 2, dim: Int = 64,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): Array[Array[Array[Double]]] =
    pqCodebooks(
      withResidual(cents, corpus, idCol, vecCol)
        .select(col(idCol), col("__res").as(vecCol)),
      m, k, iters, dim, idCol, vecCol)

  /**
   * Residual-encoded IVF-PQ (the production FAISS index layout): each
   * list's vectors are PQ-coded as residuals against their OWN coarse
   * centroid, and a query's ADC distances are computed from its
   * per-probed-list residual. Same plumbing and scan cost as
   * [[ivfPqTopKWith]] — bucketed probes over an m-byte-coded corpus,
   * only metadata-sized centroids/codebooks on the driver — but the
   * codes spend their bits on within-list structure only.
   */
  def ivfPqResidualTopKWith(cents: Array[Array[Double]],
                            books: Array[Array[Array[Double]]],
                            corpus: DataFrame, queries: DataFrame, k: Int,
                            nprobe: Int = 4, idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val codes = withResidual(cents, corpus, idCol, vecCol)
      .select(col(idCol).as("nbr_id"), col("__cid"),
        pqCodes(books, col("__res")).as("codes"))
    val q = probedQueries(cents, queries, nprobe, idCol, vecCol)
      .join(broadcast(centroidDf(cents, queries)), Seq("__cid"))
      .withColumn("__qres", zip_with(col("qv"), col("__cv"),
        (x, c) => x.cast("double") - c))
      .select(col("query_id"), col("__cid"), col("__qres"))
    val cand = codes.join(broadcast(q), Seq("__cid"))
      .where(col("nbr_id") =!= col("query_id"))
      .select(col("query_id"), col("nbr_id"),
        pqAdc(books, col("__qres"), col("codes")).as("dist"))
    val w = Window.partitionBy("query_id").orderBy(col("dist").asc, col("nbr_id"))
    cand.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("nbr_id"), col("rank").cast("int").as("rank"))
  }

  /**
   * Refine / re-rank tier over residual IVF-PQ — the FAISS
   * `IndexRefineFlat` serving shape: the ADC pass nominates the top
   * `refine` candidates per query from codes alone (cheap, probed
   * lists only), then the EXACT vectors of just those candidates are
   * fetched and re-ranked by true cosine; the final top-k recovers the
   * recall the m-byte codes gave up. At 100 TB the refine step touches
   * queries × refine rows, not the corpus: the candidate id set is
   * broadcast and probed into the corpus scan (the s56 retrieval-join
   * shape), so its cost is independent of corpus size while the
   * candidate generation keeps IVF-PQ's ~nprobe/nlist scan of an
   * m-byte-coded corpus.
   */
  def ivfPqResidualRefineTopKWith(cents: Array[Array[Double]],
                                  books: Array[Array[Array[Double]]],
                                  corpus: DataFrame, queries: DataFrame, k: Int,
                                  refine: Int = 32, nprobe: Int = 4,
                                  idCol: String = "vec_id",
                                  vecCol: String = "embedding"): DataFrame = {
    val cand = ivfPqResidualTopKWith(cents, books, corpus, queries, refine,
        nprobe, idCol, vecCol)
      .select(col("query_id"), col("nbr_id"))
    val c = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("cvec"),
      norm(col(vecCol)).as("cn"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      norm(col(vecCol)).as("qn"))
    val exact = c.join(broadcast(cand), Seq("nbr_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("nbr_id"),
        cosinePrenormed(col("qvec"), col("cvec"), col("qn") * col("cn")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("nbr_id"))
    exact.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("nbr_id"), col("rank").cast("int").as("rank"))
  }

  // -------------------------------------------------------------------- PCA

  /**
   * Deterministic PCA model over an embedding corpus: (mean vector,
   * top-k principal components) — the embedding-compression /
   * rotation step a training pipeline runs before storing or indexing
   * vectors (dim-reduced ANN, whitening, matryoshka-style truncation).
   *
   * Training is a pure function of the corpus CONTENT, independent of
   * partitioning and row order: the first and second moments are
   * summed in DECIMAL(38,24) (exact, commutative — the same device the
   * oracle arithmetic uses), and the dim×dim symmetric eigenproblem
   * runs a FIXED number of cyclic-Jacobi sweeps on the driver. Only
   * metadata ever reaches the driver: dim(dim+1)/2 + dim moment cells
   * plus one count cell (2 145 doubles at dim=64), same footprint
   * class as the k-means/PQ trainers. Components are ordered by
   * eigenvalue descending (index ascending on ties) and sign-fixed so
   * each component's largest-magnitude entry (first index on ties) is
   * positive.
   *
   * At 100 TB: the moment pass is one explode + map-side-combined
   * aggregation over dim(dim+3)/2 cells per row — a single shuffle of
   * a vocabulary-sized (2 144-row) result; the eigensolve is O(dim³)
   * driver work, independent of corpus size.
   */
  def pcaModel(corpus: DataFrame, k: Int = 8, dim: Int = 64,
               vecCol: String = "embedding"): (Array[Double], Array[Array[Double]]) = {
    import org.apache.spark.sql.types.DecimalType
    val x = col(vecCol)
    // flat cell scheme: i*dim+j for upper-triangle second moments
    // (i <= j), dim*dim+i for first moments
    val ut = flatten(transform(sequence(lit(0), lit(dim - 1)), i =>
      transform(sequence(i, lit(dim - 1)), j =>
        struct((i * lit(dim) + j).as("idx"),
          (element_at(x, i + 1).cast("double") * element_at(x, j + 1)).as("v")))))
    val m1 = transform(sequence(lit(0), lit(dim - 1)), i =>
      struct((lit(dim * dim) + i).as("idx"), element_at(x, i + 1).cast("double").as("v")))
    // the row count rides the SAME aggregation as one more cell (sum of
    // exact 1.0 terms — the DECIMAL sum is exactly n, and n < 2^53
    // round-trips through double), so training is ONE corpus pass, not
    // a count scan followed by the moment scan
    val cnt = array(struct(lit(dim * dim + dim).as("idx"), lit(1.0).as("v")))
    val cells = corpus
      .select(explode(concat(ut, m1, cnt)).as("e"))
      .groupBy(col("e.idx").as("idx"))
      // scale 24 keeps 14 integer digits of headroom (sums of |v| <= 1
      // terms stay exact up to ~10^14 rows) while rounding each term
      // far past double's 16 significant digits
      .agg(sum(col("e.v").cast(DecimalType(38, 24))).as("s"))
      .collect().map(r => r.getInt(0) -> r.getDecimal(1).doubleValue()).toMap
    val n = cells(dim * dim + dim)
    val mean = Array.tabulate(dim)(i => cells(dim * dim + i) / n)
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      cells(a * dim + b) / n - mean(i) * mean(j)
    }
    val (evals, evecs) = jacobiEigen(cov, sweeps = 12)
    val order = evals.indices.sortBy(i => (-evals(i), i)).take(k)
    val comps = order.map { ci =>
      val w = Array.tabulate(dim)(r => evecs(r)(ci))
      val pivot = w.indices.maxBy(i => (math.abs(w(i)), -i))
      if (w(pivot) < 0) w.map(-_) else w
    }.toArray
    (mean, comps)
  }

  /** Unrounded PCA coordinate array (array<double>, one entry per
    * component) — the reduced-space representation [[pcaRefineTopK]]
    * searches. Same 0.0-seeded left fold as [[pcaProject]] so the
    * oracle's list_reduce reproduces every coordinate bit-for-bit. */
  def pcaCoords(x: Column, mean: Array[Double], comps: Array[Array[Double]]): Column = {
    val cx = centeredVec(x, mean)
    array(comps.map(w => dot(cx, array(w.toIndexedSeq.map(lit): _*))).toIndexedSeq: _*)
  }

  /** x − μ as array<double> (the shared input of every PCA fold). */
  private def centeredVec(x: Column, mean: Array[Double]): Column =
    zip_with(x, array(mean.toIndexedSeq.map(lit): _*), (a, b) => a.cast("double") - b)

  /**
   * PCA-shortlist ANN: candidates ranked by cosine in the reduced
   * space (k' doubles per vector instead of dim floats — at 100 TB the
   * reduced corpus is ~dim/k' smaller, so the candidate scan stays
   * memory-resident long after the raw corpus cannot), then the top
   * `shortlist` candidates re-ranked by exact full-vector cosine (the
   * s62 refine composition: broadcast hit set, no corpus shuffle).
   * Recall depends on how much of the corpus's variance the top-k'
   * axes capture — high for real embedding corpora (low-rank
   * structure), modest for isotropic noise; the companion spec pins
   * the measured floor against brute force.
   */
  def pcaRefineTopK(mean: Array[Double], comps: Array[Array[Double]],
                    corpus: DataFrame, queries: DataFrame, k: Int,
                    shortlist: Int = 32,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("nbr_id"),
      pcaCoords(col(vecCol), mean, comps).as("cr"))
    val q = queries.select(col(idCol).as("query_id"),
      pcaCoords(col(vecCol), mean, comps).as("qr"))
    val w1 = Window.partitionBy("query_id").orderBy(col("rsim").desc, col("nbr_id"))
    val cand = c.crossJoin(broadcast(q))
      .where(col("nbr_id") =!= col("query_id"))
      .select(col("query_id"), col("nbr_id"), cosine(col("qr"), col("cr")).as("rsim"))
      .withColumn("rk", row_number().over(w1))
      .where(col("rk") <= shortlist)
      .select("query_id", "nbr_id")
    val cf = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("cvec"),
      norm(col(vecCol)).as("cn"))
    val qf = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      norm(col(vecCol)).as("qn"))
    val exact = cf.join(broadcast(cand), Seq("nbr_id"))
      .join(broadcast(qf), Seq("query_id"))
      .select(col("query_id"), col("nbr_id"),
        cosinePrenormed(col("qvec"), col("cvec"), col("qn") * col("cn")).as("sim"))
    val w2 = Window.partitionBy("query_id").orderBy(col("sim").desc, col("nbr_id"))
    exact.withColumn("rank", row_number().over(w2))
      .where(col("rank") <= k)
      .select(col("query_id"), col("nbr_id"), col("rank").cast("int").as("rank"))
  }

  /** Fixed-sweep cyclic Jacobi for a symmetric matrix: returns
    * (eigenvalues, eigenvector COLUMNS). Deterministic: fixed sweep
    * count, fixed (p, q) visit order, no data-dependent convergence
    * test. 12 sweeps drives a 64×64 off-diagonal below 1e-12·trace —
    * far past the 6-decimal rounding the projections publish. */
  private def jacobiEigen(a0: Array[Array[Double]],
                          sweeps: Int): (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = Array.tabulate(n, n)((i, j) => a0(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var s = 0
    while (s < sweeps) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              else 1.0 / (theta - math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val sn = t * c
            var i = 0
            while (i < n) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - sn * aiq
              a(i)(q) = sn * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < n) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - sn * aqi
              a(q)(i) = sn * api + c * aqi
              i += 1
            }
            i = 0
            while (i < n) {
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - sn * viq
              v(i)(q) = sn * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      s += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /**
   * Project vectors onto a trained PCA model: pc_c = Σ_i (x_i − μ_i)·w_ci,
   * published rounded to 6 decimals. The per-component sum is built as a
   * left-associated 64-term addition, so the oracle's left-fold
   * `list_reduce` reproduces it bit-for-bit (the duckCosine device).
   * Scan-local — no shuffle; the model rides along as literals inside
   * the projection's codegen stage.
   */
  def pcaProject(df: DataFrame, mean: Array[Double], comps: Array[Array[Double]],
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val x = col(vecCol)
    // the fused VecDot kernel accumulates from 0.0 in index order —
    // exactly the oracle's list_prepend(0.0, ...) left fold, so every
    // published coordinate is bit-identical to the SQL recompute (and
    // the 0.0 seed keeps a -0.0 first term from surviving)
    val cx = centeredVec(x, mean)
    val pcs = comps.zipWithIndex.map { case (w, c) =>
      round(dot(cx, array(w.toIndexedSeq.map(lit): _*)), 6).as(s"pc$c")
    }
    df.select((col(idCol) +: pcs.toIndexedSeq): _*)
  }
}