package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.sources.Tables

/**
 * Training-data-pipeline operators as driver-checkable queries
 * (SURVEY.md §7 phase 5): dedup (exact / MinHash-LSH / SimHash / exact
 * n-gram Jaccard), embedding similarity (brute-force + LSH), and text
 * analysis. Oracles recompute everything independently in DuckDB SQL
 * where expressible; approximate operators (LSH variants, SimHash) are
 * instead pinned against their exact counterparts in the test suite.
 */
object PipelineQueries {
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.load(s, dir, n)

  // Trained-artifact splice slots live in [[OracleStash]] — one keyed
  // registry for the whole run-before-dump lifecycle (see its doc).
  private type Cents = OracleStash.Cents
  private type Books = OracleStash.Books
  private type Pca = OracleStash.Pca

  /** Trained-quantizer memo, keyed by corpus generation and nlist
    * (`$dir@<digest>#<nlist>`). The k-means coarse quantizers (s37/d53/
    * s45 at 16 lists, s80 occupancy-held, s81/s82 at 128, s83-s89 at
    * 256) and the PQ codebooks (s44/s45) are deterministic functions of
    * the corpus (seeded init, fixed iterations), so within one JVM the
    * second and later consumers reuse the first training — exactly how
    * a production pipeline treats a trained index artifact: train once,
    * serve many. Each query still stashes its OWN copy for oracle
    * splicing, and a filtered Verify that runs only one of them trains
    * on demand. */
  private[graft] val kmCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[Array[Double]]]
  private[graft] val pqCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[Array[Array[Double]]]]
  /** Cache key digests the corpus's full file listing (each file's
    * name, mtime, length — recursing one level when embeddings.parquet
    * is a Spark-written DIRECTORY of part files) so an IN-PLACE
    * regeneration within one JVM invalidates the memo instead of
    * serving a stale model (the round-5 incident class: the corpus is
    * rewritten under a live path). A plain top-level stat is
    * not enough for the directory case: a part-file rewrite that keeps
    * the same entry names leaves the directory's own mtime/size
    * untouched. */
  private[graft] def corpusKey(dir: String): String =
    s"$dir@${RelationalQueries.srcDigest(dir, "embeddings")}"
  /** On a key miss, drop every entry of ANOTHER generation of the same
    * corpus dir before training: a long-lived JVM watching a dir that
    * is regenerated repeatedly would otherwise accumulate one
    * dead model per generation. Entries of generation `gen` are `gen`
    * itself and `gen#…` (the per-nlist quantizers), so sibling nlists
    * of the live generation survive. */
  private def evictStale[V](cache: scala.collection.concurrent.TrieMap[String, V],
                            dir: String, gen: String, key: String): Unit =
    if (!cache.contains(key))
      cache.keys.filter(k => k.startsWith(s"$dir@") && k != gen && !k.startsWith(s"$gen#"))
        .foreach(cache.remove)
  /** The corpus's `nlist`-list coarse quantizer ([[Similarity.kmeansCentroidsByExpr]],
    * 2 Lloyd rounds), memoized per generation and nlist. */
  private[graft] def centroids(s: SparkSession, dir: String, nlist: Int): Array[Array[Double]] = {
    val gen = corpusKey(dir)
    val key = s"$gen#$nlist"
    evictStale(kmCache, dir, gen, key)
    kmCache.getOrElseUpdate(key,
      Similarity.kmeansCentroidsByExpr(t(s, dir, "embeddings"), nlist = nlist, iters = 2))
  }
  private[graft] def centroids16(s: SparkSession, dir: String): Array[Array[Double]] =
    centroids(s, dir, 16)
  /** Occupancy-HELD coarse quantizer (the round-11 nlist discipline:
    * lists sized to the corpus via ivfListsFor, not a fixed 16). Used
    * by s80, whose probed fraction nprobe/nlist is the whole point of
    * the twin. */
  private def centroidsHeld(s: SparkSession, dir: String): Array[Array[Double]] =
    centroids(s, dir, Similarity.ivfListsFor(t(s, dir, "embeddings").count()))
  private def codebooks16(s: SparkSession, dir: String): Array[Array[Array[Double]]] = {
    val key = corpusKey(dir)
    evictStale(pqCache, dir, key, key)
    pqCache.getOrElseUpdate(key,
      Similarity.pqCodebooks(t(s, dir, "embeddings")))
  }
  private val pcaCache =
    scala.collection.concurrent.TrieMap.empty[String, (Array[Double], Array[Array[Double]])]
  /** PCA model memo — same train-once contract as the quantizers (the
    * DECIMAL-summed moments make it a pure function of the corpus). */
  private def pca8(s: SparkSession, dir: String): (Array[Double], Array[Array[Double]]) = {
    val key = corpusKey(dir)
    evictStale(pcaCache, dir, key, key)
    pcaCache.getOrElseUpdate(key, Similarity.pcaModel(t(s, dir, "embeddings")))
  }

  private val pqResCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[Array[Array[Double]]]]
  /** Residual codebooks are a deterministic function of (corpus,
    * coarse centroids) and the centroids are themselves memoized per
    * corpus — so one key serves both. */
  private def residualBooks16(s: SparkSession, dir: String,
                              cents: Array[Array[Double]]): Array[Array[Array[Double]]] = {
    val key = corpusKey(dir)
    evictStale(pqResCache, dir, key, key)
    pqResCache.getOrElseUpdate(key,
      Similarity.pqResidualCodebooks(cents, t(s, dir, "embeddings")))
  }

  /** d81/d82's target mixtures — ONE constant feeds each query AND its
    * oracle's CASE chain, so the kernel and the gate cannot drift on
    * the shares. DYADIC values only (mixtureWeightsTargeted's
    * oracle-exactness discipline: Σshare must be exact in any
    * accumulation order). Unmapped strata take defaultShare = 0.125. */
  private[graft] val d81Shares = Map("en" -> 0.5, "zh" -> 0.25)
  private[graft] val d82Shares = Map("fr" -> 0.5)

  /** The share CASE chain both weighted-mixture oracles splice —
    * mirrors mixtureWeightsTargeted's null-safe when-chain (keys are
    * disjoint, so arm order is semantically free; sorted for textual
    * stability). Double literals print via Scala's shortest-roundtrip
    * toString, which DuckDB parses back to the identical double. */
  private def shareCaseSql(shares: Map[String, Double], default: Double): String =
    "CASE " + shares.toSeq.sortBy(_._1).map { case (k, v) =>
      s"WHEN lang IS NOT DISTINCT FROM '$k' THEN CAST($v AS DOUBLE)"
    }.mkString(" ") + s" ELSE CAST($default AS DOUBLE) END"

  /** Persisted IVF index root (per-sf, outside target/ — same layout
    * rationale as RelationalQueries.csvDir). */
  def ivfIndexRoot(sfDir: String): String =
    RelationalQueries.dataRoot("ivf", sfDir, "emb")

  /** Ingest-once on-disk IVF index: the assigned corpus laid out with
    * one hive partition per inverted list (`partitionBy(__cid)`,
    * per-vector norms precomputed at build time) plus the centroids as
    * a metadata-sized artifact table. Build once, serve many sessions
    * — the s60 read path probes it with dynamic partition pruning. */
  def ensureIvfIndexExport(s: SparkSession, sfDir: String): String = {
    val root = ivfIndexRoot(sfDir)
    if (RelationalQueries.stale(root, sfDir, "embeddings"))
      buildIvfIndex(s, sfDir, root)
    root
  }

  /** Unconditional base-generation build; returns the digest stamped
    * into the base `_SUCCESS` marker (captured BEFORE the export reads
    * its source — see [[RelationalQueries.markFresh]]). */
  private def buildIvfIndex(s: SparkSession, sfDir: String, root: String): String = {
    val want = RelationalQueries.srcDigest(sfDir, "embeddings") + ":ivf-v2"
    import s.implicits._
    val cents = centroids16(s, sfDir)
    Similarity.ivfAssignedByExpr(cents, t(s, sfDir, "embeddings"))
      .write.mode("overwrite").partitionBy("__cid").parquet(s"$root/index")
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$root/centroids")
    RelationalQueries.markFresh(root, want)
    want
  }

  /** PRODUCTION-nlist index root (sibling of [[ivfIndexRoot]], which
    * persists the gate's nlist=16 index; this export is the declared
    * production-nlist form). */
  def ivfProdIndexRoot(sfDir: String): String =
    RelationalQueries.dataRoot("ivf-prod", sfDir, "emb")

  /** The production index's list count — 8× past ivfListsFor's
    * default maxBits cap. ONE constant: the export, both serving queries, the streaming
    * topology (s92), and the recall audit (s93) all read it, so the
    * "production nlist" the round claims is a single greppable value. */
  private[graft] val prodNlist = 128

  /** Ingest-once PRODUCTION index: the s60 export machinery at
    * production nlist through the EXPRESSION tier — fine quantizer
    * trained by [[Similarity.kmeansCentroidsByExpr]] (4.4 s at
    * sf10/1024, SCALING.md r13), corpus assigned scan-locally
    * ([[Similarity.ivfAssignedByExpr]] — no ×nlist expansion, no
    * join-back) and laid out as one hive partition per list. The
    * HIERARCHICAL model persists BESIDE the fine centroids: the
    * coarse matrix (`$root/coarse`, trained driver-side over the fine
    * matrix — metadata in, metadata out) makes the persisted artifact
    * servable by both the flat and the hierarchical kernels without
    * retraining.
    * Digest-chained to the embeddings source with a layout-version
    * salt, exactly as the curated export. */
  def ensureIvfProdIndexExport(s: SparkSession, sfDir: String): String = {
    val root = ivfProdIndexRoot(sfDir)
    // layout versions (the salt below is authoritative): v1 = index +
    // fine centroids; v2 = + the coarse matrix beside the fine one
    // (hierarchical serving without retraining); v3 = + the
    // INT8-quantized sibling layout (same lists, same assignment,
    // ~4× smaller stored vectors — the serving-footprint lever s95
    // declares)
    val want = RelationalQueries.srcDigest(sfDir, "embeddings") + s":prod-$prodNlist-v3"
    if (RelationalQueries.staleDigest(root, want)) {
      import s.implicits._
      val emb = t(s, sfDir, "embeddings")
      val fine = Similarity.kmeansCentroidsByExpr(emb, nlist = prodNlist, iters = 2)
      val coarse = Similarity.kmeansLocalCentroids(fine,
        Similarity.coarseListsFor(prodNlist))
      Similarity.ivfAssignedByExpr(fine, emb)
        .write.mode("overwrite").partitionBy("__cid").parquet(s"$root/index")
      Similarity.quantizedAssignedByExpr(fine, emb)
        .write.mode("overwrite").partitionBy("__cid").parquet(s"$root/qindex")
      fine.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cid", "centroid").coalesce(1)
        .write.mode("overwrite").parquet(s"$root/centroids")
      coarse.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("kid", "centroid").coalesce(1)
        .write.mode("overwrite").parquet(s"$root/coarse")
      RelationalQueries.markFresh(root, want)
    }
    root
  }

  /** Read a persisted centroid matrix back in id order — the serving
    * sessions' entry to every persisted quantizer artifact. */
  private[queries] def readCentroids(s: SparkSession, path: String,
                                     idCol: String = "cid"): Array[Array[Double]] =
    s.read.parquet(path).orderBy(idCol).collect()
      .map(r => r.getSeq[Double](r.fieldIndex("centroid")).toArray)

  /** The production index's GROWN corpus — base embeddings plus the
    * deterministic synthetic append (reversed vectors under shifted
    * ids, the s61/s94 delta shape). ONE definition shared by the
    * in-memory refresh (s96), the persisted refresh export (gen2),
    * and their oracles' UNION ALL source, so the "what did the index
    * grow by" question has a single answer.
    *
    * The synthetic shifts (+100 000 000 here; +200 000 000 for the
    * gen2 chained delta, +300 000 000 for gen3's — r16 raised them
    * 100× after the sf100 rollover probe hit the old +1M guard at 2M
    * vectors) assume base vec_ids stay BELOW the first shift — true
    * for every corpus up to 100M vectors (GenData makes 20 000·sf, so
    * collision needs sf5000). All shifts are multiples of 10, so
    * id mod 10 survives every arm (the tombstone rule relies on it).
    * Guarded loudly rather than assumed: a colliding id
    * space would double-count recall joins and distort rankings
    * SILENTLY, the worst failure class. One max() aggregate per call
    * — noise next to the serving query it feeds. */
  private[queries] def prodGrownCorpus(s: SparkSession, sfDir: String): DataFrame = {
    import s.implicits._
    val emb = t(s, sfDir, "embeddings").select($"vec_id", $"embedding")
    val maxId = emb.agg(max($"vec_id")).collect()(0).getLong(0)
    require(maxId < 100000000L,
      s"synthetic delta id shift collides: base vec_id reaches $maxId >= 100000000 " +
        "— raise the shift constants (Spark side AND oracle SQL) together")
    emb.unionByName(emb.where($"vec_id" < 200)
      .select(($"vec_id" + 100000000L).as("vec_id"),
        reverse($"embedding").as("embedding")))
  }

  /** DuckDB source for [[prodGrownCorpus]] — the oracle-side twin. */
  private val prodGrownSrcSql: String =
    """SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000000 AS vec_id, list_reverse(embedding) AS embedding
      |  FROM embeddings WHERE vec_id < 200""".stripMargin

  /** A persisted index GENERATION's identity stamp — the _SUCCESS
    * marker content under the generation root. A delta landed beside a
    * generation records this stamp; serving refuses a delta whose
    * stamp names a different generation ([[guardedDeltaUnion]] — the
    * s61 digest-chain discipline made an explicit refusal instead of a
    * silent wrong-quantizer union). */
  private[queries] def genStampOf(genRoot: String): String = {
    val marker = RelationalQueries.readMarker(genRoot)
    require(marker.isDefined,
      s"no generation stamp at $genRoot — build the generation first")
    marker.get
  }

  /** Land a frozen-centroid-assigned delta BESIDE a generation,
    * stamped with the generation that assigned it — the write half of
    * the chained-ingest contract. The caller passes the stamp it
    * captured BEFORE reading the assigning centroids (the markFresh
    * capture-before-read discipline): if the generation rewrites
    * between that capture and this landing, the delta carries the OLD
    * stamp against the NEW generation — a refused serve — never a
    * stale assignment under a fresh stamp (the silently-mixed union
    * the chain exists to prevent). */
  private[queries] def landDelta(assigned: DataFrame, genStamp: String,
                                 deltaDir: String): Unit = {
    assigned.write.mode("overwrite").parquet(deltaDir)
    RelationalQueries.markFresh(deltaDir, genStamp)
  }

  /** Serve a generation's index UNION a landed delta — refusing a
    * delta stamped by a different generation: an appended batch is
    * assigned under exactly one quantizer, and serving it against a
    * REFRESHED quantizer's lists would probe the wrong cells silently
    * (the answers would be quietly wrong, not loudly missing). The
    * refusal makes the staleness loud; the fix is re-assigning the
    * delta under the current generation ([[ensureIvfProdGen2DeltaExport]]
    * does exactly that when its stamp check fails).
    *
    * CONTRACT (single writer): the stamps are verified EAGERLY, at
    * call time — the returned frame is lazy, so a generation rewrite
    * landing between this guard and the caller's action would be
    * served as new-generation index files unioned with the
    * already-validated old delta. That window is safe here because
    * every writer in this engine is the ensure chain itself
    * (single-writer, same JVM, and each ensure re-guards before
    * serving); a deployment with an out-of-band compactor must either
    * re-call this guard after materializing (compare [[genStampOf]]
    * before and after the action) or take a storage-level lease on
    * the generation root. Verifying inside the tasks instead would
    * put a per-partition filesystem read on the hot path — the wrong
    * trade for an engine whose writers are coordinated. */
  private[queries] def guardedDeltaUnion(s: SparkSession, genRoot: String,
                                         deltaDir: String): DataFrame = {
    val gen = genStampOf(genRoot)
    val marker = RelationalQueries.readMarker(deltaDir)
    require(marker.isDefined,
      s"delta at $deltaDir carries no generation stamp — refuse to serve")
    val got = marker.get
    require(got == gen,
      s"stale-generation delta refuses to serve: delta at $deltaDir is stamped " +
        s"'${got.take(48)}…' but the generation at $genRoot is '${gen.take(48)}…' " +
        "— re-assign the delta under the current quantizer generation")
    s.read.parquet(s"$genRoot/index").unionByName(s.read.parquet(deltaDir))
  }

  /** REFRESH the production index into a persisted GEN2 layout — the
    * lifecycle stage the r14 verdict named as the remaining gap: s96
    * proved the warm trainer but served via in-memory re-assignment
    * while the disk still held the OLD matrix. This export completes
    * the rewrite half (the s64 compaction pattern under a refreshed
    * quantizer): one warm Lloyd round over base ∪ delta seeded from
    * the CURRENT persisted centroids, then the grown corpus
    * re-assigned scan-locally under the REFRESHED matrix into a
    * digest-chained gen2 layout (hive partition per list) with the
    * refreshed fine + coarse matrices stored beside it — subsequent
    * serving and streaming prune the new generation's partitions under
    * the new quantizer without touching gen1. The gen2 stamp derives
    * from the base generation's (base regenerates → gen2 invalidates →
    * every delta chained to gen2 invalidates: the whole lineage turns
    * over together). */
  def ensureIvfProdRefreshExport(s: SparkSession, sfDir: String): String = {
    val root = ensureIvfProdIndexExport(s, sfDir)
    val baseStamp = RelationalQueries.readMarker(root).getOrElse {
      // vanished between the ensure above and this read: the missing
      // marker makes the export stale, so re-running the ensure
      // rebuilds the generation and restores the stamp
      ensureIvfProdIndexExport(s, sfDir)
      genStampOf(root)
    }
    val want = s"$baseStamp:gen2-refresh-v2"
    val gen2 = s"$root/gen2"
    if (RelationalQueries.staleDigest(gen2, want))
      rollGeneration(s, prodGrownCorpus(s, sfDir),
        readCentroids(s, s"$root/centroids"), gen2, want)
    root
  }

  /** Roll generation N's served corpus into generation N+1 — THE
    * generation-producing construction, factored so it demonstrably
    * applies to its own output (the r15 verdict's top item: gen2 was
    * built from gen1 exactly once, the stamp chain proven for one
    * link, not shown inductive). One warm Lloyd round over `corpus`
    * seeded from the PREVIOUS generation's centroid matrix, then the
    * corpus re-assigned scan-locally under the REFRESHED matrix into
    * a hive-partition-per-list layout with the refreshed fine +
    * coarse matrices stored beside it, stamped `stamp` (the caller
    * derives it from the previous generation's stamp, so the lineage
    * inverts in one sweep: a base regeneration turns over every
    * stamp transitively chained to it). gen2 = this(gen1's grown
    * corpus, gen1's matrix); gen3 = this(gen2's GUARDED served frame,
    * gen2's matrix) — same function, its own output as input. */
  private[queries] def rollGeneration(s: SparkSession, corpus: DataFrame,
                                      seed: Array[Array[Double]],
                                      genRoot: String, stamp: String): Unit = {
    import s.implicits._
    val refreshed = Similarity.kmeansCentroidsByExprWarm(corpus, seed, iters = 1)
    Similarity.ivfAssignedByExpr(refreshed, corpus)
      .write.mode("overwrite").partitionBy("__cid").parquet(s"$genRoot/index")
    refreshed.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(s"$genRoot/centroids")
    Similarity.kmeansLocalCentroids(refreshed, Similarity.coarseListsFor(prodNlist))
      .zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("kid", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(s"$genRoot/coarse")
    RelationalQueries.markFresh(genRoot, stamp)
  }

  /** Streaming-shaped ingest CHAINED to gen2: a second deterministic
    * append (the next 200 synthetic vectors) assigned with the FROZEN
    * refreshed centroids and landed stamped with gen2's generation
    * stamp via [[landDelta]] — a gen1-assigned landing can never serve
    * against gen2 ([[guardedDeltaUnion]] refuses on the stamp). The
    * freshness check IS the stamp check, so a refreshed gen2 (new
    * stamp) automatically forces a re-assignment of this delta under
    * the new quantizer. */
  def ensureIvfProdGen2DeltaExport(s: SparkSession, sfDir: String): String = {
    val root = ensureIvfProdRefreshExport(s, sfDir)
    ensureChainedDelta(s, sfDir, s"$root/gen2", lo = 200, hi = 400, shift = 200000000L)
    root
  }

  /** Land a generation's chained ingest delta when it is missing or
    * stamped by another generation — ONE landing discipline for every
    * generation in the chain (gen2's delta is rows [200, 400) shifted
    * +200M; gen3's is [400, 600) shifted +300M — each range is non-empty
    * from the 500-vector gate corpus up). The stamp is captured
    * BEFORE the centroids are read: a generation rewrite in the
    * window leaves this landing stamped with the OLD generation — a
    * refused serve and a re-land on the next ensure, never a stale
    * assignment under a fresh stamp. */
  private def ensureChainedDelta(s: SparkSession, sfDir: String, genRoot: String,
                                 lo: Long, hi: Long, shift: Long): Unit = {
    val deltaDir = s"$genRoot/delta"
    val stamp = genStampOf(genRoot)
    if (RelationalQueries.staleDigest(deltaDir, stamp)) {
      import s.implicits._
      val refreshed = readCentroids(s, s"$genRoot/centroids")
      val delta = t(s, sfDir, "embeddings")
        .where($"vec_id" >= lo && $"vec_id" < hi)
        .select(($"vec_id" + shift).as("vec_id"),
          reverse($"embedding").as("embedding"))
      landDelta(Similarity.ivfAssignedByExpr(refreshed, delta), stamp, deltaDir)
    }
  }

  /** Roll the generation chain ONE MORE LINK — gen3 from gen2, by the
    * SAME construction that built gen2 from gen1 ([[rollGeneration]]),
    * which is the r15 verdict's top item: the "applies to its own
    * output" claim, demonstrated rather than asserted. The rollover
    * input is exactly the frame gen2 SERVES — its index unioned with
    * its accumulated stamped delta through [[guardedDeltaUnion]], so a
    * stale delta refuses at REWRITE time too (a compactor must never
    * fold in rows assigned under a foreign quantizer) — and the gen3
    * stamp derives from gen2's exactly as gen2's derives from the
    * base's: inductive, so a base regeneration invalidates gen2, gen3,
    * and every chained delta in one sweep. This is also compaction
    * under rollover — and compaction honors DELETES: the rollover
    * input is gen2's frame AFTER its tombstones ([[deletedServingFrame]]
    * — the gen1 compactor folds tombstonedServingFrame for exactly
    * the same reason), so a row retired from gen2 is never
    * resurrected into gen3's lists, and the tombstone set itself
    * compacts away with the folded delta. The tombstone ensure is
    * part of this chain, so the rollover input is deterministic —
    * never dependent on whether the delete verb happened to run
    * first in the session. */
  def ensureIvfProdGen3Export(s: SparkSession, sfDir: String): String = {
    val root = ensureIvfProdGen2TombstoneExport(s, sfDir)
    val gen2 = s"$root/gen2"
    val gen3 = s"$root/gen3"
    val want = s"${genStampOf(gen2)}:gen3-refresh-v3"
    if (RelationalQueries.staleDigest(gen3, want))
      rollGeneration(s,
        // the guarded frame carries the assigned-layout column names;
        // rename back to corpus shape — the OLD assignment (__cid) is
        // deliberately dropped: gen3 re-assigns every row under its
        // own refreshed matrix
        deletedServingFrame(s, gen2)
          .select(col("nbr_id").as("vec_id"), col("cvec").as("embedding")),
        readCentroids(s, s"$gen2/centroids"), gen3, want)
    root
  }

  /** gen3's chained ingest — the next 100-200 synthetic vectors
    * assigned with gen3's refreshed matrix and stamped with gen3's
    * generation stamp: the [[ensureChainedDelta]] discipline applied
    * to the generation the discipline itself produced. A gen2-stamped
    * landing can never serve against gen3 (the rollover spec pins the
    * refusal), which is what makes rolling generations safe to repeat
    * forever. */
  def ensureIvfProdGen3DeltaExport(s: SparkSession, sfDir: String): String = {
    val root = ensureIvfProdGen3Export(s, sfDir)
    ensureChainedDelta(s, sfDir, s"$root/gen3", lo = 400, hi = 600, shift = 300000000L)
    root
  }

  /** Tombstones for the GEN2 generation — the r15 verdict's item 3:
    * the s63 delete verb existed only against the gen1 layout, so a
    * refreshed generation couldn't shed rows. Same deterministic
    * retired-id rule as s63 (every id ≡ 7 mod 10), over the id space
    * gen2 actually serves (base ∪ delta1 re-assigned into gen2, plus
    * the chained delta2 — the synthetic +100M/+200M shifts preserve id
    * mod 10, so one rule covers all three arms). Metadata-sized, stamped
    * with gen2's generation stamp: a generation rewrite invalidates
    * the tombstone landing with everything else in the chain, and
    * serving refuses a foreign-stamped set ([[deletedServingFrame]])
    * exactly as it refuses a foreign delta. */
  def ensureIvfProdGen2TombstoneExport(s: SparkSession, sfDir: String): String = {
    val root = ensureIvfProdGen2DeltaExport(s, sfDir)
    val gen2 = s"$root/gen2"
    val tombDir = s"$gen2/tombstones"
    // stamp captured before anything is read, as every landing
    val stamp = genStampOf(gen2)
    if (RelationalQueries.staleDigest(tombDir, stamp)) {
      import s.implicits._
      val emb = t(s, sfDir, "embeddings")
      val retired = emb.select($"vec_id").where($"vec_id" % 10 === 7)
        .unionByName(emb.where($"vec_id" < 200 && $"vec_id" % 10 === 7)
          .select(($"vec_id" + 100000000L).as("vec_id")))
        .unionByName(emb.where($"vec_id" >= 200 && $"vec_id" < 400 && $"vec_id" % 10 === 7)
          .select(($"vec_id" + 200000000L).as("vec_id")))
      retired.coalesce(1).write.mode("overwrite").parquet(tombDir)
      RelationalQueries.markFresh(tombDir, stamp)
    }
    root
  }

  /** Tombstones for the GEN3 generation — the delete verb at the
    * ROLLED link, through exactly the primitives the generic frame
    * promises ([[deletedServingFrame]]'s doc): a tombstone landing
    * stamped with gen3's stamp, arms matching the corpus gen3 serves.
    * The retire rule is a SECOND, independent one (id ≡ 3 mod 10 —
    * ids ≡ 7 never reached gen3: the rollover folded them out), so
    * this stacks deletes across links: the gen2 rule compacted away
    * at the roll, the gen3 rule is live at serve time, and a future
    * gen4 roll folds this one out in turn. */
  def ensureIvfProdGen3TombstoneExport(s: SparkSession, sfDir: String): String = {
    val root = ensureIvfProdGen3DeltaExport(s, sfDir)
    val gen3 = s"$root/gen3"
    val tombDir = s"$gen3/tombstones"
    val stamp = genStampOf(gen3)
    if (RelationalQueries.staleDigest(tombDir, stamp)) {
      import s.implicits._
      val emb = t(s, sfDir, "embeddings")
      val retired = emb.select($"vec_id")
        .where($"vec_id" % 10 === 3)
        .unionByName(emb.where($"vec_id" < 200 && $"vec_id" % 10 === 3)
          .select(($"vec_id" + 100000000L).as("vec_id")))
        .unionByName(emb.where($"vec_id" >= 200 && $"vec_id" < 400 && $"vec_id" % 10 === 3)
          .select(($"vec_id" + 200000000L).as("vec_id")))
        .unionByName(emb.where($"vec_id" >= 400 && $"vec_id" < 600 && $"vec_id" % 10 === 3)
          .select(($"vec_id" + 300000000L).as("vec_id")))
      retired.coalesce(1).write.mode("overwrite").parquet(tombDir)
      RelationalQueries.markFresh(tombDir, stamp)
    }
    root
  }

  /** A generation's serving frame after deletes — GENERIC over the
    * generation root (review r16: the verb must not be gen2-shaped
    * when the chain rolls generations routinely): the guarded
    * index ∪ delta union with the tombstoned ids anti-joined out
    * (broadcast — the tombstone set is metadata-sized; no index file
    * is touched to delete a vector, the s63 O(deletes) property
    * carried to any refreshed generation). The tombstone landing's
    * stamp is verified against the generation exactly as the delta's
    * is: a tombstone set landed beside another generation names other
    * rows' lineage and refuses to serve. Deleting at gen3 is this
    * frame over gen3's root plus a tombstone landing with gen3's
    * arms — the same two primitives. */
  private[queries] def deletedServingFrame(s: SparkSession, genRoot: String): DataFrame = {
    val got = RelationalQueries.readMarker(s"$genRoot/tombstones")
    require(got.isDefined,
      s"tombstones at $genRoot/tombstones carry no generation stamp — refuse to serve")
    val gen = genStampOf(genRoot)
    require(got.get == gen,
      s"stale-generation tombstones refuse to serve: stamped '${got.get.take(48)}…' " +
        s"but the generation is '${gen.take(48)}…' — re-land them under the current generation")
    guardedDeltaUnion(s, genRoot, s"$genRoot/delta")
      .join(broadcast(s.read.parquet(s"$genRoot/tombstones")
        .withColumnRenamed("vec_id", "nbr_id")), Seq("nbr_id"), "left_anti")
  }

  /** Ingest-once index DELTA: a batch of new vectors (deterministic
    * synthetics — reversed embeddings under shifted ids) assigned with
    * the FROZEN centroids read from the persisted artifact and written
    * as a separate partition layout beside the base index. The
    * incremental-update path every production IVF index needs: no
    * retraining, no base rewrite — serving unions base + delta and
    * both scans still prune by probed list. Kept separate from
    * `$root/index` so s60's base-only answer is unaffected. */
  def ensureIvfDeltaExport(s: SparkSession, sfDir: String): String = {
    val root = ensureIvfIndexExport(s, sfDir)
    // digest-CHAINED to the base: the delta marker records the base
    // marker's stamp, so the delta is fresh only against the exact
    // base generation whose frozen centroids assigned it — an mtime
    // pairing would trust any marker-metadata coincidence.
    // Self-healing: a base marker that vanished between the staleness
    // check above and this read (a hand-deleted generation) triggers a
    // rebuild instead of surfacing as a raw missing-marker error
    val baseStamp = RelationalQueries.readMarker(root)
      .getOrElse(buildIvfIndex(s, sfDir, root))
    val fresh = RelationalQueries.readMarker(s"$root/delta").contains(baseStamp)
    if (!fresh) {
      import s.implicits._
      val cents = s.read.parquet(s"$root/centroids").orderBy("cid").collect()
        .map(r => r.getSeq[Double](r.fieldIndex("centroid")).toArray)
      val delta = t(s, sfDir, "embeddings").where($"vec_id" < 200)
        .select(($"vec_id" + 100000000L).as("vec_id"),
          reverse($"embedding").as("embedding"))
      Similarity.ivfAssignedByExpr(cents, delta)
        .write.mode("overwrite").partitionBy("__cid").parquet(s"$root/delta")
      RelationalQueries.markFresh(s"$root/delta", baseStamp)
    }
    root
  }

  /** Ingest-once index TOMBSTONES: the retired-vector id set (docs
    * deleted from the corpus — deterministically, every id ≡ 7 mod 10
    * across base and delta) as a metadata-sized partition beside the
    * index. Serving anti-joins it (s63) so deletes take effect without
    * touching a single index file — the O(deletes) delete path every
    * production index needs; compaction (s64) later folds them away.
    * Digest-chained to the base generation exactly as the delta is. */
  def ensureIvfTombstoneExport(s: SparkSession, sfDir: String): String = {
    val root = ensureIvfDeltaExport(s, sfDir)
    val baseStamp = RelationalQueries.readMarker(root)
      .getOrElse(buildIvfIndex(s, sfDir, root)) // self-heal, as the delta does
    val fresh = RelationalQueries.readMarker(s"$root/tombstones").contains(baseStamp)
    if (!fresh) {
      import s.implicits._
      val emb = t(s, sfDir, "embeddings")
      emb.select($"vec_id").where($"vec_id" % 10 === 7)
        .unionByName(emb.where($"vec_id" < 200 && $"vec_id" % 10 === 7)
          .select(($"vec_id" + 100000000L).as("vec_id")))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$root/tombstones")
      RelationalQueries.markFresh(s"$root/tombstones", baseStamp)
    }
    root
  }

  /** Base ∪ delta with the tombstoned ids anti-joined out — the s63
    * serving frame. The tombstone set is metadata-sized, so the
    * anti-join is a broadcast probe; at 100 TB no index file is
    * rewritten to delete a vector. */
  private def tombstonedServingFrame(s: SparkSession, root: String): DataFrame =
    s.read.parquet(s"$root/index")
      .unionByName(s.read.parquet(s"$root/delta"))
      .join(broadcast(s.read.parquet(s"$root/tombstones")
        .withColumnRenamed("vec_id", "nbr_id")), Seq("nbr_id"), "left_anti")

  /** Compaction: fold base + delta − tombstones into a NEW
    * digest-stamped generation (`gen2`, its own hive-partitioned list
    * layout). Assignment is per-vector under the FROZEN centroids, so
    * the compacted index is bit-identical to a from-scratch rebuild on
    * the surviving corpus — serving flips to one clean scan and the
    * tombstone anti-join disappears. The gen2 marker records the base
    * generation's stamp: the whole chain (base → delta → tombstones →
    * gen2) invalidates together when the corpus regenerates. */
  def ensureIvfCompaction(s: SparkSession, sfDir: String): String = {
    val root = ensureIvfTombstoneExport(s, sfDir)
    val baseStamp = RelationalQueries.readMarker(root).getOrElse {
      // self-heal — but healing the BASE invalidates the delta and
      // tombstone generations chained to the old stamp, and
      // compaction is the chain's TERMINAL link: nothing downstream
      // would ever re-validate a gen2 stamped against a healed base
      // over a stale delta. Re-run the chain ensure (it rebuilds
      // delta + tombstones against the new stamp) before compacting.
      val healed = buildIvfIndex(s, sfDir, root)
      ensureIvfTombstoneExport(s, sfDir)
      healed
    }
    val fresh = RelationalQueries.readMarker(s"$root/gen2").contains(baseStamp)
    if (!fresh) {
      tombstonedServingFrame(s, root)
        .write.mode("overwrite").partitionBy("__cid").parquet(s"$root/gen2/index")
      RelationalQueries.markFresh(s"$root/gen2", baseStamp)
    }
    root
  }

  /** The CURATED corpus as chunk vectors: d68's seven-stage MinHash
    * training pipeline (quality → dedup → components → decontamination
    * → rebalance → chunking) feeding the hashing-trick featurizer —
    * vec_id = doc_id·1000 + chunk_idx (chunk counts are two digits on
    * this corpus; 1000 keeps the id space collision-free with margin),
    * embedding = 16-bucket FNV token-count vector as array<float>
    * (counts are small integers — exact in float, and the float shape
    * is what the whole Similarity stack serves). This is the
    * curate→INDEX boundary: what a production pipeline embeds and
    * indexes is the SURVIVING corpus, never the raw one. */
  private def curatedChunkVectors(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    trainingCorpusDf(docs.where($"doc_id" < 5), docs.where($"doc_id" >= 5),
        d => Dedup.minhashNearDups(d, "doc_id", "text", 0.5).select($"i", $"j"))
      .select(($"doc_id" * 1000 + $"chunk_idx").as("vec_id"),
        graft.functions.TextFunctions
          .hashed_count_vector(TextAnalysis.tokens($"chunk_text"), 16)
          .cast("array<float>").as("embedding"),
        // the payload the refine tier (s76) re-ranks against — stored
        // IN the index so serving never joins back to the raw corpus
        $"chunk_text")
  }

  /** s73/s76's shared COARSE serving stage — literal queries →
    * driver-side probe selection → STATIC `__cid IN (...)` on the
    * index scan (planning-time partition pruning; DPP cannot fire
    * from a LocalRelation probe side). The driver-side
    * featurize/cosine replicate the expression path's arithmetic
    * exactly (in-order folds), so the restricted scan is a superset
    * of everything the probe join touches. ONE definition so the
    * refine tier is built on exactly the coarse stage it claims.
    * Returns (centroids, pruned index scan, query-probe frame). */
  private def curatedCoarseServe(s: SparkSession, dir: String)
      : (Array[Array[Double]], DataFrame, DataFrame) = {
    import s.implicits._
    val root = ensureCuratedIndexExport(s, dir)
    val cents = s.read.parquet(s"$root/centroids").orderBy("cid").collect()
      .map(r => r.getSeq[Double](r.fieldIndex("centroid")).toArray)
    val qvecs = curatedSearchQueries.map { case (_, text) =>
      graft.core.TextHash.hashedCounts(
        text.split("\\s+").filter(_.nonEmpty).toArray[AnyRef], 16)
    }
    val cids = Similarity.literalProbeCids(cents, qvecs)
    val index = s.read.parquet(s"$root/index")
      .where($"__cid".isin(cids.map(Integer.valueOf): _*))
    val probes = curatedSearchQueries.toDF("vec_id", "qtext")
      .select($"vec_id",
        graft.functions.TextFunctions
          .hashed_count_vector(TextAnalysis.tokens($"qtext"), 16)
          .cast("array<float>").as("embedding"))
    (cents, index, probes)
  }

  /** Curated-corpus index root (per-sf; sibling of [[ivfIndexRoot]]). */
  def curatedIndexRoot(sfDir: String): String =
    RelationalQueries.dataRoot("ivf-curated", sfDir, "documents")

  /** Ingest-once index over the CURATED corpus — the end of the
    * curate → index → serve arc: d68's surviving chunked corpus is
    * featurized, k-means-trained (nlist=8), and laid out with one hive
    * partition per inverted list plus the centroids artifact — the
    * exact s60 export machinery over the curation OUTPUT instead of
    * the raw embeddings table. Digest-chained to the curation input:
    * the marker records the documents digest (captured BEFORE the
    * pipeline reads it) plus a layout-version salt, so regenerating
    * the corpus — or changing the index layout across engine versions
    * — invalidates the index. nlist is OCCUPANCY-HELD with the
    * SURVIVING CHUNK count, not the sf label (Similarity.ivfListsFor):
    * 16 lists at the sf0.01 gate corpus's 237 chunks but 32 at
    * sf0.001's 281 — the two 500-doc corpora have different text, so
    * curation keeps different chunk counts — and 32 at sf0.1's 2 675
    * up to the cap: the centroids
    * artifact carries its own cardinality and the oracles splice
    * whatever was trained, so serving and verification are
    * size-agnostic. Each partition row also stores the chunk TEXT —
    * the payload the refine tier (s76) re-ranks against. */
  def ensureCuratedIndexExport(s: SparkSession, sfDir: String): String = {
    val root = curatedIndexRoot(sfDir)
    // digest captured BEFORE the pipeline reads the source; the layout
    // version invalidates pre-r11 exports (nlist=8, no payload column)
    val want = RelationalQueries.srcDigest(sfDir, "documents") + ":curated-v2"
    if (RelationalQueries.staleDigest(root, want)) {
      import s.implicits._
      // checkpointed once: k-means iterates over it and the index
      // write consumes it again — without this every pass replays the
      // full seven-stage curation (Bench/Verify sweep the blocks)
      val vecs = curatedChunkVectors(s, sfDir).localCheckpoint(true)
      val nlist = Similarity.ivfListsFor(vecs.count())
      val cents = Similarity.kmeansCentroidsByExpr(vecs, nlist = nlist, iters = 2)
      Similarity.ivfAssignedByExpr(cents, vecs, payloadCols = Seq("chunk_text"))
        .write.mode("overwrite").partitionBy("__cid").parquet(s"$root/index")
      cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cid", "centroid")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$root/centroids")
      RelationalQueries.markFresh(root, want)
    }
    root
  }

  /** DuckDB: whitespace tokens / 3-word shingles mirroring TextAnalysis/Dedup. */
  private val duckTokens =
    "list_filter(string_split_regex(text, '\\s+'), w -> length(w) > 0)"
  /** d64/d65's shared span-derivation CTE chain (tokens → positioned
    * 8-grams → cross-doc dup grams → marked windows → gaps-and-islands
    * merge → `spans(doc_id, span_start, span_end)`), 0-based inclusive
    * token positions. ONE encoding so the two oracles cannot drift. */
  private val repeatedSpanCtes: String =
    """w AS (SELECT doc_id,
      |  list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS tl
      |  FROM documents),
      |p AS (SELECT doc_id, i - 1 AS pos, array_to_string(tl[i:i+7], ' ') AS g
      |  FROM w, unnest(generate_series(1, greatest(len(tl) - 7, 0))) AS u(i)),
      |dup AS (SELECT g FROM p GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
      |m AS (SELECT p.doc_id, p.pos, p.pos + 7 AS e FROM p JOIN dup USING (g)),
      |iv AS (SELECT doc_id, pos, e,
      |  CASE WHEN pos <= max(e) OVER (PARTITION BY doc_id ORDER BY pos
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
      |    THEN 0 ELSE 1 END AS brk FROM m),
      |isl AS (SELECT doc_id, pos, e,
      |  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM iv),
      |spans AS (SELECT doc_id, min(pos) AS span_start, max(e) AS span_end
      |  FROM isl GROUP BY doc_id, grp)""".stripMargin

  private def duckShingles(wordsExpr: String, n: Int = 3): String =
    s"list_distinct(list_transform(range(1, greatest(len($wordsExpr)-$n,0)+2), " +
      s"i -> array_to_string($wordsExpr[i:i+${n - 1}], ' ')))"

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries ++ sampledTwinQueries

  private lazy val baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup groups: one shuffle on content, keeper = min id.
    "d30_dedup_exact" -> ((s, dir) => {
      import s.implicits._
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
        .select($"keeper", $"copies", length($"text").cast("long").as("n_chars"))
        .orderBy("keeper")
    }),
    // Production-shape exact dedup: the exchange carries (sha-256
    // digest, length) ~72-byte rows instead of full bodies (d30's
    // measured sf10 slope 18.7 was the body-payload shuffle —
    // SCALING.md). Crypto-strength digest because curation corpora are
    // adversarial (md5 chosen-prefix collisions are constructible). The
    // oracle RE-DERIVES the digest: DuckDB's sha256() emits the
    // identical lowercase hex, so a digest mismatch (or any grouping
    // drift) hash-fails.
    "d66_dedup_digest" -> ((s, dir) => {
      import s.implicits._
      Dedup.exactGroupsByDigest(t(s, dir, "documents"), "doc_id", "text")
        .select($"digest", $"keeper", $"copies", $"n_chars")
        .orderBy("keeper")
    }),
    // MinHash+LSH near-dups, exact-Jaccard verified (ground truth: d33).
    "d31_dedup_minhash" -> ((s, dir) => {
      import s.implicits._
      Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text", threshold = 0.5)
        .select($"i", $"j", round($"jaccard", 6).as("jaccard"))
        .orderBy("i", "j")
    }),
    // SimHash signatures + Hamming-≤3 near-dup pairs.
    "d32_dedup_simhash" -> ((s, dir) => {
      import s.implicits._
      Dedup.simhashNearDups(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .orderBy("i", "j")
    }),
    // Exact n-gram Jaccard via inverted shingle index — full oracle.
    "d33_ngram_jaccard" -> ((s, dir) => {
      import s.implicits._
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text", threshold = 0.5)
        .select($"i", $"j", $"inter", $"uni")
        .orderBy("i", "j")
    }),
    // Repeated-span exact-substring dedup (the Lee-et-al suffix-array
    // pass as a linear postings semi-join — see Dedup.repeatedSpans):
    // every maximal ≥8-token span that appears verbatim in ≥2 docs,
    // with 0-based inclusive token indices. Spark keys the shuffles on
    // 64-bit span fingerprints (the 100 TB shape); the oracle re-derives
    // the same spans from the literal 8-gram STRINGS, so a fingerprint
    // collision or an unfaithful island merge hash-mismatches.
    "d64_repeated_spans" -> ((s, dir) => {
      import s.implicits._
      Dedup.repeatedSpans(t(s, dir, "documents"), "doc_id", "text", n = 8)
        .select($"id".as("doc_id"), $"span_start", $"span_end", $"span_tokens")
        .orderBy("doc_id", "span_start")
    }),
    // d64's redaction step: affected docs re-emitted with the
    // duplicated token positions removed (exact (id, pos) anti-join —
    // never a range probe) and the survivors rejoined in order.
    "d65_span_redact" -> ((s, dir) => {
      import s.implicits._
      Dedup.redactRepeatedSpans(t(s, dir, "documents"), "doc_id", "text", n = 8)
        .select($"id".as("doc_id"), $"n_removed", $"clean_text")
        .orderBy("doc_id")
    }),
    // Embedding cosine near-dup pairs (exact; LSH variant tested in spec).
    "d34_embed_neardup" -> ((s, dir) => {
      import s.implicits._
      Similarity.nearDupPairs(t(s, dir, "embeddings"), threshold = 0.5)
        .select($"i", $"j")
        .orderBy("i", "j")
    }),
    // Brute-force cosine top-10 for the first 5 vectors as queries.
    "s35_ann_brute" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.where($"vec_id" < 5), k = 10)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // Retrieval join — the RAG / grounded-training corpus-construction
    // step: ANN hits joined back to document metadata so neighbor ids
    // become usable text records. The hit set is queries×k (tiny);
    // broadcast it into the corpus side so the enrichment is a
    // broadcast probe of the big table — no corpus shuffle at 100 TB.
    "s56_retrieval_join" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val hits = Similarity.bruteForceTopK(emb, emb.where($"vec_id" < 5), k = 10)
        .select($"query_id", $"nbr_id", $"rank")
      t(s, dir, "documents")
        .select($"doc_id".as("nbr_id"), $"lang", $"source", $"n_chars")
        .join(broadcast(hits), Seq("nbr_id"))
        .select($"query_id", $"rank", $"nbr_id", $"lang", $"source", $"n_chars")
        .orderBy("query_id", "rank")
    }),
    // LSH-bucketed ANN — approximate; recall pinned vs brute in spec.
    "s36_ann_lsh" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.where($"vec_id" < 5), k = 10, maxBitDiff = 2)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // IVF ANN (k-means coarse quantizer, probe-limited). The quantizer
    // is deterministic (seeded, fixed iteration count), so the centroids
    // computed here are stashed and spliced into the oracle SQL as
    // literals (Verify runs queries BEFORE dumping oracle_sql.json) —
    // the oracle then recomputes assignment, probing and ranking fully
    // independently in DuckDB.
    // The PERSISTED index lifecycle: build once on disk, serve many
    // sessions. IVF lists are laid out as hive partitions
    // (partitionBy(list id)) with per-vector norms precomputed at
    // build time, and the centroids ship alongside as a metadata-sized
    // artifact table. Serving reads the centroids back (16 rows), and
    // the broadcast probe join on the PARTITION column lets dynamic
    // partition pruning skip every unprobed list's directory — at
    // 100 TB the query reads ~nprobe/nlist of the index files and
    // retrains nothing. Answers are identical to the in-memory s37
    // path (same trainer, doubles round-trip parquet exactly).
    "s60_ann_ivf_persisted" -> ((s, dir) => {
      import s.implicits._
      val root = ensureIvfIndexExport(s, dir)
      val cents = s.read.parquet(s"$root/centroids").orderBy("cid").collect()
        .map(r => r.getSeq[Double](r.fieldIndex("centroid")).toArray)
      OracleStash.put(OracleStash.S60Cents, cents)
      val index = s.read.parquet(s"$root/index")
      Similarity.ivfTopKOnIndexByExpr(cents, index,
          t(s, dir, "embeddings").where($"vec_id" < 5), k = 10)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // Incremental index update: base + delta probed together. The
    // delta batch was assigned with the FROZEN persisted centroids (no
    // retrain, no base rewrite) into its own partition layout; the
    // union of the two scans serves queries over old and new vectors
    // alike, each scan still pruned to the probed lists.
    "s61_ann_index_append" -> ((s, dir) => {
      import s.implicits._
      val root = ensureIvfDeltaExport(s, dir)
      val cents = s.read.parquet(s"$root/centroids").orderBy("cid").collect()
        .map(r => r.getSeq[Double](r.fieldIndex("centroid")).toArray)
      OracleStash.put(OracleStash.S61Cents, cents)
      val assigned = s.read.parquet(s"$root/index")
        .unionByName(s.read.parquet(s"$root/delta"))
      Similarity.ivfTopKOnIndexByExpr(cents, assigned,
          t(s, dir, "embeddings").where($"vec_id" < 5), k = 10)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // Index DELETE path: base ∪ delta served with the tombstoned ids
    // anti-joined out (broadcast — the tombstone set is metadata-sized,
    // no index file is touched). With frozen centroids the answer must
    // equal a from-scratch rebuild on the surviving corpus, which is
    // exactly what the oracle recomputes.
    "s63_ann_index_delete" -> ((s, dir) => {
      import s.implicits._
      val root = ensureIvfTombstoneExport(s, dir)
      val cents = s.read.parquet(s"$root/centroids").orderBy("cid").collect()
        .map(r => r.getSeq[Double](r.fieldIndex("centroid")).toArray)
      OracleStash.put(OracleStash.S63Cents, cents)
      Similarity.ivfTopKOnIndexByExpr(cents, tombstonedServingFrame(s, root),
          t(s, dir, "embeddings").where($"vec_id" < 5), k = 10)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // Compacted-generation serving: the same answer as s63 from ONE
    // clean hive-partitioned scan — base, delta and tombstones folded
    // into a new digest-stamped generation, the anti-join gone. The
    // oracle is the identical surviving-corpus recompute: compaction
    // must never change an answer.
    "s64_ann_index_compact" -> ((s, dir) => {
      import s.implicits._
      val root = ensureIvfCompaction(s, dir)
      val cents = s.read.parquet(s"$root/centroids").orderBy("cid").collect()
        .map(r => r.getSeq[Double](r.fieldIndex("centroid")).toArray)
      OracleStash.put(OracleStash.S64Cents, cents)
      Similarity.ivfTopKOnIndexByExpr(cents, s.read.parquet(s"$root/gen2/index"),
          t(s, dir, "embeddings").where($"vec_id" < 5), k = 10)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // The full LLM-data arc COMPOSED — curate → index → serve: d68's
    // seven-stage MinHash curation feeds the hashing-trick featurizer,
    // the result is k-means-trained and persisted as a hive-partitioned
    // IVF index digest-chained to the curation input (s60's export
    // machinery over the curation OUTPUT), and serving probes the five
    // lowest-id curated chunks against it with DPP pruning the unprobed
    // lists. The oracle composes the d48 chunk-chain CTEs with the
    // centroid-splice probe/rank SQL — a curation drift, featurizer
    // drift, or serving drift all hash-fail through ONE query.
    "s72_curate_index_serve" -> ((s, dir) => {
      import s.implicits._
      val root = ensureCuratedIndexExport(s, dir)
      val cents = s.read.parquet(s"$root/centroids").orderBy("cid").collect()
        .map(r => r.getSeq[Double](r.fieldIndex("centroid")).toArray)
      OracleStash.put(OracleStash.S72Cents, cents)
      val index = s.read.parquet(s"$root/index")
      // probes come FROM the persisted index (the curated corpus's own
      // vectors — a re-run of the curation chain per probe would repeat
      // the whole pipeline): the surviving chunks of the first seven
      // corpus docs, as a real id-range FILTER — a selective predicate
      // on the probe side is what lets dynamic partition pruning skip
      // the unprobed list directories (a LIMIT would not qualify)
      val probes = index.where($"nbr_id" < 12000)
        .select($"nbr_id".as("vec_id"), $"cvec".as("embedding"))
      Similarity.ivfTopKOnIndexByExpr(cents, index, probes, k = 5)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // The serving API a user actually calls — TEXT query in, curated
    // chunks out: the literal query strings are featurized with the
    // SAME hashing-trick vectorizer the index was built with, then
    // probe the persisted curated index (IVF probe + DPP, as s72).
    // The oracle re-derives the query vectors from the literal strings
    // (per-token FNV fold in SQL) on top of the full composed chain —
    // an asymmetric featurizer (query side drifting from index side)
    // hash-fails immediately.
    "s73_curated_text_search" -> ((s, dir) => {
      import s.implicits._
      val (cents, index, probes) = curatedCoarseServe(s, dir)
      OracleStash.put(OracleStash.S73Cents, cents)
      Similarity.ivfTopKOnIndexByExpr(cents, index, probes, k = 5)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // Two-stage serving over the curated index — the production
    // retrieve-then-rerank shape (FAISS IndexRefineFlat, s62's refine
    // mechanism composed onto s73): the coarse probe (static-IN pruned
    // IVF scan over 16-bucket vectors) nominates a 20-deep shortlist
    // per query, then the REFINE tier re-ranks those rows by a 4×
    // finer featurizer (64 buckets) computed from the chunk TEXT
    // stored in the index partitions — answer quality recovers what
    // the coarse representation gave up, at shortlist cost (queries ×
    // 20 rows, broadcast back into the SAME pruned scan), never corpus
    // cost. The oracle recomputes BOTH featurizers from the literal
    // query strings and the full composed curation chain.
    "s76_curated_search_refined" -> ((s, dir) => {
      import s.implicits._
      val (cents, index, probes) = curatedCoarseServe(s, dir)
      OracleStash.put(OracleStash.S76Cents, cents)
      val shortlist = Similarity.ivfTopKOnIndexByExpr(cents, index, probes, k = 20)
        .select($"query_id", $"nbr_id")
      val fine = index
        .join(broadcast(shortlist), Seq("nbr_id"))
        .select($"query_id", $"nbr_id",
          graft.functions.TextFunctions
            .hashed_count_vector(TextAnalysis.tokens($"chunk_text"), 64).as("cfine"))
      val qfine = curatedSearchQueries.toDF("query_id", "qtext")
        .select($"query_id",
          graft.functions.TextFunctions
            .hashed_count_vector(TextAnalysis.tokens($"qtext"), 64).as("qfine"))
      val reranked = fine.join(broadcast(qfine), Seq("query_id"))
        .select($"query_id", $"nbr_id",
          Similarity.cosine($"qfine", $"cfine").as("sim"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy($"sim".desc, $"nbr_id")
      reranked.withColumn("rank", row_number().over(w))
        .where($"rank" <= 5)
        .select($"query_id", $"nbr_id", $"rank".cast("int").as("rank"))
        .orderBy("query_id", "rank")
    }),
    "s37_ann_ivf" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val cents = centroids16(s, dir)
      OracleStash.put(OracleStash.S37Cents, cents)
      Similarity.ivfTopKByExpr(cents, emb, emb.where($"vec_id" < 5), k = 10)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // EMBEDDING-QUALITY EVAL — leave-one-out 1-NN label agreement, the
    // standard "are these embeddings any good" report (a vector's
    // nearest neighbor should share its label): per label, how many
    // vectors' top-1 exact-cosine neighbor agrees. GROUND-TRUTH form —
    // every vector queries the whole corpus (the d34 role: recall-1,
    // inherently all-pairs); the corpus-scale path is s80, which runs
    // the same eval through the IVF probe. Deterministic top-1 via the
    // (sim DESC, nbr_id) tie-break both engines rank identically (the
    // s35 precedent).
    "s79_knn_label_eval" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      // rankAgg: EVERY vector is a query, so the exact-scored pairs
      // are n². The broadcast-query form ranks them inside the corpus
      // scan (FusedTopK: ≤1 (sim, nbr_id) per query per task in
      // primitive buffers, partials merged on the driver) — no pair
      // rows, no join, no shuffle, no window sort. Row-identical
      // ((sim DESC, nbr_id) total order — the s80 discipline); the
      // all-pairs SCORING that makes this the ground-truth form is
      // unchanged. The top-1 table is computed when this query is
      // built; the returned plan joins it to the labels.
      knnLabelAgreement(emb, Similarity.bruteForceTopK(emb, emb, k = 1, rankAgg = true))
    }),
    // s79's PRODUCTION TWIN: the same leave-one-out eval with the
    // top-1 taken from the IVF probe (every vector probes its nprobe
    // lists; the candidate join is list-bucketed — corpus-scale-safe,
    // never all-pairs). Accuracy can differ from s79 exactly where the
    // probe misses the true neighbor — that GAP is itself the standard
    // ANN-recall diagnostic, and the oracle re-derives the probe path
    // (spliced centroids, the s37 machinery) so the reported numbers
    // are the probe's true numbers, not a recall assumption.
    "s80_knn_label_eval_ivf" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      // occupancy-held nlist (ivfListsFor, 32 at the 500-vector gate →
      // probed fraction 4/32): every-vector-is-a-query makes the
      // probed fraction the dominant cost, so the nlist discipline
      // matters MORE here than in the few-query serving family
      val cents = centroidsHeld(s, dir)
      OracleStash.put(OracleStash.S80Cents, cents)
      // the query side IS the corpus — never broadcast it: the probe
      // join shuffles on the list id (both sides corpus-sized, evenly
      // list-bucketed), the driver never holds the vectors. Ranking
      // rides the bounded TopKAgg buffers (rankAgg), not a window: the
      // window form sorts the WHOLE candidate stream, which at n=2M
      // spilled past this box's disk (SCALING.md r13 addendum 2) — the
      // eval family is exactly the shape where that stream is huge.
      // Answers are row-identical (same total order; the unchanged
      // oracle hash-checks it).
      knnLabelAgreement(emb,
        Similarity.ivfTopKByExpr(cents, emb, emb, k = 1, broadcastQueries = false,
          rankAgg = true))
    }),
    // IVF ANN serving at nlist=128 — 4× past the gate's occupancy-held
    // 32 lists (ivfListsFor's default cap). The fused argmax/probe
    // kernels take any nlist, so the quantizer is trained and served
    // exactly as s37's; the oracle is the same spliced-centroid
    // probe/rank recompute (ivfProbeOracleSql — size-agnostic VALUES
    // literals), so the gate checks the 128-list answers end-to-end.
    // (The key keeps its historical `_table` suffix: this query once
    // ran through a broadcast centroid-table encoding, since folded
    // into the one kernel.)
    "s81_ann_ivf_table" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val cents = centroids(s, dir, 128)
      OracleStash.put(OracleStash.S81Cents, cents)
      Similarity.ivfTopKByExpr(cents, emb, emb.where($"vec_id" < 5), k = 10)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // s80's eval at nlist=128 — the every-vector-is-a-query shape where
    // the probed fraction (nprobe/nlist) dominates: at 128 lists it is
    // 4× smaller than s80's capped 32. Query side is the corpus — never
    // broadcast. Same spliced-centroid oracle recompute as s80, so the
    // reported per-label accuracies are the 128-list probe's true
    // numbers. (Historical `_table` suffix, as s81.)
    "s82_knn_label_eval_table" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val cents = centroids(s, dir, 128)
      OracleStash.put(OracleStash.S82Cents, cents)
      // rankAgg: the eval-family ranking discipline (see s80)
      knnLabelAgreement(emb,
        Similarity.ivfTopKByExpr(cents, emb, emb, k = 1, broadcastQueries = false,
          rankAgg = true))
    }),
    // IVF ANN serving at nlist=256: the whole centroid matrix rides the
    // plan as ONE Literal (the PQ-codebook pattern) and enters codegen
    // as a reference object, so assignment and probe selection are
    // fused loops inside the scan projection. At 256 lists over this
    // corpus the probed lists can hold fewer than k candidates —
    // correct IVF semantics (fewer results, never wrong ones), and the
    // oracle recomputes the same sparse answer from the same spliced
    // centroids.
    "s83_ann_ivf_expr" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val cents = centroids(s, dir, 256)
      OracleStash.put(OracleStash.S83Cents, cents)
      Similarity.ivfTopKByExpr(cents, emb, emb.where($"vec_id" < 5), k = 10)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // s80/s82's leave-one-out eval at nlist=256: probe selection for the
    // corpus-sized query side is one fused loop per row, with no
    // ×nlist row expansion, and assignment needs no join-back
    // (measured at sf10/nlist=1024 against a broadcast centroid-table
    // encoding: eval 11.8 s vs 22.8 s, train 4.4 s vs 15.2 s, identical
    // agreement — SCALING.md r13). Same spliced-centroid recompute
    // oracle as s80/s82.
    "s84_knn_label_eval_expr" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = centroids(s, dir, 256)
      OracleStash.put(OracleStash.S84Cents, cents)
      // rankAgg: the eval-family ranking discipline (see s80)
      knnLabelAgreement(emb,
        Similarity.ivfTopKByExpr(cents, emb, emb, k = 1, broadcastQueries = false,
          rankAgg = true))
    }),
    // HIERARCHICAL (two-level) ANN serving — the FOURTH tier, the one
    // SCALING.md r13 named for ≥10¹⁰ vectors and left unbuilt: past
    // that scale even the expression tier's flat per-row nlist
    // quantizer scan dominates, so the quantizer itself gets an index —
    // a coarse quantizer over the FINE CENTROIDS (trained driver-side:
    // its input is the nlist×dim matrix, metadata, never corpus rows).
    // Per row the fused loop scores ncoarse + cprobe·(nlist/ncoarse)
    // centroids instead of nlist (√nlist-fold at the balanced ncoarse =
    // √(cprobe·nlist), coarseListsFor). The fine→coarse ownership map
    // is DERIVED (argmax, ties→low) from the two matrices — so the
    // oracle re-derives it from the same spliced VALUES rather than
    // trusting a shipped map, then walks the whole two-level path:
    // coarse probes (ties→high kid), hierarchical assignment,
    // hierarchical query probes, candidate ranking. Empty coarse cells
    // are never probed (they own no lists; spec-pinned). Fine matrix =
    // the SAME 256-list expression-tier quantizer s83/s84 serve — one
    // trained index, now behind its fourth serving shape.
    "s85_ann_ivf_hier" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val fine = centroids(s, dir, 256)
      val coarse = Similarity.kmeansLocalCentroids(fine,
        Similarity.coarseListsFor(fine.length))
      OracleStash.put(OracleStash.S85Model, (coarse, fine))
      Similarity.hierTopKByExpr(coarse, fine, emb, emb.where($"vec_id" < 5), k = 10)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // the s80/s82/s84 leave-one-out eval THROUGH THE HIERARCHICAL
    // TIER — the every-vector-is-a-query shape where the per-row
    // quantizer cost is the term this tier exists to cut (the
    // candidate-join term is unchanged from s84: same nlist, same
    // nprobe). Accuracy can differ from s84 exactly where the
    // two-level approximation assigns or probes a different list —
    // that gap is the tier's OWN recall diagnostic, and the oracle
    // recomputes the full two-level path from the spliced matrices,
    // so the reported per-label numbers are the hierarchical probe's
    // true numbers.
    "s86_knn_label_eval_hier" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val fine = centroids(s, dir, 256)
      val coarse = Similarity.kmeansLocalCentroids(fine,
        Similarity.coarseListsFor(fine.length))
      OracleStash.put(OracleStash.S86Model, (coarse, fine))
      // rankAgg: the eval-family ranking discipline (see s80)
      knnLabelAgreement(emb,
        Similarity.hierTopKByExpr(coarse, fine, emb, emb, k = 1,
          broadcastQueries = false, rankAgg = true))
    }),
    // ANN RECALL@10 as a FIRST-CLASS GATED METRIC — the standard index
    // acceptance audit a deployment runs before switching serving to a
    // new quantizer: for a query sample, how many of the exact top-10
    // does the probe return? Until now recall was implied (the s80-vs-
    // s79 accuracy gap) or spec-internal; here the per-query hit count
    // is itself the oracle-checked answer — both rankings (brute
    // ground truth AND the 256-list expression-tier probe) re-derived
    // in SQL and intersected, counts compared in INTEGERS. Scale
    // shape: the ground truth runs over the query SAMPLE only (the s35
    // serving shape — linear in the corpus, never all-pairs), which is
    // exactly how a production recall audit is affordable. The gate
    // checks the COMPUTATION, not a recall target: at the gate params
    // (nprobe 4 of 256 lists = 1.6 % probed, isotropic corpus) the
    // observed 3-5/10 is the probed-fraction story told in numbers —
    // raising nprobe or holding occupancy (s80's discipline) buys
    // recall, and this query is the audit that prices that knob.
    "s88_ann_recall" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val q = emb.where($"vec_id" < 5)
      val cents = centroids(s, dir, 256)
      OracleStash.put(OracleStash.S88Cents, cents)
      val ivf = Similarity.ivfTopKByExpr(cents, emb, q, k = 10)
        .select($"query_id", $"nbr_id").withColumn("__hit", lit(1))
      Similarity.bruteForceTopK(emb, q, k = 10)
        .select($"query_id", $"nbr_id")
        .join(ivf, Seq("query_id", "nbr_id"), "left")
        .groupBy($"query_id")
        .agg(sum(coalesce($"__hit", lit(0))).cast("long").as("hits_at_10"))
        .orderBy("query_id")
    }),
    // s88's audit THROUGH THE HIERARCHICAL PROBE — recall@10 of the
    // two-level path against the same exact ground truth: the price of
    // the coarse-level approximation (probing only cprobe coarse
    // cells' lists) expressed in the metric a deployment actually
    // decides by, as a GATED number (the oracle walks the whole
    // two-level path from the spliced matrices — hierPathCtes — then
    // intersects with the brute top-10 in integers). Beside s88 this
    // prices the fourth tier's recall against the flat tier's on
    // identical queries and the identical fine quantizer.
    "s89_ann_recall_hier" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val q = emb.where($"vec_id" < 5)
      val fine = centroids(s, dir, 256)
      val coarse = Similarity.kmeansLocalCentroids(fine,
        Similarity.coarseListsFor(fine.length))
      OracleStash.put(OracleStash.S89Model, (coarse, fine))
      val hier = Similarity.hierTopKByExpr(coarse, fine, emb, q, k = 10)
        .select($"query_id", $"nbr_id").withColumn("__hit", lit(1))
      Similarity.bruteForceTopK(emb, q, k = 10)
        .select($"query_id", $"nbr_id")
        .join(hier, Seq("query_id", "nbr_id"), "left")
        .groupBy($"query_id")
        .agg(sum(coalesce($"__hit", lit(0))).cast("long").as("hits_at_10"))
        .orderBy("query_id")
    }),
    // PRODUCTION-NLIST PERSISTED SERVING — the r13 verdict's top item
    // closed as a DECLARED query: the four tiers and the probes proved
    // nlist=1024 serving (2.2-2.5×/batch pruned reads), but every
    // gated persisted query still served a 16-list index.
    // This one serves a 128-list index persisted by the s60 export
    // machinery through the EXPRESSION tier (trained by
    // kmeansCentroidsByExpr, assigned scan-locally, hive-partitioned
    // per list) via ivfTopKOnIndexByExpr — probe selection is one
    // fused top-nprobe loop in the query scan's projection, and the
    // broadcast probe join on the partition column fires DYNAMIC
    // PARTITION PRUNING on the index scan (pinned in PlanChecksSpec):
    // the session reads ~nprobe/nlist of the index directories and
    // retrains nothing. Same spliced-centroid oracle as s60/s83 — the
    // answer must not depend on nlist provenance or where the
    // assigned corpus lives.
    "s90_ann_ivf_prod" -> ((s, dir) => {
      import s.implicits._
      val root = ensureIvfProdIndexExport(s, dir)
      val fine = readCentroids(s, s"$root/centroids")
      OracleStash.put(OracleStash.S90Cents, fine)
      Similarity.ivfTopKOnIndexByExpr(fine, s.read.parquet(s"$root/index"),
          t(s, dir, "embeddings").where($"vec_id" < 5), k = 10)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // The SAME persisted production index behind the HIERARCHICAL
    // serving shape: the coarse matrix persisted BESIDE the fine
    // centroids (metadata-sized, trained at build time) drives
    // hierTopKOnIndexByExpr — per query the fused loop scores ncoarse
    // + cprobe·(nlist/ncoarse) centroids instead of nlist, the
    // ≥10¹⁰-vector query-side lever over an index that was assigned
    // EXACTLY (flat argmax at build time — the best-quality config: a
    // build pays the flat scan once, queries pay the two-level loop
    // forever). The oracle walks the hybrid path from the two spliced
    // matrices: FLAT assignment (the build's rule) + the full
    // two-level query probe re-derivation (ownership argmax, coarse
    // probes, fine probes among owned lists) — nothing trusted but
    // the persisted values.
    "s91_ann_ivf_prod_hier" -> ((s, dir) => {
      import s.implicits._
      val root = ensureIvfProdIndexExport(s, dir)
      val fine = readCentroids(s, s"$root/centroids")
      val coarse = readCentroids(s, s"$root/coarse", idCol = "kid")
      OracleStash.put(OracleStash.S91Model, (coarse, fine))
      Similarity.hierTopKOnIndexByExpr(coarse, fine,
          s.read.parquet(s"$root/index"),
          t(s, dir, "embeddings").where($"vec_id" < 5), k = 10)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // NPROBE-FOR-RECALL as an API + its gated audit (the d73
    // discipline applied to the IVF family): derive the smallest
    // nprobe that HOLDS recall@10 ≥ 0.7 on the query sample
    // (Similarity.nprobeForRecall — measured doubling audit, exact
    // ground truth over the SAMPLE only), then serve the persisted
    // production index at the DERIVED nprobe and report the s88-style
    // per-query hit counts. The oracle re-derives BOTH rankings at
    // the STASHED nprobe — the derived config is itself
    // correctness-checked, not just exercised: a drift in the
    // derivation (or a recall regression at the derived knob) fails
    // the gate in integers.
    "s93_ann_recall_held" -> ((s, dir) => {
      import s.implicits._
      val root = ensureIvfProdIndexExport(s, dir)
      val fine = readCentroids(s, s"$root/centroids")
      val emb = t(s, dir, "embeddings")
      val q = emb.where($"vec_id" < 5)
      // the audit reads the PERSISTED index (each doubling pass prunes
      // to its own probed lists), not an in-memory re-assignment
      val cfg = Similarity.nprobeForRecall(emb, q, fine, k = 10, targetRecall = 0.7,
        index = Some(s.read.parquet(s"$root/index")))
      OracleStash.put(OracleStash.S93Config, (fine, cfg.nprobe))
      val ivf = Similarity.ivfTopKOnIndexByExpr(fine,
          s.read.parquet(s"$root/index"), q, k = 10, nprobe = cfg.nprobe)
        .select($"query_id", $"nbr_id").withColumn("__hit", lit(1))
      Similarity.bruteForceTopK(emb, q, k = 10)
        .select($"query_id", $"nbr_id")
        .join(ivf, Seq("query_id", "nbr_id"), "left")
        .groupBy($"query_id")
        .agg(sum(coalesce($"__hit", lit(0))).cast("long").as("hits_at_10"))
        .orderBy("query_id")
    }),
    // QUANTIZED persisted serving with exact refine — the index-SIZE
    // lever on the production layout (s39's int8 arithmetic + s62's
    // refine stack + s90's persisted index, composed): the qindex
    // stores int8-quantized vectors (4× smaller at rest and in flight;
    // assignment stayed full-precision at build), candidates score by
    // quantized cosine over the DPP-pruned scan, and the refine-deep
    // shortlist (queries × 20 id pairs — metadata) broadcasts into ONE
    // full-precision corpus scan for the true-cosine re-rank. The
    // oracle re-derives the whole composition: flat assignment and
    // probes from the spliced matrix at full precision, per-vector
    // int8 quantization in SQL (exact small integers), the quantized
    // shortlist, and the exact re-rank — a drift anywhere in the
    // two-stage pipeline hash-fails.
    "s95_ann_ivf_prod_quantized" -> ((s, dir) => {
      import s.implicits._
      val root = ensureIvfProdIndexExport(s, dir)
      val fine = readCentroids(s, s"$root/centroids")
      OracleStash.put(OracleStash.S95Cents, fine)
      val emb = t(s, dir, "embeddings")
      Similarity.ivfQuantizedRefineTopKOnIndexByExpr(fine,
          s.read.parquet(s"$root/qindex"), emb,
          emb.where($"vec_id" < 5), k = 10, refine = 20)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // INDEX REFRESH — the lifecycle stage between append-forever and
    // cold retrain (build s60/s90 → append s61/s94 → delete s63 →
    // compact s64 → REFRESH): after enough appends the frozen
    // quantizer drifts off the grown corpus, so the refresh runs ONE
    // warm-started Lloyd round over base ∪ delta seeded from the
    // CURRENT persisted centroids (kmeansCentroidsByExprWarm — cost of
    // one cold round, convergence of many because the seed is already
    // near the optimum; the cold trainer is the same function seeded
    // with the first-n rows, spec-pinned bit-equal) and re-serves from
    // the refreshed quantizer. The oracle splices the REFRESHED matrix
    // and re-derives assignment/probes/ranking over base ∪ delta — a
    // drift anywhere in the refreshed serving path hash-fails; the
    // warm trainer's semantics are spec-pinned (warm-from-firstN ≡
    // cold bit-for-bit, iters=0 ≡ seed).
    "s96_ann_index_refresh" -> ((s, dir) => {
      import s.implicits._
      val root = ensureIvfProdIndexExport(s, dir)
      val fine = readCentroids(s, s"$root/centroids")
      val grown = prodGrownCorpus(s, dir)
      val refreshed = Similarity.kmeansCentroidsByExprWarm(grown, fine, iters = 1)
      OracleStash.put(OracleStash.S96Cents, refreshed)
      Similarity.ivfTopKByExpr(refreshed, grown, grown.where($"vec_id" < 5), k = 10)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // PERSISTED GEN2 SERVING — the r14 verdict's top item: s96 proved
    // the warm trainer but served via in-memory re-assignment while
    // the disk still held the OLD matrix. ensureIvfProdRefreshExport
    // completes the rewrite half (the s64 compaction pattern under a
    // REFRESHED quantizer): base ∪ delta re-assigned scan-locally
    // under the warm-retrained matrix into a digest-chained gen2
    // layout, refreshed fine + coarse matrices stored beside it. This
    // query serves the NEW generation end-to-end: the refreshed matrix
    // read back from disk drives ivfTopKOnIndexByExpr over gen2's
    // hive-partitioned lists (DPP plan-pinned, as s90) UNION the
    // gen2-STAMPED streamed delta — guardedDeltaUnion refuses a delta
    // assigned under any other generation (the s61 digest-chain
    // discipline as a loud refusal; the lifecycle spec pins both
    // directions). Oracle: the full probe/rank recompute from the
    // spliced REFRESHED matrix over base ∪ delta ∪ delta2 — a drift
    // anywhere in refresh-train, rewrite, chained ingest, or serving
    // hash-fails.
    "s97_ann_ivf_gen2" -> ((s, dir) => {
      import s.implicits._
      val root = ensureIvfProdGen2DeltaExport(s, dir)
      val gen2 = s"$root/gen2"
      val refreshed = readCentroids(s, s"$gen2/centroids")
      OracleStash.put(OracleStash.S97Cents, refreshed)
      Similarity.ivfTopKOnIndexByExpr(refreshed,
          guardedDeltaUnion(s, gen2, s"$gen2/delta"),
          t(s, dir, "embeddings").where($"vec_id" < 5), k = 10)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // SERVING AT THE DERIVED KNOB — the r14 verdict's item 5: s93
    // proved nprobeForRecall as a gated AUDIT; this query makes the
    // API the CONFIGURATION PATH (the production sizing flow: audit
    // once per trained quantizer, serve at the derived knob). The
    // derivation reads the PERSISTED index with each doubling pass
    // pruning to its own probed lists; the serving query then rides
    // ivfTopKOnIndexByExpr at exactly cfg.nprobe — nothing hand-picked
    // between the measured audit and the answer. The oracle re-derives
    // the probe/rank walk at the STASHED derived nprobe (the d73
    // discipline), so a derivation drift OR a serving drift at the
    // derived knob fails the gate; the provenance spec separately pins
    // that the served knob IS the API's output, not a constant.
    "s98_ann_serving_derived" -> ((s, dir) => {
      import s.implicits._
      val root = ensureIvfProdIndexExport(s, dir)
      val fine = readCentroids(s, s"$root/centroids")
      val emb = t(s, dir, "embeddings")
      val q = emb.where($"vec_id" < 5)
      val idx = s.read.parquet(s"$root/index")
      val cfg = Similarity.nprobeForRecall(emb, q, fine, k = 10,
        targetRecall = 0.7, index = Some(idx))
      OracleStash.put(OracleStash.S98Config, (fine, cfg.nprobe))
      Similarity.ivfTopKOnIndexByExpr(fine, idx, q, k = 10, nprobe = cfg.nprobe)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // The FULL derived sizing flow for the hierarchical tier — s98's
    // discipline with BOTH knobs measured: nprobeForRecall prices the
    // fine knob on the persisted index, then cprobeForRecall prices
    // the coarse knob AT that nprobe over the SAME persisted layout
    // (the hybrid walk — exactly the path serving runs), and the
    // query serves hierTopKOnIndexByExpr at the derived (cprobe,
    // nprobe) pair. Nothing hand-picked between the two audits and
    // the answer; the oracle re-derives the whole hybrid walk at the
    // STASHED pair, and the provenance spec pins both served knobs ≡
    // the APIs' outputs.
    "s100_ann_hier_derived" -> ((s, dir) => {
      import s.implicits._
      val root = ensureIvfProdIndexExport(s, dir)
      val fine = readCentroids(s, s"$root/centroids")
      val coarse = readCentroids(s, s"$root/coarse", idCol = "kid")
      val emb = t(s, dir, "embeddings")
      val q = emb.where($"vec_id" < 5)
      val idx = s.read.parquet(s"$root/index")
      val np = Similarity.nprobeForRecall(emb, q, fine, k = 10,
        targetRecall = 0.7, index = Some(idx)).nprobe
      val cp = Similarity.cprobeForRecall(emb, q, coarse, fine, k = 10,
        nprobe = np, targetRecall = 0.7, index = Some(idx)).cprobe
      OracleStash.put(OracleStash.S100Config, (coarse, fine, np, cp))
      Similarity.hierTopKOnIndexByExpr(coarse, fine, idx, q, k = 10,
          cprobe = cp, nprobe = np)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // HIERARCHICAL serving over GEN2 — gen1/gen2 parity for the s91
    // shape: the refresh export persists the refreshed COARSE matrix
    // beside the fine one for exactly this, so the NEW generation
    // serves all the tiers the old one did without retraining
    // anything. Same hybrid semantics as s91 (flat assignment at
    // rewrite time — the gen2 partitions ARE the assignment — and the
    // two-level walk only on the query side), over the guarded
    // base-∪-delta union s97 serves. Oracle: hierQueryOnFlatCtes from
    // the two spliced REFRESHED matrices with the corpus source
    // widened to base ∪ delta ∪ delta2.
    "s99_ann_ivf_gen2_hier" -> ((s, dir) => {
      import s.implicits._
      val root = ensureIvfProdGen2DeltaExport(s, dir)
      val gen2 = s"$root/gen2"
      val fine = readCentroids(s, s"$gen2/centroids")
      val coarse = readCentroids(s, s"$gen2/coarse", idCol = "kid")
      OracleStash.put(OracleStash.S99Model, (coarse, fine))
      Similarity.hierTopKOnIndexByExpr(coarse, fine,
          guardedDeltaUnion(s, gen2, s"$gen2/delta"),
          t(s, dir, "embeddings").where($"vec_id" < 5), k = 10)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // GEN3 SERVING — the rollover link that makes the generation
    // chain INDUCTIVE (the r15 verdict's top item): gen3 is built
    // FROM gen2's guarded served frame by the SAME rollGeneration
    // construction that built gen2 from gen1 (warm Lloyd round seeded
    // from gen2's matrix, scan-local re-assignment into
    // hive-partitioned lists, stamp derived from gen2's stamp), the
    // folded delta2 compacting away into the new generation's clean
    // lists — with gen2's DELETES honored: the rollover folds the
    // tombstone-filtered frame, so a retired row never resurrects.
    // This query serves gen3 ∪ its OWN gen3-stamped chained
    // delta through the same guarded union — a gen2-stamped landing
    // refuses against gen3 (rollover spec), and a base regeneration
    // turns over base → gen2 → gen3 → delta3 in one sweep. Oracle:
    // the probe/rank recompute from the spliced TWICE-refreshed
    // matrix over (base ∪ delta1 ∪ delta2 minus retired) ∪ delta3 —
    // a drift in either rollover, either chained landing, the
    // tombstone fold, or serving hash-fails.
    "s101_ann_ivf_gen3" -> ((s, dir) => {
      import s.implicits._
      val root = ensureIvfProdGen3DeltaExport(s, dir)
      val gen3 = s"$root/gen3"
      val refreshed = readCentroids(s, s"$gen3/centroids")
      OracleStash.put(OracleStash.S101Cents, refreshed)
      Similarity.ivfTopKOnIndexByExpr(refreshed,
          guardedDeltaUnion(s, gen3, s"$gen3/delta"),
          t(s, dir, "embeddings").where($"vec_id" < 5), k = 10)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // HIERARCHICAL serving over GEN3 — tier parity carried through
    // the ROLLED generation: rollGeneration persists the refreshed
    // coarse matrix beside the fine one at EVERY link (it is the one
    // generation-producing construction), so gen3 serves the
    // two-level walk exactly as gen1 (s91) and gen2 (s99) do — no
    // retraining, same guarded union, same hybrid semantics (flat
    // assignment at rewrite time, two-level probes on the query
    // side). Oracle: hierQueryOnFlatCtes from the two spliced
    // TWICE-refreshed matrices over the full gen3-served corpus.
    "s104_ann_ivf_gen3_hier" -> ((s, dir) => {
      import s.implicits._
      val root = ensureIvfProdGen3DeltaExport(s, dir)
      val gen3 = s"$root/gen3"
      val fine = readCentroids(s, s"$gen3/centroids")
      val coarse = readCentroids(s, s"$gen3/coarse", idCol = "kid")
      OracleStash.put(OracleStash.S104Model, (coarse, fine))
      Similarity.hierTopKOnIndexByExpr(coarse, fine,
          guardedDeltaUnion(s, gen3, s"$gen3/delta"),
          t(s, dir, "embeddings").where($"vec_id" < 5), k = 10)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // THE ROLLED GENERATION PRICES ITS OWN KNOB — the composition
    // that closes the lifecycle × configuration story: a rollover
    // REPLACES the quantizer, so gen1's audited nprobe (s98) is a
    // measurement of a matrix gen3 no longer serves — the audit must
    // re-run per generation, against the generation's OWN persisted
    // frame (ground truth over the gen3-served corpus, each doubling
    // pass reading only its probed lists from the guarded union).
    // The query then serves gen3 at the knob gen3 itself priced.
    // Oracle: the probe/rank recompute from the spliced
    // twice-refreshed matrix over the gen3 corpus AT the stashed
    // derived nprobe; the provenance spec pins served ≡ the API's
    // output re-derived on the same generation.
    "s105_ann_gen3_derived" -> ((s, dir) => {
      import s.implicits._
      val root = ensureIvfProdGen3DeltaExport(s, dir)
      val gen3 = s"$root/gen3"
      val fine = readCentroids(s, s"$gen3/centroids")
      val served = guardedDeltaUnion(s, gen3, s"$gen3/delta")
      val corpus = served.select($"nbr_id".as("vec_id"), $"cvec".as("embedding"))
      val q = t(s, dir, "embeddings").where($"vec_id" < 5)
      val np = Similarity.nprobeForRecall(corpus, q, fine, k = 10,
        targetRecall = 0.7, index = Some(served)).nprobe
      OracleStash.put(OracleStash.S105Config, (fine, np))
      Similarity.ivfTopKOnIndexByExpr(fine, served, q, k = 10, nprobe = np)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // DELETE at the ROLLED link — the verb s103 proved at gen2, now
    // at the generation the construction built from its own output,
    // with a SECOND independent retire rule (id ≡ 3 mod 10; the gen2
    // rule's ids never reached gen3 — the rollover folded them out).
    // Deletes therefore STACK across links: compact-at-roll removes
    // the old generation's retirees, the live generation's tombstones
    // remove its own, and the next roll folds those out in turn. The
    // serving frame is the same generation-generic deletedServingFrame
    // s103 uses — nothing gen3-specific anywhere in the verb. Oracle:
    // the recompute over gen3's corpus minus the new rule's ids.
    "s106_ann_ivf_gen3_delete" -> ((s, dir) => {
      import s.implicits._
      val root = ensureIvfProdGen3TombstoneExport(s, dir)
      val refreshed = readCentroids(s, s"$root/gen3/centroids")
      OracleStash.put(OracleStash.S106Cents, refreshed)
      // the query sample is drawn from the SURVIVING corpus — id 3 is
      // retired by this query's own rule, and this oracle family's
      // query side rides the same corpus source as its candidates (a
      // deleted vector is no longer a row the index owns; external
      // query vectors are the s73/s92 request shape, not this one)
      Similarity.ivfTopKOnIndexByExpr(refreshed, deletedServingFrame(s, s"$root/gen3"),
          t(s, dir, "embeddings").where($"vec_id" < 5 && $"vec_id" % 10 =!= 3), k = 10)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // DELETE over the REFRESHED generation — the r15 verdict's item
    // 3: the s63 tombstone verb carried to gen2, so a generation
    // built by refresh can shed rows without rewriting an index file.
    // Same deterministic retired-id rule as s63 (id ≡ 7 mod 10) over
    // the id space gen2 serves; the tombstone landing is stamped with
    // gen2's generation stamp and serving REFUSES a foreign-stamped
    // set exactly as it refuses a foreign delta. The anti-join is a
    // broadcast probe (metadata-sized tombstones); with the frozen
    // refreshed matrix, serving-after-deletes must equal a
    // from-scratch recompute on the surviving corpus — which is
    // exactly what the oracle recomputes.
    "s103_ann_ivf_gen2_delete" -> ((s, dir) => {
      import s.implicits._
      val root = ensureIvfProdGen2TombstoneExport(s, dir)
      val refreshed = readCentroids(s, s"$root/gen2/centroids")
      OracleStash.put(OracleStash.S103Cents, refreshed)
      Similarity.ivfTopKOnIndexByExpr(refreshed, deletedServingFrame(s, s"$root/gen2"),
          t(s, dir, "embeddings").where($"vec_id" < 5), k = 10)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // PCA embedding projection — the compression/rotation step a
    // pipeline runs before storing or indexing vectors: project every
    // embedding onto the corpus's top-8 principal axes. Training is
    // one explode + map-combined DECIMAL-exact moment aggregation
    // (order-independent → memoizable, oracle-spliceable) + a fixed
    // cyclic-Jacobi eigensolve of the 64×64 covariance on the driver;
    // projection is scan-local with the model riding as literals in
    // codegen. The oracle re-derives every coordinate from the spliced
    // (mean, components) literals with the same left-fold order —
    // bit-identical doubles, rounded 6dp on both sides.
    "s66_pca_embed" -> ((s, dir) => {
      val model = pca8(s, dir)
      OracleStash.put(OracleStash.S66Pca, model)
      Similarity.pcaProject(t(s, dir, "embeddings"), model._1, model._2)
        .orderBy("vec_id")
    }),
    // PCA-shortlist ANN — s66's payoff query: candidates ranked by
    // cosine over the 8-double reduced coordinates (the scan that
    // stays memory-resident at 100 TB), top-32 re-ranked by exact
    // full-vector cosine (the s62 refine composition). The oracle
    // re-derives the reduced coordinates from the spliced model,
    // re-runs the shortlist AND the re-rank in SQL.
    "s67_ann_pca" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val model = pca8(s, dir)
      OracleStash.put(OracleStash.S67Pca, model)
      Similarity.pcaRefineTopK(model._1, model._2, emb, emb.where($"vec_id" < 5), k = 10)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // Metadata-FILTERED ANN — the production serving shape where a
    // predicate rides along with the vector search ("nearest neighbors
    // among label-even vectors"). The filter is applied to the corpus
    // side BEFORE probe/rank (filter-during-search), not to the final
    // top-k (post-filter, which silently returns < k and loses recall).
    // Per-vector centroid assignment is independent of the filter, so
    // the quantizer is the shared full-corpus one (index built once,
    // filters vary per query) and the predicate reaches the parquet
    // scan as a pushed filter — at 100 TB the probe reads
    // ~nprobe/nlist of the corpus AND skips non-matching row groups.
    "s65_ann_filtered" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val cents = centroids16(s, dir)
      OracleStash.put(OracleStash.S65Cents, cents)
      Similarity.ivfTopKByExpr(cents, emb.where($"label".isin(0, 2, 4, 6, 8)),
          emb.where($"vec_id" < 5), k = 10)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // Hard-negative mining — the contrastive-retrieval training-data
    // construction step: for each query, the positive is its exact
    // nearest neighbor (one linear corpus pass — ground truth, tiny
    // query set broadcast); the negatives are the top IVF candidates
    // that are NOT the positive — close enough to fool the index,
    // provably not the answer. At 100 TB the candidate generation is
    // the bucketed nprobe/nlist scan, the positive check a broadcast
    // join on the queries×k hit set — no corpus shuffle anywhere.
    "s58_hard_negatives" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val queries = emb.where($"vec_id" < 5)
      val cents = centroids16(s, dir)
      OracleStash.put(OracleStash.S58Cents, cents)
      val pos = Similarity.bruteForceTopK(emb, queries, k = 1)
        .select($"query_id", $"nbr_id".as("pos_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"rank")
      Similarity.ivfTopKByExpr(cents, emb, queries, k = 8)
        .join(broadcast(pos), Seq("query_id"))
        .where($"nbr_id" =!= $"pos_id")
        .withColumn("neg_rank", row_number().over(w))
        .where($"neg_rank" <= 5)
        .select($"query_id", $"nbr_id".as("neg_id"),
          $"neg_rank".cast("int").as("neg_rank"))
        .orderBy("query_id", "neg_rank")
    }),
    // Dataset-card corpus summary: the one-row report a corpus release
    // ships (docs, languages, sources, chars, whitespace tokens, exact
    // duplicate count, empty docs) from ONE scan — the distinct counts
    // are the only shuffles, and the text-keyed one is the same
    // exchange exact dedup already pays.
    "d54_corpus_summary" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").agg(
        count(lit(1)).as("n_docs"),
        countDistinct($"lang").as("n_langs"),
        countDistinct($"source").as("n_sources"),
        sum($"n_chars").as("sum_chars"),
        sum(size(filter(split($"text", "\\s+"), w => length(w) > 0)).cast("long")).as("n_tokens"),
        (count(lit(1)) - countDistinct($"text")).as("dup_docs"),
        count(when(length(trim($"text")) === 0, 1)).as("n_empty"))
    }),
    // Corpus clustering report (SemDeDup/DCLM-family curation step):
    // every embedding assigned to its nearest of 16 deterministic
    // k-means centroids; per-cluster size, lowest member, and the
    // DECIMAL-folded cohesion sum. The stashed centroids become VALUES
    // literals in the oracle, which recomputes assignment and cohesion
    // from scratch.
    "d53_kmeans_clusters" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = centroids16(s, dir)
      OracleStash.put(OracleStash.D53Cents, cents)
      Similarity.clusterReport(cents, emb)
    }),
    // Int8 scalar-quantized ANN: both sides quantized (4× smaller
    // corpus — the memory-bound 100 TB path), ranking on the integer
    // dot over quantized vectors. Every quantized value is an exact
    // small integer, so the oracle reproduces ranks bit-for-bit;
    // rank agreement vs exact cosine is spec-pinned.
    "s39_ann_quantized" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      Similarity.quantizedTopK(emb, emb.where($"vec_id" < 5), k = 10)
        .select($"query_id", $"nbr_id", $"rank")
        .orderBy("query_id", "rank")
    }),
    // Product-quantized ANN (m=8 subspaces × 16 centroids, ADC): the
    // memory-bound extreme of the quantization family — the corpus
    // shrinks to m codes per vector. Codebooks are deterministic
    // (seeded per-subspace L2 Lloyd) and stashed for the oracle, which
    // re-derives every code, ADC score and rank from the same literals.
    "s44_ann_pq" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val books = codebooks16(s, dir)
      OracleStash.put(OracleStash.S44Books, books)
      Similarity.pqTopKWith(books, emb, emb.where($"vec_id" < 5), k = 10)
        .orderBy("query_id", "rank")
    }),
    // IVF-PQ — the production 100 TB index: coarse probe (s37's
    // quantizer) over a PQ-coded corpus (s44's codebooks), ADC ranks.
    "s45_ann_ivfpq" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val cents = centroids16(s, dir)
      val books = codebooks16(s, dir)
      OracleStash.put(OracleStash.S45Model, (cents, books))
      Similarity.ivfPqTopKWith(cents, books, emb, emb.where($"vec_id" < 5), k = 10)
        .orderBy("query_id", "rank")
    }),
    // Residual-encoded IVF-PQ — the FAISS production layout: PQ codes
    // encode each vector's residual against its coarse centroid, and
    // queries ADC-rank from their per-probed-list residuals. Same probe
    // cost as s45 at equal bytes, finer within-list grid (recall ≥ the
    // raw-vector encoding, spec-pinned in SimilaritySpec).
    "s57_ann_ivfpq_res" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val cents = centroids16(s, dir)
      val books = residualBooks16(s, dir, cents)
      OracleStash.put(OracleStash.S57Model, (cents, books))
      Similarity.ivfPqResidualTopKWith(cents, books, emb, emb.where($"vec_id" < 5), k = 10)
        .orderBy("query_id", "rank")
    }),
    // Refine / re-rank tier: s57's ADC pass nominates the top 32
    // candidates per query from codes alone, then ONLY those rows'
    // exact vectors are fetched (broadcast hit-set probe — the s56
    // retrieval-join shape, cost independent of corpus size) and
    // re-ranked by true cosine. The production FAISS IndexRefineFlat
    // serving stack: coarse probe → ADC shortlist → exact re-rank;
    // recall ≥ the unrefined s57 at equal probe cost (spec-pinned).
    "s62_ann_refine" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val cents = centroids16(s, dir)
      val books = residualBooks16(s, dir, cents)
      OracleStash.put(OracleStash.S62Model, (cents, books))
      Similarity.ivfPqResidualRefineTopKWith(cents, books, emb,
          emb.where($"vec_id" < 5), k = 10, refine = 32)
        .orderBy("query_id", "rank")
    }),
    // Banded hyperplane-LSH embedding near-dups — the sub-quadratic
    // production path; d34 stays as the exact ground truth. Band width
    // is CORPUS-SIZED (Similarity.lshBitsFor — bucket occupancy held
    // ~constant so candidate cost stays linear in n; 4 bits at the
    // gate/bench scales, growing with the corpus). The oracle
    // re-derives every table signature from the same seeded hyperplanes
    // at the same width and applies the same any-table-match pruning.
    "d36_embed_neardup_lsh" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val bits = Similarity.lshBitsFor(emb.count())
      OracleStash.put(OracleStash.D36Bits, bits)
      Similarity.bandedNearDupPairs(emb, threshold = 0.5, bitsPerTable = bits)
        .select($"i", $"j", round($"sim", 6).as("sim"))
        .orderBy("i", "j")
    }),
    // d36's RECALL-HELD production preset — the full three-knob
    // configuration (corpus-sized b, recall-holding L = tablesForRecall,
    // regime-derived distinct placement) as ONE first-class call.
    // d36 keeps L fixed at 8 and documents recall-for-cost; this is
    // what a deployment that must HOLD recall runs (at sf10 the fixed-L
    // shape measures recall 0.061 where this one measures 0.854 —
    // SCALING.md r10/r11). The oracle re-derives every table signature
    // at the stashed (L, b), so the derived table count is itself
    // correctness-checked, not just exercised.
    "d73_neardup_recall_held" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val cfg = Similarity.recallHeldConfig(emb, threshold = 0.5)
      OracleStash.put(OracleStash.D73Config, cfg)
      Similarity.recallHeldNearDupPairs(emb, threshold = 0.5, config = Some(cfg))
        .select($"i", $"j", round($"sim", 6).as("sim"))
        .orderBy("i", "j")
    }),
    // Batch sessionization (gap 30m) over events — the gaps-and-islands
    // form of EventStreams.sessionize, driver-checked against a DuckDB
    // gaps-and-islands oracle; stream/batch agreement is spec-pinned.
    "s38_sessionize" -> ((s, dir) => {
      import s.implicits._
      graft.streaming.EventStreams.batchSessions(t(s, dir, "events"), gapMinutes = 30)
        .orderBy("user_id", "start_ts")
    }),
    // Text statistics + quality + language ID, full oracle.
    "t40_text_stats" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.analyze(t(s, dir, "documents"))
        .select($"doc_id", $"n_tokens", $"n_bpeish",
          round($"avg_word_len", 6).as("avg_word_len"),
          round($"punct_ratio", 6).as("punct_ratio"),
          round($"stopword_ratio", 6).as("stopword_ratio"),
          round($"quality", 6).as("quality"),
          $"lang_pred")
        .orderBy("doc_id")
    }),
    // Corpus-level quality/language rollup.
    "t41_quality_by_lang" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.analyze(t(s, dir, "documents"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("docs"),
          sum($"n_tokens").as("tokens"),
          // exact decimal sum of rounded per-doc scores → order-independent
          sum(round($"quality", 6).cast("decimal(18,6)")).cast("double").as("quality_sum"))
        .orderBy("lang")
    }),
    // Duplicate-cluster resolution: connected components over the exact
    // n-gram Jaccard pair set (chain a~b, b~c → one cluster labeled by
    // its min id), via DataFrame min-label propagation + pointer jumping.
    "d35_dedup_clusters" -> ((s, dir) => {
      import s.implicits._
      val pairs = Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text", 0.5)
      Dedup.connectedComponents(pairs)
        .select($"id".as("doc_id"), $"comp".as("component"))
        .orderBy("doc_id")
    }),
    // Duplicate-cluster representative selection — the curation
    // decision d35 stops short of: which copy to KEEP. Every doc gets
    // its near-dup cluster (connected components over Jaccard-≥0.5
    // pairs; singletons are their own cluster), and the kept
    // representative is the highest-quality member (ties → lowest id)
    // — keep-best, not keep-first. The argmax is a partial-aggregable
    // max(struct(quality, −doc_id)) — map-side combinable, no window
    // sort of the corpus; quality is scan-local; the only corpus-wide
    // exchange is the cluster groupBy on the output-sensitive key.
    "d62_cluster_reps" -> ((s, dir) => clusterRepsDf(t(s, dir, "documents"))),
    "d67_cluster_reps_minhash" -> ((s, dir) => clusterRepsMinhashDf(t(s, dir, "documents"))),
    // Flagship end-to-end corpus-cleaning pipeline: quality gate →
    // exact dedup → near-dup CLUSTER resolution (connected components
    // over Jaccard-≥0.5 pairs of the surviving corpus; keep exactly the
    // min-id doc per cluster) → per-doc stats of the surviving corpus.
    "d39_corpus_clean" -> ((s, dir) => corpusCleanDf(t(s, dir, "documents"))),
    // Deterministic hash-based 10% sample — stable across runs, engines
    // and partitionings (the oracle recomputes the same CRC selection).
    "d41_hash_sample" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Sampling.hashSample(
          t(s, dir, "documents"), concat(lit("doc:"), $"doc_id"), 0.10)
        .select($"doc_id", $"lang", $"n_chars")
        .orderBy("doc_id")
    }),
    // Stratified deterministic sampling: per-language rates, same
    // engine-portable slot-hash selection as d41 (oracle recomputes it).
    "d42_stratified_sample" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Sampling.stratifiedHashSample(
          t(s, dir, "documents"), concat(lit("doc:"), $"doc_id"), $"lang",
          rates = Map("en" -> 0.20, "zh" -> 0.10), default = 0.05)
        .select($"doc_id", $"lang", $"n_chars")
        .orderBy("doc_id")
    }),
    // End-to-end training-corpus preparation — the capstone composition:
    // quality filter → exact dedup → near-dup component removal →
    // benchmark decontamination → temperature rebalancing → sliding
    // chunking. Every stage is an operator declared (and oracle-checked)
    // individually (t40, d30, d35, d43, d45, t46); this query proves
    // they compose into the one pipeline a 100 TB corpus actually runs.
    // The surviving corpus is checkpointed once at the dedup boundary
    // (the "write the cleaned corpus" step at scale).
    "d48_training_corpus" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      trainingCorpusDf(docs.where($"doc_id" < 5), docs.where($"doc_id" >= 5))
    }),
    // The capstone's PRODUCTION twin: the same seven-stage pipeline
    // with the component stage fed by MinHash-LSH candidates (d67's
    // mechanism) instead of the exact-Jaccard Σdf² stage — the form a
    // 100 TB corpus actually runs (the exact capstone is disk-infeasible
    // at sf10 on one box: SCALING.md r9). Same exact-chain oracle as
    // d48, so any LSH recall loss hash-fails.
    "d68_training_minhash" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      trainingCorpusDf(docs.where($"doc_id" < 5), docs.where($"doc_id" >= 5),
        d => Dedup.minhashNearDups(d, "doc_id", "text", 0.5).select($"i", $"j"))
    }),
    // Winnowed copy detection: doc pairs sharing ≥4 mod-sampled 16-byte
    // rolling fingerprints (character-level substring duplication).
    "d47_winnow_pairs" -> ((s, dir) => {
      import s.implicits._
      Dedup.fingerprintOverlapPairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("i", "j")
    }),
    // SemDeDup-style semantic dedup: connected components over exact
    // embedding cosine-≥0.5 near-dup pairs, keep each cluster's min-id
    // representative (cluster_size = component members; 1 = no dup).
    // At 100 TB the pair source flips to the banded-LSH path (d36) —
    // identical downstream component/keeper machinery.
    "d46_semantic_dedup" -> ((s, dir) => semanticDedupDf(t(s, dir, "embeddings"))),
    // d46's PRODUCTION twin — the d62→d67 / d48→d68 pattern completed
    // for the semantic-dedup family: the same transitive-closure
    // cluster resolution with candidates from the RECALL-HELD banded
    // LSH (d73's derived three-knob config) instead of the exact
    // all-pairs stage — sub-quadratic candidates, the shape that ships
    // where the exact block-pair join is infeasible. The oracle
    // re-derives the SAME banded candidates at the stashed (L, b) and
    // runs the same recursive closure, so the operator-as-specified is
    // checked exactly; recall vs the exact d46 is the LSH family's
    // measured trade (SCALING.md), not a correctness gap.
    "d74_semantic_dedup_lsh" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val cfg = Similarity.recallHeldConfig(emb, threshold = 0.5)
      OracleStash.put(OracleStash.D74Config, cfg)
      semanticDedupFromPairs(emb,
        Similarity.recallHeldNearDupPairs(emb, 0.5, config = Some(cfg))
          .select($"i", $"j"))
    }),
    // Embedding-space benchmark decontamination — the semantic sibling
    // of d43's shingle-overlap form (pipelines run both: n-gram overlap
    // catches verbatim leaks, embedding cosine catches paraphrases).
    // Benchmark = the first 20 vectors (metadata-sized → broadcast);
    // ONE corpus scan with a broadcast anti probe, no shuffle, no pair
    // materialization. Oracle = NOT EXISTS over the exact cross of
    // corpus × benchmark — recall-1 ground truth (the benchmark side
    // being small makes the exact form THE production form here).
    "d72_embed_decontam" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      Similarity.embedDecontaminate(
          emb.where($"vec_id" >= 20), emb.where($"vec_id" < 20), threshold = 0.35)
        .select($"vec_id", $"label")
        .orderBy("vec_id")
    }),
    // Temperature-flattened language rebalancing (α = 0.5): keep rate
    // √(n_min/n_l) per language, deterministic slot-hash selection.
    "d45_temperature_sample" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Sampling.temperatureSample(
          t(s, dir, "documents"), concat(lit("doc:"), $"doc_id"), "lang")
        .select($"doc_id", $"lang", $"n_chars")
        .orderBy("doc_id")
    }),
    // Gopher/C4-style repetition quality signals (type-token ratio,
    // top-word and top-bigram fractions) — scan-local, zero shuffles.
    // CCNet-style perplexity filter: per-doc unigram/bigram
    // cross-entropy under the corpus's own MLE models. Oracle rebuilds
    // both models and every per-token log term from scratch; the
    // DECIMAL(28,9) term summation makes the mean order-independent,
    // so the recompute hash-matches exactly.
    "t51_lm_perplexity" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.lmCrossEntropy(t(s, dir, "documents"))
        .orderBy("doc_id")
    }),
    // The CCNet SPLIT itself — the curation decision t51's scores feed:
    // each language's documents ranked by unigram cross-entropy and cut
    // into head/middle/tail terciles (ntile(3) under the (h_unigram,
    // doc_id) total order — ANSI ntile, so the oracle's recompute
    // agrees bucket-for-bucket). This exact form is one shuffle on lang
    // plus a per-language sort; at 100 TB CCNet derives the two cutoffs
    // from a SAMPLE (the a75 sampled-quantile machinery) and assigns
    // buckets scan-side against broadcast thresholds — this query is
    // the oracle-checkable ground truth of that decision.
    "t52_ccnet_buckets" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      // unigram-only path: lmCrossEntropy would build (and shuffle) the
      // whole bigram model just to drop it — Spark has no left-join
      // elimination
      val ppl = TextAnalysis.lmUnigramEntropy(docs).select($"doc_id", $"h_unigram")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang").orderBy($"h_unigram", $"doc_id")
      docs.select($"doc_id", $"lang").join(ppl, Seq("doc_id"))
        .withColumn("bk", ntile(3).over(w))
        .select($"doc_id", $"lang", $"h_unigram",
          when($"bk" === 1, "head").when($"bk" === 2, "middle")
            .otherwise("tail").as("ppl_bucket"))
        .orderBy("doc_id")
    }),
    // t52's PRODUCTION twin (the r11 verdict's "comment, not a query"
    // closed): at 100 TB nobody sorts every document per language —
    // CCNet derives the two cutoffs from a SAMPLE and assigns buckets
    // scan-side. Here the d41 slot-hash machinery draws a
    // deterministic 25% sample, each language's tercile cutoffs are
    // the ACTUAL sample tuples at ranks ⌈ns/3⌉ and ⌈2ns/3⌉ under the
    // (h_unigram, doc_id) total order — a discrete statistic, NO
    // interpolation, so the oracle recomputes it bit-for-bit where an
    // interpolated quantile would differ in the last ulp — and every
    // document is bucketed by TUPLE comparison against the broadcast
    // cutoffs (two rows per language). Cost shape: one scan-local
    // score pass, a sort of the SAMPLE only, one broadcast join — vs
    // t52's full per-language sort. The buckets differ from t52's
    // exact terciles by sampling error ~1/√(per-language sample);
    // CcnetBucketsSpec pins the agreement rate against the t52 ground
    // truth AND the estimator's consistency (at rate 1.0 the ⌈n/3⌉ /
    // ⌈2n/3⌉ cutoff ranks coincide with ntile(3)'s group boundaries,
    // so agreement is exactly 1.0) — the declared-twin pattern of
    // s76/d55.
    "t53_ccnet_buckets_sampled" -> ((s, dir) =>
      ccnetSampledBuckets(s, dir, rate = 0.25)),
    // SEQUENCE PACKING — the last batch-assembly stage of a training
    // pipeline: documents packed into fixed token-budget sequences
    // (Sampling.packSequences — slot-hash sharding, per-shard running
    // token totals, a doc never split, a sequence opening whenever the
    // running total crosses the next budget multiple). This is where
    // d77's LOGICAL (doc, epoch) copies would materialize; here the
    // packing runs over the raw corpus so the oracle re-derives the
    // whole decision (slot fold → shard, window cumsum → seq) with no
    // trained state. Output is the per-sequence manifest (doc and
    // token counts) — what a data loader actually consumes. Scale
    // shape: per-SHARD windows (nshards-way parallel, append-stable),
    // never one global packing order (a single-partition window — the
    // anti-pattern this operator exists to avoid).
    "t54_sequence_packing" -> ((s, dir) => {
      import s.implicits._
      val toks = TextAnalysis.analyze(t(s, dir, "documents"))
        .select($"doc_id", $"n_tokens")
      graft.operators.Sampling.packSequences(toks,
          concat(lit("doc:"), $"doc_id"), "n_tokens", "doc_id", budget = 512L)
        .groupBy($"shard", $"seq")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"))
        .orderBy("shard", "seq")
    }),
    "t43_repetition" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.repetitionStats(t(s, dir, "documents"))
        .select($"doc_id", $"n_tokens",
          round($"uniq_ratio", 6).as("uniq_ratio"),
          round($"top_word_frac", 6).as("top_word_frac"),
          round($"top_bigram_frac", 6).as("top_bigram_frac"))
        .orderBy("doc_id")
    }),
    // Eval-set decontamination: docs sharing a 4-word shingle with the
    // "benchmark" (docs 0-4), benchmark shingles broadcast. n=4 because
    // this corpus's vocabulary makes longer shingles globally unique;
    // real decontamination uses n of 8-13 with the same plan shape.
    "d43_contamination" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      Dedup.contaminatedDocs(
          docs.where($"doc_id" >= 5), docs.where($"doc_id" < 5),
          "doc_id", "text", shingleN = 4)
        .orderBy("doc_id")
    }),
    // KMV distinct-count sketch — the oracle-checkable approximate
    // distinct (the HLL pair a31 can never hash-match an oracle; KMV
    // over a SQL-recomputable FNV hash can). Exact countDistinct rides
    // along so the row also shows the estimator's error.
    "a40_kmv_distinct" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .select(graft.functions.TextFunctions
          .fnv1a64_mix(concat(lit("cust:"), $"o_custkey")).as("h"), $"o_custkey")
        // no rounding: both engines compute (k-1)·2^64/kth with the
        // same IEEE ops on the same ints, so the RAW double matches
        // bit-for-bit — decimal rounding is the only step whose
        // half-way behavior could ever diverge
        .agg(countDistinct($"o_custkey").as("exact_distinct"),
          graft.functions.KmvSketchAgg.kmv_distinct($"h", 256)
            .as("est_distinct"))
    }),
    // Raw HyperLogLog distinct sketch — a31's builtin HLL with the
    // asterisk removed: over a SQL-recomputable hash, the bucket split,
    // rank geometry, and raw estimator are all deterministic and
    // DuckDB-expressible, so the grouped APPROXIMATE counts hash-match
    // the oracle exactly (a40's KMV argument applied to HLL itself; see
    // HllSketchAgg for the exact-integer harmonic-sum evaluation).
    // Same table/grouping as a31 so the pair reads side-by-side; exact
    // countDistinct rides along to show the estimator error.
    "a76_hll_distinct" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .select($"l_returnflag",
          graft.functions.TextFunctions
            .fnv1a64_mix(concat(lit("part:"), $"l_partkey")).as("h"),
          $"l_partkey")
        .groupBy($"l_returnflag")
        .agg(countDistinct($"l_partkey").as("exact_parts"),
          graft.functions.HllSketchAgg.hll_distinct($"h", 6).as("est_parts"))
        .orderBy("l_returnflag")
    }),
    // Greedy sequence packing: documents → fixed-token-budget training
    // batches, sequential per language shard, parallel across shards
    // (secondary-sort mapPartitions; see Packing scaladoc for why no
    // window function can express the reset-on-overflow state).
    "p13_token_packing" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"lang",
        element_at(graft.functions.TextFunctions.token_stats($"text"), 6)
          .cast("long").as("n_tokens"))
      graft.operators.Packing
        .greedyPack(docs, "lang", "doc_id", "n_tokens", budget = 2000L)
        .orderBy("doc_id")
    }),
    // Corpus vocabulary: term + document frequencies, deterministic
    // top-100. countDistinct forces Spark's distinct-aggregate rewrite:
    // partial agg keyed (word, doc_id) → exchange → re-agg → exchange
    // on word → final + TakeOrderedAndProject. Two exchanges, but the
    // first carries one row per distinct (word, doc_id) pair — already
    // combined map-side — not one per token.
    "t44_vocab" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id", explode(TextAnalysis.tokens($"text")).as("w"))
        .groupBy($"w")
        .agg(count(lit(1)).as("occurrences"), countDistinct($"doc_id").as("doc_freq"))
        .orderBy($"occurrences".desc, $"w")
        .limit(100)
    }),
    // Per-doc TF-IDF keyword extraction: top-3 terms by tf·idf with a
    // RATIONAL idf, (N+1)/(df+1) — same ordering as the log form for
    // fixed N (log is monotone), but every score is exact integer
    // arithmetic in DOUBLE, so ranks hash-match the oracle with no
    // libm-log cross-engine risk. Plan: one explode pass → (doc, term)
    // partial-agg → vocabulary-sized df agg → broadcast-N join →
    // per-doc window top-k. At 100 TB the df table is the only global
    // state and it's vocabulary-sized.
    "t45_tfidf" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val tf = docs
        .select($"doc_id", explode(TextAnalysis.tokens($"text")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      // tf rows are distinct (doc, term) pairs → df is a plain count
      val dfreq = tf.groupBy("w").agg(count(lit(1)).as("doc_freq"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("w"))
      tf.join(dfreq, "w").crossJoin(broadcast(n))
        .withColumn("score", $"tf".cast("double") *
          (($"n_docs" + 1).cast("double") / ($"doc_freq" + 1).cast("double")))
        .withColumn("rank", row_number().over(w))
        .where($"rank" <= 3)
        .select($"doc_id", $"w".as("term"), $"tf", $"doc_freq",
          $"rank".cast("int").as("rank"))
        .orderBy("doc_id", "rank")
    }),
    // Sliding-window chunking: 100-token windows every 80 tokens —
    // long-doc → training-sequence prep, scan-local (zero shuffles).
    "t46_chunking" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.chunk(t(s, dir, "documents"), "doc_id", "text",
          window = 100, stride = 80)
        .orderBy("doc_id", "chunk_idx")
    }),
    // Duplicate-n-gram fraction (boilerplate signal): share of each
    // doc's distinct 3-shingles occurring in ≥2 documents corpus-wide.
    "t47_dup_ngrams" -> ((s, dir) => {
      import s.implicits._
      Dedup.duplicateShingleStats(t(s, dir, "documents"), "doc_id", "text")
        .select($"id".as("doc_id"), $"total_shingles", $"dup_shingles", $"dup_ratio")
        .orderBy("doc_id")
    }),
    // Incremental (append-time) dedup: new docs (id ≥ 250) survive only
    // if neither exact copies nor Jaccard-≥0.5 near-dups of the
    // existing corpus (id < 250). One content semi-join + one
    // output-sensitive cross-postings join; the existing corpus is
    // never self-joined — the production ingest shape.
    "d44_incremental_dedup" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      Dedup.incrementalDedup(
          docs.where($"doc_id" >= 250), docs.where($"doc_id" < 250),
          "doc_id", "text", threshold = 0.5)
        .select($"doc_id", $"n_chars")
        .orderBy("doc_id")
    }),
    // Per-source document cap (≤12 docs per source, hash-ranked): the
    // "at most K pages per domain" web-curation rule, deterministic and
    // append-stable. Oracle recomputes the slot ranks in SQL.
    "d49_source_cap" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Sampling.capPerGroup(
          t(s, dir, "documents"), concat(lit("doc:"), $"doc_id"),
          "source", "doc_id", cap = 12)
        .select($"doc_id", $"source", $"n_chars")
        .orderBy("doc_id")
    }),
    // PII scrub: email/IPv4/phone counts + redacted text. The corpus is
    // synthetic word soup, so three fixture rows carrying real PII
    // shapes ride along (same literals in query, oracle and spec).
    "t48_pii_scrub" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
      val fixtures = TextAnalysis.piiFixtures.toDF("doc_id", "text")
      TextAnalysis.scrubPii(docs.unionAll(fixtures))
        .select($"doc_id", $"n_emails", $"n_ips", $"n_phones", $"text_clean")
        .orderBy("doc_id")
    }),
    // Bloom-filter ingest prefilter: new docs (id ≥ 250) flagged
    // maybe_dup against a 1024-bit filter built over the existing
    // corpus (id < 250) — the join-free membership pre-pass of
    // production incremental dedup (d44 is the exact join it gates).
    // Deliberately undersized m so false positives actually occur at
    // this SF; the oracle reproduces every bit, FPs included.
    "d50_bloom_dedup" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      Dedup.bloomPrefilter(docs.where($"doc_id" >= 250),
          docs.where($"doc_id" < 250), "text", mBits = 1024, k = 3)
        .select($"doc_id", $"maybe_dup".cast("int").as("maybe_dup"), $"n_chars")
        .orderBy("doc_id")
    }),
    // Count-Min frequency sketch (the frequency member of the sketch
    // family: d50 Bloom = membership, a40 KMV = distinct, a48 CMS =
    // frequency — one double-hashing scheme drives all positions):
    // per-customer order counts estimated from a 3×512 counter matrix
    // vs the exact counts. Width deliberately small so collision
    // overestimates occur — the oracle reproduces them counter-exactly.
    "a48_cms_freq" -> ((s, dir) => {
      import s.implicits._
      val (w, d) = (512, 3)
      val keys = t(s, dir, "orders").select($"o_custkey",
        graft.functions.TextFunctions
          .fnv1a64_mix(concat(lit("cust:"), $"o_custkey")).as("h"))
      val cms = keys.agg(graft.functions.CountMinAgg.cms_agg($"h", w, d).as("cms"))
      keys.where($"o_custkey" < 40)
        .groupBy($"o_custkey")
        .agg(count(lit(1)).as("exact_cnt"), min($"h").as("h"))
        .crossJoin(broadcast(cms))
        .select($"o_custkey", $"exact_cnt",
          graft.functions.CountMinAgg.estimate($"cms", $"h", w, d).as("est_cnt"))
        .orderBy("o_custkey")
    }),
    // Rolling-hash document fingerprints (native codegen'd expression).
    "t42_fingerprints" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id",
          graft.functions.TextFunctions.rolling_fingerprint($"text").as("fp"))
        .orderBy("doc_id")
    }),
    // Language-ID confusion matrix (classifier-eval op): predicted vs
    // labeled language counts over the corpus — the diagnostic a
    // pipeline runs before trusting its language routing. One scan,
    // one map-combined agg on a ≤36-cell key.
    "t50_langid_confusion" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.analyze(t(s, dir, "documents"))
        .groupBy($"lang", $"lang_pred")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")
    }),
    // Quality-percentile filtering (the FineWeb-style curation rule):
    // keep the top half of docs per language by quality score. Integer
    // rank arithmetic (rk·2 ≤ n) — no float percentile — so the kept
    // set is bit-stable. One shuffle on lang; per-group window state is
    // a running count.
    "t49_quality_filter" -> ((s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang").orderBy($"quality".desc, $"doc_id")
      val wn = org.apache.spark.sql.expressions.Window.partitionBy($"lang")
      TextAnalysis.analyze(t(s, dir, "documents"))
        .select($"doc_id", $"lang", round($"quality", 6).as("quality"))
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wn))
        .where($"rk" * 2 <= $"n")
        .select($"doc_id", $"lang", $"quality", $"rk".cast("long").as("rk"))
        .orderBy("doc_id")
    }),
    // Deterministic train/val/test split: slot-hash thresholds assign
    // every doc a split (5% val, 10% test) — stable across engines,
    // partitionings and appends, disjoint/exhaustive by construction,
    // and scan-local (a projection; the only exchange is the output
    // ordering). Per-doc assignment checked row-by-row, plus the
    // per-(lang, split) distribution a pipeline would monitor.
    "d52_train_split" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Sampling.assignSplit(
          t(s, dir, "documents"), concat(lit("doc:"), $"doc_id"),
          valFrac = 0.05, testFrac = 0.10)
        .select($"doc_id", $"lang", $"split")
        .orderBy("doc_id")
    }),
    // LEAKAGE-SAFE split — d52 assigns splits per DOC, which is a
    // self-inflicted contamination hole when docs are near-duplicates:
    // a doc and its near-copy can land on opposite sides, giving eval
    // rows train twins (exactly what d43/d72 decontamination hunts).
    // Here duplicate CLUSTERS move as units: components over the
    // MinHash near-dup candidates (d67's stage) name each doc's
    // cluster, and every member inherits the split of the CLUSTER id's
    // slot hash — singletons hash their own id, so for them this IS
    // d52. One candidate join + O(log diameter) component rounds + a
    // scan-local split projection; nothing touches the pair space.
    // The oracle re-derives the closure from the SAME banding
    // recompute (minhashPairCtes — FNV shingle hashes, spliced
    // permutation params, bands compared by value) and folds the same
    // CRC slots, so it is NOT corpus-coupled: an LSH recall shift on a
    // regenerated corpus moves kernel and oracle together (the
    // round-11 advice). The banding-closure ≡ exact-closure recall pin
    // lives separately in d67's spec and SourceOverlapSpec; the
    // production stance on recall is d73's recall-held configuration.
    "d75_leakage_safe_split" -> ((s, dir) => {
      import s.implicits._
      // ord-fold oracle coupling -> loud ASCII precondition (the
      // asciiGuarded scaladoc; a UTF-8 regeneration fails HERE with a
      // named error, not at the hash compare)
      val docs = t(s, dir, "documents")
        .withColumn("text", Dedup.asciiGuarded($"text", "d75_leakage_safe_split"))
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
        .select($"i", $"j")
      val comp = Dedup.connectedComponents(pairs).select($"id".as("doc_id"), $"comp")
      val clustered = docs.select($"doc_id")
        .join(comp, Seq("doc_id"), "left")
        .withColumn("cluster", coalesce($"comp", $"doc_id"))
      graft.operators.Sampling.assignSplit(clustered,
          concat(lit("cluster:"), $"cluster"), valFrac = 0.05, testFrac = 0.10)
        .select($"doc_id", $"cluster", $"split")
        .orderBy("doc_id")
    }),
    // DOMAIN-MIXTURE RESAMPLE — the data-mixing stage every training
    // pipeline runs between curation and packing: the corpus's
    // per-language token mass is rebalanced toward a TARGET mixture
    // (equal share here) by downsampling the overrepresented
    // languages. weight_l = min(1, (T/L)/t_l) from one tiny aggregate,
    // floored onto the 16384-slot grid, and each document is kept by
    // the same CRC slot hash the whole sampling family uses — so
    // membership is deterministic, stable under corpus growth for
    // unchanged weights, and exactly reproducible by the oracle. The
    // 100 TB shape: one scan-local token count, a languages-sized
    // aggregate, a broadcast of the mixture table, and a scan-side
    // filter — no shuffle of the corpus at any point (the final
    // orderBy is the gate's, not the operator's).
    "d76_domain_mixture_resample" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val toks = docs.select($"doc_id", $"lang",
        size(TextAnalysis.tokens($"text")).cast("long").as("n_tokens"))
      graft.operators.Sampling.mixtureResample(toks, "lang", "n_tokens",
          concat(lit("mix:"), $"doc_id"))
        .select($"doc_id", $"lang", $"n_tokens")
        .orderBy("doc_id")
    }),
    // MIXTURE EPOCHS — d76's UPSAMPLING counterpart: an equal-token
    // target reached by REPEATING under-represented languages instead
    // of only cutting the overrepresented ones (how real mixtures hit
    // a target without discarding scarce data). weight_l = (T/L)/t_l
    // uncapped, clamped at 4 epochs (the standard guard against
    // degenerate repetition); each document emits ⌊w⌋ full epochs plus
    // one more when its CRC slot clears the fractional threshold
    // (Sampling.mixtureEpochs — null-safe stratum join as d76) —
    // which subsumes d76's downsample as the w<1 case (⌊w⌋=0 and the
    // fraction decides membership). Emitting (doc_id, epoch) is the
    // LOGICAL form; at 100 TB the copies materialize only at pack
    // time (an epoch column through Packing.greedyPack), so the
    // replication costs one int per copy, not a corpus rewrite. Same
    // broadcast-mixture plan shape as d76 — the corpus crosses no
    // exchange for the join.
    "d77_mixture_epochs" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val toks = docs.select($"doc_id", $"lang",
        size(TextAnalysis.tokens($"text")).cast("long").as("n_tokens"))
      graft.operators.Sampling.mixtureEpochs(toks, "lang", "n_tokens",
          concat(lit("ep:"), $"doc_id"), maxEpochs = 4.0)
        .select($"doc_id", $"lang", $"epoch")
        .orderBy("doc_id", "epoch")
    }),
    // WEIGHTED domain mixture (d76 generalized, r12 verdict item 3):
    // real mixture specs are arbitrary per-domain shares
    // (DoReMi/Pile-style), not equal split. Same machinery — one tiny
    // aggregate, shares normalized over the OBSERVED strata
    // (Sampling.mixtureWeightsTargeted), thresholds broadcast,
    // scan-side CRC membership — with w = ((share/Σshare)·T)/t_l. The
    // shares here are DYADIC (0.5/0.25/0.125) so Σshare is exact in
    // any accumulation order and the oracle's doubles agree
    // bit-for-bit (the operator scaladoc names that discipline for
    // gated deployments). Unmapped strata (and a NULL lang) take the
    // default share; a zero share floors at one slot, never vanishes.
    "d81_mixture_resample_weighted" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val toks = docs.select($"doc_id", $"lang",
        size(TextAnalysis.tokens($"text")).cast("long").as("n_tokens"))
      graft.operators.Sampling.mixtureResampleTo(toks, "lang", "n_tokens",
          concat(lit("mixw:"), $"doc_id"), d81Shares, defaultShare = 0.125)
        .select($"doc_id", $"lang", $"n_tokens")
        .orderBy("doc_id")
    }),
    // WEIGHTED mixture epochs (d77 generalized): upweight one scarce
    // language to half the target mixture (fr → share 0.5 of Σ=1.0)
    // — w_fr lands between 3 and 4 epochs at gate scale, so the whole
    // ⌊w⌋ + fractional-slot mechanism runs under a non-uniform
    // target; the overrepresented rest degenerate to membership
    // decisions (w < 1).
    "d82_mixture_epochs_weighted" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val toks = docs.select($"doc_id", $"lang",
        size(TextAnalysis.tokens($"text")).cast("long").as("n_tokens"))
      graft.operators.Sampling.mixtureEpochsTo(toks, "lang", "n_tokens",
          concat(lit("epw:"), $"doc_id"), d82Shares, maxEpochs = 4.0,
          defaultShare = 0.125)
        .select($"doc_id", $"lang", $"epoch")
        .orderBy("doc_id", "epoch")
    }),
    // CROSS-SOURCE OVERLAP MATRIX — the standard curation report "how
    // much does source A duplicate source B" (zero EXACT duplicates
    // cross sources in these corpora — checked — so the meaningful
    // statistic is near-dup overlap at Jaccard ≥ 0.5). Ground-truth
    // form: pairs from the exact inverted-shingle index (d33's
    // machinery), then two equi-joins to attach sources and a
    // ≤|sources|² aggregate (Dedup.groupOverlapMatrix). The "strong"
    // tier (Jaccard ≥ 0.8) is decided in INTEGERS (5·inter ≥ 4·uni) on
    // both engines — 4/5 is not representable in binary floating point.
    "d78_source_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.groupOverlapMatrix(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5),
        docs, "doc_id", "source")
    }),
    // d78's PRODUCTION TWIN: the same matrix from MinHash+LSH banded
    // candidates (shuffle on (band, bucket), never all-pairs — the d31
    // pipeline with inter/uni retained). Unlike the d31/d67 oracles,
    // which lean on the measured corpus property that banding recalls
    // every ≥0.5 pair, THIS oracle re-derives the banding itself in
    // DuckDB — FNV-1a shingle hashes, the 32 spliced (a,b) permutation
    // params, 8 bands of 4 compared by VALUE (equivalent to the bucket
    // hash modulo 64-bit collisions) — so a banding recall miss would
    // hash-fail d79 while leaving d78 green, exactly the decoupling
    // round 11's advice asked the MinHash oracles to move toward.
    "d79_source_overlap_minhash" -> ((s, dir) => {
      // ord-fold oracle coupling -> loud ASCII precondition (asciiGuarded)
      val docs = t(s, dir, "documents")
        .withColumn("text", Dedup.asciiGuarded(col("text"), "d79_source_overlap_minhash"))
      Dedup.groupOverlapMatrix(
        Dedup.minhashNearDupStats(docs, "doc_id", "text", threshold = 0.5),
        docs, "doc_id", "source")
    }),
    // NON-ASCII MinHash gate — the ord-vs-bytes boundary EXERCISED
    // instead of guarded (the r12 verdict's item-4 option (a), beside
    // the round-13 asciiGuarded option (b)): the corpus is made
    // deliberately non-ASCII by a deterministic code-point translation
    // (a→ä e→é o→ß — multi-byte UTF-8, identical translate() in both
    // engines), the kernel runs its usual byte-level pipeline
    // UNCHANGED (wordShingleHashes has always folded UTF-8 bytes; the
    // guard was only ever about the ORACLE's ord fold), and the oracle
    // re-derives the banding with a BYTE-faithful FNV fold
    // (minhashPairCtes(byteFold) — hex-pair nibble decoding), so the
    // gate proves the kernel byte-correct on text where code points
    // and bytes genuinely diverge. No asciiGuarded here — that guard
    // marks ord-fold oracles, and this oracle has no ord fold.
    "d83_minhash_nonascii" -> ((s, dir) => {
      import s.implicits._
      Dedup.minhashNearDupStats(
          t(s, dir, "documents")
            .select($"doc_id", translate($"text", "aeo", "äéß").as("text")),
          "doc_id", "text", threshold = 0.5)
        .select($"i", $"j", $"inter".cast("int").as("inter"),
          $"uni".cast("int").as("uni"))
        .orderBy("i", "j")
    }),
    // PER-SOURCE CURATION FUNNEL — the attribution report every
    // curation run publishes beside its output corpus: one row per
    // source with survivor counts after each cleaning stage of the
    // d48/d68 chain (quality ≥ 0.5 → exact dedup → near-dup cluster
    // keepers → benchmark decontamination) plus the surviving token
    // mass. "Where did my data go" is how source contracts and crawl
    // regressions are caught. The near-dup stage uses the MinHash
    // production generator (d68's form) and the gate re-derives the
    // banding itself (minhashPairCtes), so this query does NOT lean on
    // the corpus recall equivalence. Scale shape: the stages are the
    // chain's own corpus-sized work; the funnel adds only doc-id stage
    // unions, one join to (doc_id, source), and a |sources|-row
    // aggregate — counting is free relative to cleaning.
    "d80_curation_funnel" -> ((s, dir) => {
      import s.implicits._
      // ord-fold oracle coupling -> loud ASCII precondition (asciiGuarded)
      val docs = t(s, dir, "documents")
        .withColumn("text", Dedup.asciiGuarded($"text", "d80_curation_funnel"))
      val bench = docs.where($"doc_id" < 5)
      val corpus = docs.where($"doc_id" >= 5)
      val cs = curationStages(bench, corpus,
        d => Dedup.minhashNearDups(d, "doc_id", "text", threshold = 0.5))
      def stage(df: DataFrame, i: Int) =
        df.select($"doc_id", lit(i).as("stg"), lit(0L).as("toks_n"))
      val st = stage(corpus, 0)
        .unionByName(stage(cs.quality, 1))
        .unionByName(stage(cs.exact, 2))
        .unionByName(stage(cs.neardup, 3))
        .unionByName(cs.decontaminated.select($"doc_id", lit(4).as("stg"),
          $"n_tokens".cast("long").as("toks_n")))
      st.join(docs.select($"doc_id", $"source"), "doc_id")
        .groupBy($"source")
        .agg(sum(when($"stg" === 0, 1L).otherwise(0L)).as("n_docs"),
          sum(when($"stg" === 1, 1L).otherwise(0L)).as("n_quality"),
          sum(when($"stg" === 2, 1L).otherwise(0L)).as("n_exact"),
          sum(when($"stg" === 3, 1L).otherwise(0L)).as("n_neardup"),
          sum(when($"stg" === 4, 1L).otherwise(0L)).as("n_final"),
          sum(when($"stg" === 4, $"toks_n").otherwise(0L)).as("tokens_final"))
        .orderBy("source")
    }),
    // Incremental corpus merge (upsert): a new crawl batch (updates to
    // every 5th doc, brand-new ids for every 7th) reconciled against
    // the existing corpus with ONE full-outer shuffle join on the key.
    // This is the MERGE INTO shape of an append-heavy 100 TB corpus:
    // at scale both sides are bucketed on doc_id so the join is
    // zero-exchange (the p11 layout), and the output is the next
    // corpus snapshot. Status accounting rides along for free.
    "d51_corpus_merge" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val existing = docs
        .select($"doc_id", $"text", $"lang", lit(1).cast("int").as("version"))
      val updates = docs.where($"doc_id" % 5 === 0)
        .select($"doc_id", concat($"text", lit(" [rev2]")).as("text"),
          $"lang", lit(2).cast("int").as("version"))
      val inserts = docs.where($"doc_id" % 7 === 3)
        .select(($"doc_id" + 10000000L).as("doc_id"), $"text", $"lang",
          lit(2).cast("int").as("version"))
      val incoming = updates.unionByName(inserts)
      existing.as("e").join(incoming.as("i"), Seq("doc_id"), "full_outer")
        .select($"doc_id",
          when($"i.version".isNotNull && $"e.version".isNotNull, lit("updated"))
            .when($"i.version".isNotNull, lit("inserted"))
            .otherwise(lit("kept")).as("status"),
          coalesce($"i.version", $"e.version").as("version"),
          length(coalesce($"i.text", $"e.text")).cast("long").as("n_chars"),
          coalesce($"i.lang", $"e.lang").as("lang"))
        .orderBy("doc_id")
    }),
  )

  // --- sf0.1-scale verification twins -----------------------------------
  // Seven queries (d34/d36/d46/d35/d39/d48/d44) have ORACLES that are
  // quadratic (all-pairs cosine, recursive closure, exhaustive cross-side
  // recompute) — DuckDB cannot finish them at sf0.1, so until now their
  // exactness claims rested on the sf0.01 gate alone. Each twin below
  // runs the SAME operator composition over a deterministic slot-hash
  // sub-corpus (the d41 sampling machinery, recomputed identically by
  // the oracle), sized so the SAME oracle template stays feasible at
  // sf0.1: ~10% of documents / ~25% of embeddings keeps the sf0.1
  // sampled corpus at the size of the full sf0.01 gate corpus. The
  // sample is part of the declared query on BOTH sides, so these are
  // full-oracle rows at every scale factor.
  private val DocTwinRate = 0.10
  private val EmbTwinRate = 0.25
  /** The corpus's max pair cosine is ~0.5, so the originals' 0.5
    * threshold yields (near-)empty pair sets inside a sample — an
    * empty-vs-empty hash match verifies nothing. The twins run at 0.35
    * (~99.9th percentile) so the sampled verification exercises a real
    * pair set at both sf0.01 and sf0.1. */
  private val EmbTwinThreshold = 0.35

  /** d46/d57/d74's shared body over a CALLER-CHOSEN near-dup pair set:
    * components, keep each cluster's min-id representative, size
    * survivors by component (the d62-family pattern — the pair SOURCE
    * is the only thing the ground-truth and production forms vary). */
  private def semanticDedupFromPairs(emb: DataFrame, pairs: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    val labels = Dedup.connectedComponents(pairs)
    val losers = labels.where($"id" =!= $"comp").select($"id".as("vec_id"))
    val sizes = labels.groupBy($"comp").agg(count(lit(1)).as("cluster_size"))
    emb.select($"vec_id")
      .join(losers, Seq("vec_id"), "left_anti")
      .join(sizes.select($"comp".as("vec_id"), $"cluster_size"), Seq("vec_id"), "left")
      .select($"vec_id", coalesce($"cluster_size", lit(1L)).as("cluster_size"))
      .orderBy("vec_id")
  }

  /** d46's body over any embeddings relation (shared with d57's twin):
    * components over exact cosine-≥0.5 pairs. */
  private def semanticDedupDf(emb: DataFrame, threshold: Double = 0.5): DataFrame = {
    import emb.sparkSession.implicits._
    semanticDedupFromPairs(emb,
      Similarity.nearDupPairs(emb, threshold = threshold).select($"i", $"j"))
  }

  /** d62/d63/d67 shared keep-best body over a CALLER-CHOSEN near-dup
    * pair set: near-dup clusters (singletons = own cluster) and the
    * kept representative = highest-quality member, ties → lowest id,
    * as a map-side-combinable max(struct(quality, −doc_id)) — no
    * window sort of the corpus. */
  private def clusterRepsFromPairs(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val comp = Dedup.connectedComponents(pairs)
      .select($"id".as("doc_id"), $"comp")
    TextAnalysis.analyze(docs)
      .select($"doc_id", round($"quality", 6).as("quality"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce($"comp", $"doc_id"))
      .groupBy($"cluster")
      .agg(max(struct($"quality", (-$"doc_id").as("nid"))).as("best"),
        count(lit(1)).as("n_members"))
      .select($"cluster", (-$"best.nid").as("rep_id"),
        $"n_members", $"best.quality".as("quality"))
      .orderBy("cluster")
  }

  /** d62/d63: keep-best over the exact-Jaccard ground-truth pairs —
    * the oracle-checkable form; its candidate stage is the d33-shaped
    * Σdf² one (measured slope 8.1 at sf1 on the fixed-vocab corpus). */
  private def clusterRepsDf(docs: DataFrame): DataFrame =
    clusterRepsFromPairs(docs, Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5))

  /** d67: the PRODUCTION keep-best twin — the same component
    * resolution and map-side-combinable argmax fed by MinHash-LSH
    * candidates (d31's mechanism, measured slope 1.4 at sf1 / 3.4 at
    * sf10) instead of the exact-Jaccard Σdf² stage. The curation
    * DECISION — which doc represents each near-dup cluster — now has
    * a sub-quadratic end-to-end path; the oracle is the exact-pair
    * d62 oracle, so any LSH recall loss on the planted corpus
    * hash-fails rather than passing silently. */
  private def clusterRepsMinhashDf(docs: DataFrame): DataFrame =
    clusterRepsFromPairs(docs, Dedup.minhashNearDups(docs, "doc_id", "text", 0.5))

  /** d39's body over any documents relation (shared with d59's twin):
    * quality gate → exact dedup → near-dup cluster resolution → stats
    * of the surviving corpus. The surviving corpus is consumed three
    * times (pair generation, anti-join left side, the component loop's
    * edge build) — materialize the text-stats + dedup-join pass ONCE
    * instead of letting every consumer replan it from the scan. At
    * 100 TB this is the "write the cleaned corpus, then cluster it"
    * step; here a local checkpoint plays that role (Bench/Verify sweep
    * the blocks after the query is consumed).
    *
    * GROUND-TRUTH ROLE: the component stage below is the exact-Jaccard
    * `ngramJaccardPairs` — sf10-infeasible by its Σdf² candidate stage
    * (SCALING.md). A production deployment swaps in d68's mechanism
    * (`Dedup.minhashNearDups` via trainingCorpusDf's `nearDupPairs`
    * override); do not copy this default into a declared scale path. */
  private def corpusCleanDf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val stats = TextAnalysis.analyze(docs)
      .select($"doc_id", $"text", $"n_tokens", round($"quality", 6).as("quality"))
      .where($"quality" >= 0.5)
    val exact = Dedup.exactDedup(stats, "doc_id", "text").localCheckpoint(true)
    val pairs = Dedup.ngramJaccardPairs(exact, "doc_id", "text", 0.5)
    val losers = Dedup.clusterLosers(pairs).select($"id".as("doc_id"))
    exact.join(losers, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"n_tokens", $"quality")
      .orderBy("doc_id")
  }

  /** d48's capstone body over any (benchmark, corpus) pair (shared
    * with d60's twin and d68's MinHash production twin): quality
    * filter → exact dedup → near-dup component removal → benchmark
    * decontamination → temperature rebalancing → sliding chunking,
    * checkpointed once at the dedup boundary. `nearDupPairs` chooses
    * the candidate mechanism for the component stage: the DEFAULT is
    * the exact-Jaccard GROUND TRUTH (sf10-infeasible — ~240 GB of Σdf²
    * pair spill, SCALING.md), kept for the d48/d60 oracle roles; the
    * PRODUCTION form is d68's override
    * `d => Dedup.minhashNearDups(d, "doc_id", "text", 0.5)` — measured
    * sub-quadratic across two decades. New pipeline stages should pass
    * the MinHash override unless they are explicitly a ground truth. */
  /** The d48/d68 cleaning stages as NAMED frames — quality filter,
    * exact dedup, near-dup cluster keepers, decontamination — ONE Spark
    * encoding (pinned stage-for-stage to d48ChainCtes) shared by
    * trainingCorpusDf, which composes them into the corpus, and d80,
    * which counts them per source; a chain change can no longer reach
    * one consumer and miss the other. */
  private case class CurationStages(quality: DataFrame, exact: DataFrame,
                                    neardup: DataFrame, decontaminated: DataFrame)
  private def curationStages(bench: DataFrame, corpus: DataFrame,
      nearDupPairs: DataFrame => DataFrame): CurationStages = {
    import corpus.sparkSession.implicits._
    val quality = TextAnalysis.analyze(corpus)
      .select($"doc_id", $"lang", $"text", $"n_tokens",
        round($"quality", 6).as("quality"))
      .where($"quality" >= 0.5)
    val exact = Dedup.exactDedup(quality, "doc_id", "text").localCheckpoint(true)
    val losers = Dedup.clusterLosers(nearDupPairs(exact))
      .select($"id".as("doc_id"))
    val clean = exact.join(losers, Seq("doc_id"), "left_anti")
    val contaminated = Dedup.contaminatedDocs(clean, bench, "doc_id", "text",
      shingleN = 4).select($"doc_id")
    CurationStages(quality, exact, clean,
      clean.join(contaminated, Seq("doc_id"), "left_anti"))
  }

  private def trainingCorpusDf(bench: DataFrame, corpus: DataFrame,
      nearDupPairs: DataFrame => DataFrame =
        d => Dedup.ngramJaccardPairs(d, "doc_id", "text", 0.5)): DataFrame = {
    import corpus.sparkSession.implicits._
    val st = curationStages(bench, corpus, nearDupPairs)
    val kept = graft.operators.Sampling.temperatureSample(
      st.decontaminated, concat(lit("doc:"), $"doc_id"), "lang")
    TextAnalysis.chunk(kept, "doc_id", "text", window = 100, stride = 80)
      .orderBy("doc_id", "chunk_idx")
  }
  /** s79/s80's shared tail: per-label leave-one-out 1-NN agreement
    * from a (query_id, nbr_id, …) top-1 frame — ONE encoding so the
    * exact and IVF twins cannot drift on the report shape. The nn
    * frame is queries-sized (≤ one row per vector); both joins attach
    * the narrow (vec_id, label) projection; output is labels-sized. */
  private[graft] def knnLabelAgreement(emb: DataFrame, nn: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    val lab = emb.select($"vec_id", $"label")
    nn.select($"query_id", $"nbr_id")
      .join(lab.toDF("query_id", "label"), "query_id")
      .join(lab.toDF("nbr_id", "nbr_label"), "nbr_id")
      .groupBy($"label")
      .agg(count(lit(1)).as("n"),
        sum(when($"nbr_label" === $"label", 1L).otherwise(0L)).as("correct_1nn"))
      .orderBy("label")
  }

  private def sampledDocs(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.hashSample(
      t(s, dir, "documents"), concat(lit("doc:"), col("doc_id")), DocTwinRate)
  private def sampledEmb(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.hashSample(
      t(s, dir, "embeddings"), concat(lit("vec:"), col("vec_id")), EmbTwinRate)

  private def sampledTwinQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // d34's exact all-pairs cosine ground truth at 10× the gate scale.
    "d55_neardup_sampled" -> ((s, dir) => {
      import s.implicits._
      Similarity.nearDupPairs(sampledEmb(s, dir), threshold = EmbTwinThreshold)
        .select($"i", $"j")
        .orderBy("i", "j")
    }),
    // d36's banded-LSH production path over the same sub-corpus (band
    // width corpus-sized from the SAMPLED count, like the full query).
    "d56_lsh_neardup_sampled" -> ((s, dir) => {
      import s.implicits._
      val emb = sampledEmb(s, dir)
      val bits = Similarity.lshBitsFor(emb.count())
      OracleStash.put(OracleStash.D56Bits, bits)
      Similarity.bandedNearDupPairs(emb, threshold = EmbTwinThreshold, bitsPerTable = bits)
        .select($"i", $"j", round($"sim", 6).as("sim"))
        .orderBy("i", "j")
    }),
    // d46's component-resolution semantic dedup over the sub-corpus.
    "d57_semantic_dedup_sampled" -> ((s, dir) =>
      semanticDedupDf(sampledEmb(s, dir), EmbTwinThreshold)),
    // d35's Jaccard-pair connected components over the sub-corpus.
    "d58_clusters_sampled" -> ((s, dir) => {
      import s.implicits._
      val pairs = Dedup.ngramJaccardPairs(sampledDocs(s, dir), "doc_id", "text", 0.5)
      Dedup.connectedComponents(pairs)
        .select($"id".as("doc_id"), $"comp".as("component"))
        .orderBy("doc_id")
    }),
    // d39's full corpus-cleaning pipeline over the sub-corpus.
    "d59_corpus_clean_sampled" -> ((s, dir) =>
      corpusCleanDf(sampledDocs(s, dir))),
    // d62's keep-best cluster representatives over the sub-corpus.
    "d63_cluster_reps_sampled" -> ((s, dir) =>
      clusterRepsDf(sampledDocs(s, dir))),
    // d67's MinHash keep-best over the SAME sub-corpus — value-verifies
    // the production twin at 10× the gate scale (its full-corpus oracle
    // is the quadratic d62 chain, infeasible oracle-side at sf0.1).
    "d69_reps_minhash_sampled" -> ((s, dir) =>
      clusterRepsMinhashDf(sampledDocs(s, dir))),
    // d68's MinHash training capstone over the sub-corpus (benchmark
    // side stays FULL, as d60 does).
    "d70_training_minhash_sampled" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      trainingCorpusDf(docs.where($"doc_id" < 5),
        sampledDocs(s, dir).where($"doc_id" >= 5),
        d => Dedup.minhashNearDups(d, "doc_id", "text", 0.5).select($"i", $"j"))
    }),
    // d48's capstone training-corpus pipeline: corpus side sampled, the
    // benchmark (docs 0-4) stays FULL so decontamination stays live.
    "d60_training_sampled" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      trainingCorpusDf(docs.where($"doc_id" < 5),
        sampledDocs(s, dir).where($"doc_id" >= 5))
    }),
    // d44's incremental ingest dedup over the sub-corpus (same 250 split).
    "d61_incremental_sampled" -> ((s, dir) => {
      import s.implicits._
      val docs = sampledDocs(s, dir)
      Dedup.incrementalDedup(
          docs.where($"doc_id" >= 250), docs.where($"doc_id" < 250),
          "doc_id", "text", threshold = 0.5)
        .select($"doc_id", $"n_chars")
        .orderBy("doc_id")
    }),
  )

  /** Exact pairwise n-gram Jaccard ≥ threshold over `src` (any relation
    * exposing doc_id + text). Standalone SELECT — nest as a derived
    * table where needed. */
  private def jaccardOracle(threshold: Double, src: String = "documents"): String =
    s"""WITH w AS (SELECT doc_id, $duckTokens AS words FROM $src),
       |sh AS (SELECT doc_id, ${duckShingles("words")} AS s FROM w),
       |p AS (SELECT a.doc_id AS i, b.doc_id AS j,
       |  len(list_intersect(a.s, b.s)) AS inter,
       |  len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS uni
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
       |SELECT i, j, CAST(inter AS INTEGER) AS inter, CAST(uni AS INTEGER) AS uni
       |FROM p WHERE inter * 1.0 / uni >= $threshold ORDER BY i, j""".stripMargin

  /** d78/d79's shared aggregation tail over a pair CTE named `pr`
    * (columns i, j, inter, uni): attach sources, fold to the unordered
    * source-pair matrix. ONE encoding so the exact and MinHash twins
    * cannot drift on the report shape. Mirrors
    * Dedup.groupOverlapMatrix: per-pair counts halve the doubled
    * endpoint rows; the strong tier compares in integers. */
  private val sourceOverlapAggSql: String =
    """q AS (SELECT p.i, p.j, p.inter, p.uni, da.source AS si, db.source AS sj
      |  FROM pr p JOIN documents da ON p.i = da.doc_id
      |            JOIN documents db ON p.j = db.doc_id),
      |r AS (SELECT least(si, sj) AS s_a, greatest(si, sj) AS s_b, i, j,
      |  si, sj, (inter * 5 >= uni * 4) AS strong FROM q),
      |e AS (SELECT s_a, s_b, i AS d, si AS s, strong FROM r
      |  UNION ALL SELECT s_a, s_b, j, sj, strong FROM r)
      |SELECT s_a, s_b, CAST(count(*) // 2 AS BIGINT) AS n_pairs,
      |  CAST(sum(CASE WHEN strong THEN 1 ELSE 0 END) // 2 AS BIGINT) AS n_strong,
      |  count(DISTINCT CASE WHEN s = s_a THEN d END) AS n_docs_a,
      |  count(DISTINCT CASE WHEN s = s_b THEN d END) AS n_docs_b
      |FROM e GROUP BY s_a, s_b ORDER BY s_a, s_b""".stripMargin

  /** CTE chain re-deriving `Dedup.minhashNearDupStats(threshold=0.5)`
    * entirely in DuckDB, ending in `pr(i, j, inter, uni)` — FNV-1a64
    * per shingle (HUGEINT byte fold, low 30 bits), the k=32 (a,b)
    * permutation params spliced as literals from the SAME generator the
    * kernel uses (Dedup.minhashParams), min per permutation, candidates
    * = doc pairs agreeing on any of 8 bands of 4 compared by VALUE
    * (band-hash equality modulo 64-bit collisions), then the exact
    * Jaccard verify at ≥ 0.5. Nothing here assumes banding recall — a
    * recalled-pair miss in the kernel hash-fails the consuming oracle.
    * Shared by d79 and d75 so the recompute cannot drift.
    *
    * ASCII-corpus caveat (as the d32/a40 token-FNV oracles, load-
    * bearing here): the default `ord` fold folds code POINTS while the
    * kernel folds UTF-8 BYTES — identical on these all-ASCII corpora
    * (checked: char length == byte length at every gate sf), divergent
    * on any non-ASCII document. Since round 13 the consuming gates
    * (d75/d79/d80) PRE-CHECK the corpus with [[Dedup.asciiGuarded]],
    * so a regenerated UTF-8 corpus fails with a named encoding error
    * at the scan instead of an inscrutable hash mismatch here.
    *
    * `byteFold = true` removes the caveat instead of guarding it: the
    * fold runs over the shingle's UTF-8 BYTES recovered from
    * `hex(g)` (two hex chars per byte, nibbles decoded by strpos
    * arithmetic) — exactly the byte sequence
    * [[graft.core.TextHash.wordShingleHashes]] folds, for ANY text.
    * d83 gates the byte form on a deliberately non-ASCII corpus; the
    * ord form stays the default so the long-green ASCII oracles keep
    * their exact SQL text. */
  private def minhashPairCtes(src: String = "documents",
                              byteFold: Boolean = false): String = {
    val params = graft.operators.Dedup.minhashParams()
    // ONE fold text, two byte-list derivations — the FNV constants and
    // fold lambda must not drift between the ord and byte oracles
    val bytesExpr = if (byteFold)
      "list_transform(range(1, length(hex(g))//2 + 1), i -> " +
        "(strpos('0123456789ABCDEF', substr(hex(g), 2*i-1, 1)) - 1) * 16 " +
        "+ (strpos('0123456789ABCDEF', substr(hex(g), 2*i, 1)) - 1))"
    else "list_transform(range(1, length(g)+1), i -> ord(substr(g, i, 1)))"
    val fnv = s"list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), " +
      s"$bytesExpr), " +
      "(acc, b) -> (xor(acc, CAST(b AS HUGEINT)) * 1099511628211) % " +
      "CAST(18446744073709551616 AS HUGEINT))"
    val sigCols = params.zipWithIndex.map { case ((a, b), i) =>
      s"min((h * $a + $b) % 2147483647) AS m$i"
    }.mkString(",\n|  ")
    val bandConds = (0 until 8).map { t =>
      (0 until 4).map(r => s"a.m${t * 4 + r} = b.m${t * 4 + r}")
        .mkString("(", " AND ", ")")
    }.mkString("\n|   OR ")
    s"""w AS (SELECT doc_id, $duckTokens AS words FROM $src),
       |sh AS (SELECT doc_id, ${duckShingles("words")} AS s FROM w),
       |x AS (SELECT doc_id, unnest(s) AS g FROM sh),
       |hh AS (SELECT doc_id, CAST(($fnv) % 1073741824 AS BIGINT) AS h FROM x),
       |sig AS (SELECT doc_id,
       |  $sigCols
       | FROM hh GROUP BY doc_id),
       |cand AS (SELECT a.doc_id AS i, b.doc_id AS j
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |  AND ($bandConds)),
       |pr0 AS (SELECT c.i, c.j,
       |   len(list_intersect(sa.s, sb.s)) AS inter,
       |   len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS uni
       |  FROM cand c JOIN sh sa ON c.i = sa.doc_id
       |              JOIN sh sb ON c.j = sb.doc_id),
       |pr AS (SELECT i, j, inter, uni FROM pr0
       |  WHERE inter * 1.0 / uni >= 0.5)""".stripMargin
  }

  /** d79's full-recompute oracle: [[minhashPairCtes]] feeding the
    * shared matrix tail. */
  private def d79Oracle(): String =
    s"""WITH ${minhashPairCtes()},
       |$sourceOverlapAggSql""".stripMargin

  /** Connected components over a pair CTE named `pr` (columns i, j):
    * CTE chain ending in `comp(doc_id, component)` where component =
    * min reachable id. Must be spliced under a WITH RECURSIVE. */
  /** ONE encoding of the per-doc quality score chain (b → c → d → q,
    * ending in q(doc_id, lang, quality)) shared by the t49 and d62
    * oracles — the formula must not drift between them. Matches
    * TextAnalysis.analyze's score: 0.4·len + 0.4·stopword + 0.2·(1 −
    * punct), rounded to 6 places. */
  private def qualityCtes(src: String = "documents"): String = {
    val en = TextAnalysis.stopwords("en").sorted.map(w => s"'$w'").mkString(",")
    s"""b AS (SELECT doc_id, lang, text, $duckTokens AS toks FROM $src),
       |c AS (SELECT doc_id, lang, text,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
       |    / greatest(length(text), 1) AS punct_ratio,
       |  CAST(len(list_filter(toks, w -> list_contains([$en], lower(w)))) AS DOUBLE) AS hits_en
       | FROM b),
       |d AS (SELECT *,
       |  least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
       |  least(hits_en / greatest(n_tokens, 1) * 5.0, 1.0) AS stop_score,
       |  least(punct_ratio * 4.0, 1.0) AS punct_pen FROM c),
       |q AS (SELECT doc_id, lang,
       |  round(len_score * 0.4 + stop_score * 0.4 + (1.0 - punct_pen) * 0.2, 6) AS quality FROM d)""".stripMargin
  }

  private val componentsCtes: String =
    """e AS (SELECT i AS a, j AS b FROM pr UNION SELECT j, i FROM pr),
      |reach(id, r) AS (
      |  SELECT DISTINCT a, a FROM e
      |  UNION
      |  SELECT e.a, reach.r FROM e JOIN reach ON reach.id = e.b),
      |comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id)""".stripMargin

  /** t53's body at a caller-chosen sample rate — the declared query
    * runs rate 0.25; CcnetBucketsSpec sweeps the rate to pin the
    * estimator's consistency (rate 1.0 ≡ t52's ntile terciles exactly)
    * and the sampling-error floor at the declared rate. */
  private[queries] def ccnetSampledBuckets(s: SparkSession, dir: String,
                                           rate: Double): DataFrame =
    ccnetSampledBucketsOf(s, t(s, dir, "documents"), rate)

  /** [[ccnetSampledBuckets]] over a caller-supplied corpus — split out
    * so CcnetBucketsSpec can drive the NULL-lang stratum (absent from
    * the gate corpora) with synthetic rows. */
  private[queries] def ccnetSampledBucketsOf(s: SparkSession, docs: DataFrame,
                                             rate: Double): DataFrame = {
    import s.implicits._
    val ppl = TextAnalysis.lmUnigramEntropy(docs).select($"doc_id", $"h_unigram")
    val scored = docs.select($"doc_id", $"lang").join(ppl, Seq("doc_id"))
    val smp = graft.operators.Sampling.hashSample(
      scored, concat(lit("ccn:"), $"doc_id"), rate)
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"h_unigram", $"doc_id")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy($"lang")
    val ranked = smp.select($"lang", $"h_unigram", $"doc_id")
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("ns", count(lit(1)).over(wAll))
    // exactly one sample row matches each rank (1 ≤ ⌈ns/3⌉ ≤ ⌈2ns/3⌉
    // ≤ ns for ns ≥ 1), so the max(when(...)) picks it; a language
    // entirely missed by the sample has no cuts row at all
    val cuts = ranked.groupBy($"lang").agg(
      max(when($"rn" === expr("(ns + 2) div 3"),
        struct($"h_unigram", $"doc_id"))).as("c1"),
      max(when($"rn" === expr("(2 * ns + 2) div 3"),
        struct($"h_unigram", $"doc_id"))).as("c2"))
    // null-safe on lang: a NULL-lang stratum forms its own window
    // partition above, so its cuts row must reach it (the d76/d77
    // null-stratum discipline — an equi-join would silently bucket
    // every NULL-lang doc 'head' while t52 terciles them)
    scored.join(broadcast(cuts.withColumnRenamed("lang", "__cutlang")),
        $"lang" <=> $"__cutlang", "left")
      .select($"doc_id", $"lang", $"h_unigram",
        when($"c1".isNull, "head")
          .when($"h_unigram" < $"c1.h_unigram" ||
            ($"h_unigram" === $"c1.h_unigram" && $"doc_id" <= $"c1.doc_id"), "head")
          .when($"h_unigram" < $"c2.h_unigram" ||
            ($"h_unigram" === $"c2.h_unigram" && $"doc_id" <= $"c2.doc_id"), "middle")
          .otherwise("tail").as("ppl_bucket"))
      .orderBy("doc_id")
  }

  /** t51/t52's shared unigram-model CTE chain (tokens → corpus MLE
    * unigram counts → per-doc DECIMAL(28,9) log-term sums `hu`). ONE
    * encoding so the perplexity score and the CCNet bucketing that
    * consumes it cannot drift. */
  private lazy val lmUnigramCtes: String =
    s"""toks AS (SELECT doc_id, $duckTokens AS tk FROM documents),
       |tok AS (SELECT doc_id, unnest(tk) AS w FROM toks),
       |uni AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
       |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM uni),
       |hu AS (SELECT doc_id,
       |   sum(CAST(round(log2(CAST(c AS DOUBLE) / t), 9) AS DECIMAL(28,9))) AS s,
       |   count(*) AS n
       | FROM tok JOIN uni USING (w) CROSS JOIN tot GROUP BY doc_id)""".stripMargin

  /** DuckDB fold-based double-precision dot product of two list columns
    * (left-to-right from 0.0 — the same order as the fused VecDot
    * kernel, so results are bit-identical). */
  private def duckDot(x: String, y: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, len($x)+1), " +
      s"i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))), (acc, v) -> acc + v)"

  /** DuckDB fold-based double-precision cosine between two list columns. */
  private def duckCosine(a: String, b: String): String =
    s"(${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)})))"

  def oracles: Map[String, String] = staticOracles ++ ivfOracle ++ ivfTableOracle ++ ivfExprOracle ++ filteredIvfOracle ++ bandedLshOracle ++ pcaOracle ++ pcaAnnOracle ++ pqOracle ++ ivfPqOracle ++ ivfPqResOracle ++ ivfPqRefineOracle ++ clusterOracle ++ hardNegOracle ++ persistedIvfOracle ++ appendedIvfOracle ++ tombstoneIvfOracle ++ compactedIvfOracle ++ curatedServeOracle ++ curatedSearchOracle ++ curatedRefineOracle ++ streamServeOracle ++ prunedServeOracle ++ knnIvfOracle ++ knnTableOracle ++ knnExprOracle ++ hierServeOracle ++ hierKnnOracle ++ annRecallOracle ++ annRecallHierOracle ++ prodServeOracle ++ prodHierOracle ++ recallHeldIvfOracle ++ prodStreamServeOracle ++ streamIngestIndexOracle ++ prodQuantizedOracle ++ indexRefreshOracle ++ gen2ServeOracle ++ derivedServeOracle ++ gen2HierOracle ++ hierDerivedOracle ++ gen3ServeOracle ++ gen3HierOracle ++ gen3DerivedOracle ++ gen2DeleteOracle ++ gen3DeleteOracle ++ derivedStreamServeOracle

  /** s66's oracle from the stashed PCA model: every projection
    * recomputed from (mean, components) literals with the same
    * 0.0-seeded left fold the Spark side evaluates. */
  private def pcaOracle: Map[String, String] = OracleStash.get(OracleStash.S66Pca) match {
    case None => Map.empty
    case Some((mean, comps)) =>
      val mu = mean.map(_.toString).mkString("[", ",", "]")
      val pcCols = comps.zipWithIndex.map { case (w, c) =>
        val wl = w.map(_.toString).mkString("[", ",", "]")
        s"round(list_reduce(list_prepend(0.0, list_transform(range(1, ${mean.length + 1}), " +
          s"i -> (CAST(embedding[i] AS DOUBLE) - ($mu)[i]) * ($wl)[i])), (acc, v) -> acc + v), 6) AS pc$c"
      }.mkString(", ")
      Map("s66_pca_embed" -> s"SELECT vec_id, $pcCols FROM embeddings ORDER BY vec_id")
  }

  /** s67's oracle: reduced coordinates from the spliced model (same
    * folds as s66, unrounded), cosine shortlist in the reduced space,
    * exact full-vector re-rank — the whole serving path re-derived. */
  private def pcaAnnOracle: Map[String, String] = OracleStash.get(OracleStash.S67Pca) match {
    case None => Map.empty
    case Some((mean, comps)) =>
      val mu = mean.map(_.toString).mkString("[", ",", "]")
      val folds = comps.map { w =>
        val wl = w.map(_.toString).mkString("[", ",", "]")
        s"list_reduce(list_prepend(0.0, list_transform(range(1, ${mean.length + 1}), " +
          s"i -> (CAST(embedding[i] AS DOUBLE) - ($mu)[i]) * ($wl)[i])), (acc, v) -> acc + v)"
      }.mkString("[", ", ", "]")
      Map("s67_ann_pca" ->
        s"""WITH red AS (SELECT vec_id, $folds AS r FROM embeddings),
           |cand AS (SELECT query_id, nbr_id FROM (
           | SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
           |  row_number() OVER (PARTITION BY q.vec_id
           |    ORDER BY ${duckCosine("c.r", "q.r")} DESC, c.vec_id) AS rk
           | FROM red c JOIN red q ON q.vec_id < 5 AND c.vec_id <> q.vec_id)
           | WHERE rk <= 32),
           |ex AS (SELECT c.query_id, c.nbr_id,
           |   ${duckCosine("q.embedding", "e.embedding")} AS sim
           | FROM cand c JOIN embeddings e ON e.vec_id = c.nbr_id
           | JOIN embeddings q ON q.vec_id = c.query_id)
           |SELECT query_id, nbr_id, CAST(rank AS INTEGER) AS rank FROM (
           | SELECT query_id, nbr_id,
           |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rank FROM ex)
           |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)
  }

  /** d36/d56 oracles from the stashed corpus-sized band widths (ANN
    * splice pattern: present only after the query ran this JVM). */
  private def bandedLshOracle: Map[String, String] =
    OracleStash.get(OracleStash.D36Bits).map(b => "d36_embed_neardup_lsh" -> d36Oracle(bits = b)).toMap ++
      OracleStash.get(OracleStash.D56Bits).map(b => "d56_lsh_neardup_sampled" ->
        d36Oracle(sampledEmbSql, EmbTwinThreshold, bits = b)).toMap ++
      OracleStash.get(OracleStash.D73Config).map(c => "d73_neardup_recall_held" ->
        d36Oracle(bits = c.bits, tables = c.tables)).toMap ++
      OracleStash.get(OracleStash.D74Config).map(c => "d74_semantic_dedup_lsh" -> d74Oracle(c)).toMap

  /** d53's oracle from the stashed centroids (see [[ivfOracle]] for the
    * stash-then-splice contract): assignment (argmax cosine, ties→low
    * cid) and the rounded-DECIMAL cohesion fold recomputed in DuckDB. */
  private def clusterOracle: Map[String, String] = OracleStash.get(OracleStash.D53Cents) match {
    case None => Map.empty
    case Some(cents) =>
      Map("d53_kmeans_clusters" ->
        s"""WITH ${centroidAssignCtes(cents, "s")}
           |SELECT cid, COUNT(*) AS n_vecs, MIN(vec_id) AS first_vec,
           | CAST(SUM(CAST(round(s, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_sim
           |FROM assign GROUP BY cid ORDER BY cid""".stripMargin)
  }

  /** FNV-1a64 of a text expression as a HUGEINT fold mod 2^64 (same
    * chain as the a40/d32 oracles; ASCII ord == byte caveat applies). */
  private[queries] def duckFnv(textExpr: String): String =
    s"list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), " +
      s"list_transform(range(1, length($textExpr)+1), i -> ord(substr($textExpr, i, 1)))), " +
      "(acc, b) -> (xor(acc, CAST(b AS HUGEINT)) * 1099511628211) % CAST(18446744073709551616 AS HUGEINT))"

  /** (x * c) mod 2^64 via 32-bit limbs (a full 64×64 product overflows
    * signed int128 HUGEINT): x·c = x1c1·2^64 + (x1c0+x0c1)·2^32 + x0c0
    * → drop the 2^64 term, wrap the middle term at 2^32. */
  private def duckMulmod64(x: String, c: Long): String = {
    val c1 = (c >>> 32) & 0xffffffffL
    val c0 = c & 0xffffffffL
    s"((($x % 4294967296) * $c0 + (((($x // 4294967296) * $c0 + ($x % 4294967296) * $c1)" +
      s" % 4294967296) * 4294967296)) % CAST(18446744073709551616 AS HUGEINT))"
  }

  /** CTE chain `<name>0..<name>` computing fnv1a64_mix(`keyExpr`) → the
    * Kirsch–Mitzenmacher double-hash params (u1, u2) that drive both
    * the Bloom bit positions and the CMS counter columns, carrying
    * `carry` columns through. Mirrors [[graft.functions.BloomFilterAgg
    * .position]] exactly: hm = low 62 bits, u1 = low 31, u2 = next 31
    * forced odd. `src` is a FROM-clause fragment. */
  /** CTE chain `<name>0..<name>` computing fnv1a64_mix(`keyExpr`) as a
    * HUGEINT `h` in [0, 2^64), carrying `carry` columns through —
    * the SQL recompute of [[graft.core.TextHash.fnv1a64Mixed]]. */
  private[queries] def fnvMixCtes(name: String, src: String, carry: Seq[String],
                                  keyExpr: String = "text"): String = {
    val c = if (carry.isEmpty) "" else carry.mkString("", ", ", ", ")
    s"${name}0 AS (SELECT $c${duckFnv(keyExpr)} AS h FROM $src),\n" +
      s"${name}1 AS (SELECT ${c}xor(h, h // 8589934592) AS h FROM ${name}0),\n" +
      s"${name}2 AS (SELECT $c${duckMulmod64("h", 0xff51afd7ed558ccdL)} AS h FROM ${name}1),\n" +
      s"${name}3 AS (SELECT ${c}xor(h, h // 8589934592) AS h FROM ${name}2),\n" +
      s"${name}4 AS (SELECT $c${duckMulmod64("h", 0xc4ceb9fe1a85ec53L)} AS h FROM ${name}3),\n" +
      s"$name AS (SELECT ${c}xor(h, h // 8589934592) AS h FROM ${name}4)"
  }

  private[queries] def hashMixCtes(name: String, src: String, carry: Seq[String],
                                   keyExpr: String = "text"): String = {
    val c = if (carry.isEmpty) "" else carry.mkString("", ", ", ", ")
    val hm = "(h % 4611686018427387904)"
    fnvMixCtes(s"${name}h", src, carry, keyExpr) + ",\n" +
      s"$name AS (SELECT $c$hm % 2147483648 AS u1, " +
      s"($hm // 2147483648) - (($hm // 2147483648) % 2) + 1 AS u2 FROM ${name}h)"
  }

  /** Squared-L2 distance list of `vec` against subspace `s` of the
    * codebooks, as a 0.0-seeded fold over centroid-list literals —
    * value-identical to the Spark left-associated sum (0.0 + x == x for
    * non-negative squares). */
  private def pqDistListSql(books: Array[Array[Array[Double]]], s: Int, vec: String): String = {
    val sub = books(0)(0).length
    val bookLit = books(s).map(_.map(_.toString).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    s"list_transform($bookLit, cb -> list_reduce(list_prepend(0.0, " +
      s"list_transform(range(1, ${sub + 1}), i -> " +
      s"(CAST($vec[${s * sub} + i] AS DOUBLE) - cb[i]) * " +
      s"(CAST($vec[${s * sub} + i] AS DOUBLE) - cb[i]))), (acc, v) -> acc + v))"
  }

  /** `l0..l{m-1}` distance-list projections, `c0..c{m-1}` code picks
    * (first minimum = lowest code, the Spark struct-argmax rule), and
    * the ADC sum over `q`'s exact subvectors — the s44/s45 oracle
    * building blocks. */
  private def pqCodeCols(books: Array[Array[Array[Double]]],
                         vec: String = "embedding",
                         qvec: String = "q.qv"): (String, String, String) = {
    val m = books.length
    val distLists = (0 until m).map(s => s"${pqDistListSql(books, s, vec)} AS l$s")
      .mkString(", ")
    val codeCols = (0 until m).map { s =>
      s"CAST(list_position(l$s, list_min(l$s)) - 1 AS INTEGER) AS c$s"
    }.mkString(", ")
    val adc = (0 until m).map { s =>
      s"(${pqDistListSql(books, s, qvec)})[e.c$s + 1]"
    }.mkString(" + ")
    (distLists, codeCols, adc)
  }

  /** s44's oracle, built from the stashed codebooks: codes, ADC scores
    * and ascending-distance ranks recomputed entirely in DuckDB. */
  private def pqOracle: Map[String, String] = OracleStash.get(OracleStash.S44Books) match {
    case None => Map.empty
    case Some(books) =>
      val (distLists, codeCols, adc) = pqCodeCols(books)
      Map("s44_ann_pq" ->
        s"""WITH enc0 AS (SELECT vec_id, embedding, $distLists FROM embeddings),
           |enc AS (SELECT vec_id, $codeCols FROM enc0),
           |sc AS (SELECT q.query_id, e.vec_id AS nbr_id, $adc AS dist
           | FROM enc e JOIN (SELECT vec_id AS query_id, embedding AS qv
           |   FROM embeddings WHERE vec_id < 5) q ON e.vec_id <> q.query_id)
           |SELECT query_id, nbr_id, CAST(rank AS INTEGER) AS rank FROM (
           | SELECT query_id, nbr_id,
           |  row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, nbr_id) AS rank FROM sc)
           |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)
  }

  /** s45's oracle: the s37 coarse assign/probe CTEs composed with the
    * s44 encode/ADC CTEs — probe lists from max cosine (assign ties →
    * low cid; probe ties → high cid, matching the reverse-sorted array
    * slice), candidates ranked by ADC within the probed lists only. */
  private def ivfPqOracle: Map[String, String] = OracleStash.get(OracleStash.S45Model) match {
    case None => Map.empty
    case Some((cents, books)) =>
      val (distLists, codeCols, adc) = pqCodeCols(books)
      Map("s45_ann_ivfpq" ->
        s"""WITH ${centroidAssignCtes(cents, "embedding")},
           |enc0 AS (SELECT vec_id, cid, embedding, $distLists FROM assign),
           |enc AS (SELECT vec_id, cid, $codeCols FROM enc0),
           |qprobe AS (SELECT vec_id AS query_id, embedding AS qv, cid FROM (
           |  SELECT vec_id, embedding, cid,
           |   row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid DESC) AS rn
           |  FROM scored WHERE vec_id < 5) WHERE rn <= 4),
           |sc AS (SELECT q.query_id, e.vec_id AS nbr_id, $adc AS dist
           | FROM enc e JOIN qprobe q ON e.cid = q.cid AND e.vec_id <> q.query_id)
           |SELECT query_id, nbr_id, CAST(rank AS INTEGER) AS rank FROM (
           | SELECT query_id, nbr_id,
           |  row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, nbr_id) AS rank FROM sc)
           |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)
  }

  /** s57's oracle: s45's composition with the residual refinement —
    * corpus rows encode `res = embedding − owning centroid` (exact
    * element-wise DOUBLE subtraction, centroids spliced as literals),
    * queries ADC from `qres = qv − probed centroid`. The `CAST(x AS
    * DOUBLE)` inside the shared distance template is a no-op on the
    * already-DOUBLE residuals, so the same building blocks serve both
    * encodings. */
  /** The shared residual-IVF-PQ CTE prefix ending in `sc` (candidate
    * ADC distances within the probed lists) — ONE encoding of the
    * residual encode/probe semantics serving both the s57 final rank
    * and the s62 refine shortlist, so the two oracles cannot drift. */
  private def ivfPqResScCtes(cents: Array[Array[Double]],
                             books: Array[Array[Array[Double]]]): String = {
    val dim = cents(0).length
    val (distLists, codeCols, adc) = pqCodeCols(books, vec = "res", qvec = "q.qres")
    s"""${centroidAssignCtes(cents, "embedding")},
       |wres AS (SELECT a.vec_id, a.cid,
       |   list_transform(range(1, ${dim + 1}),
       |     i -> CAST(a.embedding[i] AS DOUBLE) - c.cv[i]) AS res
       | FROM assign a JOIN cents c ON a.cid = c.cid),
       |enc0 AS (SELECT vec_id, cid, $distLists FROM wres),
       |enc AS (SELECT vec_id, cid, $codeCols FROM enc0),
       |qprobe AS (SELECT query_id, cid,
       |  list_transform(range(1, ${dim + 1}),
       |    i -> CAST(qv[i] AS DOUBLE) - cv[i]) AS qres FROM (
       |  SELECT s.vec_id AS query_id, s.embedding AS qv, s.cid, c.cv,
       |   row_number() OVER (PARTITION BY s.vec_id ORDER BY s.s DESC, s.cid DESC) AS rn
       |  FROM scored s JOIN cents c ON s.cid = c.cid WHERE s.vec_id < 5)
       | WHERE rn <= 4),
       |sc AS (SELECT q.query_id, e.vec_id AS nbr_id, $adc AS dist
       | FROM enc e JOIN qprobe q ON e.cid = q.cid AND e.vec_id <> q.query_id)""".stripMargin
  }

  private def ivfPqResOracle: Map[String, String] = OracleStash.get(OracleStash.S57Model) match {
    case None => Map.empty
    case Some((cents, books)) =>
      Map("s57_ann_ivfpq_res" ->
        s"""WITH ${ivfPqResScCtes(cents, books)}
           |SELECT query_id, nbr_id, CAST(rank AS INTEGER) AS rank FROM (
           | SELECT query_id, nbr_id,
           |  row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, nbr_id) AS rank FROM sc)
           |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)
  }

  /** s62's oracle: the shared residual CTEs rank-capped at the refine
    * width (32), then the shortlist joined back to the EXACT vectors
    * and re-ranked by true cosine — the same composition the Spark
    * side executes. */
  private def ivfPqRefineOracle: Map[String, String] = OracleStash.get(OracleStash.S62Model) match {
    case None => Map.empty
    case Some((cents, books)) =>
      Map("s62_ann_refine" ->
        s"""WITH ${ivfPqResScCtes(cents, books)},
           |cand AS (SELECT query_id, nbr_id FROM (
           | SELECT query_id, nbr_id,
           |  row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, nbr_id) AS rk FROM sc)
           | WHERE rk <= 32),
           |ex AS (SELECT c.query_id, c.nbr_id,
           |   ${duckCosine("q.embedding", "e.embedding")} AS sim
           | FROM cand c JOIN embeddings e ON e.vec_id = c.nbr_id
           | JOIN embeddings q ON q.vec_id = c.query_id)
           |SELECT query_id, nbr_id, CAST(rank AS INTEGER) AS rank FROM (
           | SELECT query_id, nbr_id,
           |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rank FROM ex)
           |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)
  }

  /** s37's oracle exists only after the query has run (the
    * [[OracleStash]] contract):
    * the deterministic centroids become VALUES literals and DuckDB
    * recomputes assignment (argmax cosine, ties→low cid), per-query
    * probing (top-nprobe centroids, ties→high cid — matching the
    * reverse-sorted array slice on the Spark side) and final ranking. */
  /** Shared cents/scored/assign CTE prefix for every centroid-based
    * oracle (s37/s45/d53): centroid VALUES literals, cross-join cosine
    * scoring, and the argmax assignment (ties → LOW cid — matching
    * Similarity's struct-argmax). ONE encoding of the assignment
    * semantics, so a tie-break or scoring fix reaches all three
    * oracles at once. `carry` is the extra scored column the
    * assignment keeps (embedding for the ANN probes, s for the
    * cluster cohesion report). */
  private def centroidAssignCtes(cents: Array[Array[Double]], carry: String,
                                 src: String = "SELECT vec_id, embedding FROM embeddings"): String = {
    val centValues = cents.zipWithIndex.map { case (c, i) =>
      s"($i, ${c.map(_.toString).mkString("[", ",", "]")})"
    }.mkString(", ")
    s"""cents AS (SELECT * FROM (VALUES $centValues) v(cid, cv)),
       |scored AS (SELECT e.vec_id, e.embedding, c.cid,
       |   ${duckCosine("e.embedding", "c.cv")} AS s
       | FROM ($src) e CROSS JOIN cents c),
       |assign AS (SELECT vec_id, $carry, cid FROM (
       |  SELECT vec_id, $carry, cid,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn FROM scored)
       | WHERE rn = 1)""".stripMargin
  }

  /** The probe/score CTE chain (cents → scored → assign → qprobe →
    * cand) for a given quantizer — ONE encoding of the probe rule
    * (top-4 lists per query by `s DESC, cid DESC`, self-excluded
    * candidate scoring) shared by every consumer, so a tie-break or
    * nprobe change cannot reach one oracle and miss another. */
  private def ivfProbeCtes(cents: Array[Array[Double]],
      src: String = "SELECT vec_id, embedding FROM embeddings",
      candPred: String = "", qPred: String = "vec_id < 5",
      nprobe: Int = 4): String =
    s"""${centroidAssignCtes(cents, "embedding", src)},
       |qprobe AS (SELECT vec_id AS query_id, embedding AS qv, cid FROM (
       |  SELECT vec_id, embedding, cid,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid DESC) AS rn
       |  FROM scored WHERE $qPred) WHERE rn <= $nprobe),
       |cand AS (SELECT q.query_id, a.vec_id AS nbr_id,
       |   ${duckCosine("q.qv", "a.embedding")} AS sim
       | FROM qprobe q JOIN assign a ON a.cid = q.cid AND a.vec_id <> q.query_id$candPred)"""
      .stripMargin

  /** The IVF probe/rank oracle SQL for a given quantizer — shared by
    * s37 (in-memory assignment) and s60 (persisted index): the answer
    * must not depend on where the assigned corpus lives. */
  private def ivfProbeOracleSql(cents: Array[Array[Double]],
      src: String = "SELECT vec_id, embedding FROM embeddings",
      candPred: String = "", qPred: String = "vec_id < 5",
      nprobe: Int = 4): String =
    s"""WITH ${ivfProbeCtes(cents, src, candPred, qPred, nprobe)}
       |SELECT query_id, nbr_id, CAST(rank AS INTEGER) AS rank FROM (
       | SELECT query_id, nbr_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rank FROM cand)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  private def ivfOracle: Map[String, String] =
    OracleStash.get(OracleStash.S37Cents).map(c => "s37_ann_ivf" -> ivfProbeOracleSql(c)).toMap

  /** s81's oracle: the SAME probe/rank recompute as s37 — the spliced-
    * centroid VALUES form is size-agnostic, so 128 lists splice as
    * readily as 16. */
  private def ivfTableOracle: Map[String, String] =
    OracleStash.get(OracleStash.S81Cents).map(c => "s81_ann_ivf_table" -> ivfProbeOracleSql(c)).toMap

  /** s83's oracle: the identical probe/rank recompute once more, from
    * the 256-list quantizer — the answers must fall out of the same
    * spliced-centroid semantics (and the
    * sparse lists at 256-over-500 occupancy fall out of it too: the
    * recompute simply yields fewer than k rows where the probed lists
    * hold fewer candidates). */
  private def ivfExprOracle: Map[String, String] =
    OracleStash.get(OracleStash.S83Cents).map(c => "s83_ann_ivf_expr" -> ivfProbeOracleSql(c)).toMap

  /** s79/s80's shared SQL tail over a `ranked(query_id, nbr_id, rk)`
    * CTE — the per-label 1-NN agreement fold, one encoding as the
    * Spark-side knnLabelAgreement. */
  private val knnLabelAggSql: String =
    """one AS (SELECT query_id, nbr_id FROM ranked WHERE rk = 1)
      |SELECT ql.label AS label, count(*) AS n,
      | CAST(sum(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END) AS BIGINT) AS correct_1nn
      |FROM one o JOIN embeddings ql ON o.query_id = ql.vec_id
      |           JOIN embeddings nl ON o.nbr_id = nl.vec_id
      |GROUP BY ql.label ORDER BY label""".stripMargin

  /** The IVF leave-one-out eval recompute for a given quantizer —
    * spliced centroids, EVERY vector a query, probe/rank to top-1,
    * per-label fold. Shared by s80 (occupancy-held nlist) and s82
    * (nlist=128). */
  private def knnIvfOracleSql(c: Cents): String =
    s"""WITH ${centroidAssignCtes(c, "embedding")},
       |qprobe AS (SELECT vec_id AS query_id, embedding AS qv, cid FROM (
       |  SELECT vec_id, embedding, cid,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid DESC) AS rn
       |  FROM scored) WHERE rn <= 4),
       |cand AS (SELECT q.query_id, a.vec_id AS nbr_id,
       |   ${duckCosine("q.qv", "a.embedding")} AS sim
       | FROM qprobe q JOIN assign a ON a.cid = q.cid AND a.vec_id <> q.query_id),
       |ranked AS (SELECT query_id, nbr_id,
       |   row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rk
       |  FROM cand),
       |$knnLabelAggSql""".stripMargin

  /** s80's oracle: the s37 probe/rank recompute (spliced centroids,
    * every vector a query) ranked to top-1 and folded per label. */
  private def knnIvfOracle: Map[String, String] =
    OracleStash.get(OracleStash.S80Cents)
      .map(c => "s80_knn_label_eval_ivf" -> knnIvfOracleSql(c)).toMap

  /** s82's oracle: the same recompute over the 128-list quantizer. */
  private def knnTableOracle: Map[String, String] =
    OracleStash.get(OracleStash.S82Cents)
      .map(c => "s82_knn_label_eval_table" -> knnIvfOracleSql(c)).toMap

  /** s84's oracle: the same recompute once more, over the 256-list
    * quantizer. */
  private def knnExprOracle: Map[String, String] =
    OracleStash.get(OracleStash.S84Cents)
      .map(c => "s84_knn_label_eval_expr" -> knnIvfOracleSql(c)).toMap

  /** The HIERARCHICAL (two-level) probe-path recompute for a spliced
    * (coarse, fine) model, ending in `cand(query_id, nbr_id, sim)` —
    * NOTHING is trusted from the Spark side but the two trained
    * matrices: the fine→coarse ownership map is RE-DERIVED (argmax
    * cosine, ties → low kid — the plan-time IvfOps.fineToCoarse rule),
    * empty coarse cells drop out of the probe domain exactly as the
    * kernel's `owned` mask drops them, coarse probing (ties → high
    * kid), hierarchical assignment (ties → low cid) and hierarchical
    * query probing (ties → high cid) all walk the same two-level path
    * the fused scan loops walk. One `fscore` CTE feeds assignment AND
    * query probes — as one kernel pass feeds both expressions. Shared
    * by s85 (serving) and s86 (leave-one-out eval); cprobe/nprobe are
    * the queries' defaults (4/4). */
  private def hierPathCtes(coarse: Cents, fine: Cents,
                           cprobe: Int, nprobe: Int, qPred: String): String = {
    def values(m: Cents) = m.zipWithIndex.map { case (c, i) =>
      s"($i, ${c.map(_.toString).mkString("[", ",", "]")})"
    }.mkString(", ")
    s"""cc AS (SELECT * FROM (VALUES ${values(coarse)}) v(kid, kv)),
       |fc AS (SELECT * FROM (VALUES ${values(fine)}) v(cid, cv)),
       |f2c AS (SELECT cid, kid FROM (
       |  SELECT f.cid, c.kid,
       |   row_number() OVER (PARTITION BY f.cid
       |     ORDER BY ${duckCosine("f.cv", "c.kv")} DESC, c.kid ASC) AS rn
       |  FROM fc f CROSS JOIN cc c) WHERE rn = 1),
       |kscore AS (SELECT e.vec_id, e.embedding, o.kid,
       |   ${duckCosine("e.embedding", "o.kv")} AS s
       | FROM embeddings e CROSS JOIN
       |  (SELECT cc.kid, cc.kv FROM cc
       |    JOIN (SELECT DISTINCT kid FROM f2c) w USING (kid)) o),
       |kprobe AS (SELECT vec_id, embedding, kid FROM (
       |  SELECT vec_id, embedding, kid,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, kid DESC) AS rn
       |  FROM kscore) WHERE rn <= $cprobe),
       |fscore AS (SELECT k.vec_id, k.embedding, f.cid,
       |   ${duckCosine("k.embedding", "f.cv")} AS s
       | FROM kprobe k JOIN f2c m ON m.kid = k.kid JOIN fc f ON f.cid = m.cid),
       |assign AS (SELECT vec_id, embedding, cid FROM (
       |  SELECT vec_id, embedding, cid,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
       |  FROM fscore) WHERE rn = 1),
       |qprobe AS (SELECT vec_id AS query_id, embedding AS qv, cid FROM (
       |  SELECT vec_id, embedding, cid,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid DESC) AS rn
       |  FROM fscore WHERE $qPred) WHERE rn <= $nprobe),
       |cand AS (SELECT q.query_id, a.vec_id AS nbr_id,
       |   ${duckCosine("q.qv", "a.embedding")} AS sim
       | FROM qprobe q JOIN assign a ON a.cid = q.cid AND a.vec_id <> q.query_id)"""
      .stripMargin
  }

  /** s85's oracle: the hierarchical path recompute ranked to top-10 —
    * the s37/s81/s83 final SELECT over the two-level cand set. */
  private def hierServeOracle: Map[String, String] =
    OracleStash.get(OracleStash.S85Model).map { case (co, fi) =>
      "s85_ann_ivf_hier" ->
        s"""WITH ${hierPathCtes(co, fi, cprobe = 4, nprobe = 4, qPred = "vec_id < 5")}
           |SELECT query_id, nbr_id, CAST(rank AS INTEGER) AS rank FROM (
           | SELECT query_id, nbr_id,
           |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rank FROM cand)
           |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    }.toMap

  /** s86's oracle: the same two-level recompute, every vector a query,
    * top-1, folded per label — four tiers, one eval semantics. */
  private def hierKnnOracle: Map[String, String] =
    OracleStash.get(OracleStash.S86Model).map { case (co, fi) =>
      "s86_knn_label_eval_hier" ->
        s"""WITH ${hierPathCtes(co, fi, cprobe = 4, nprobe = 4, qPred = "TRUE")},
           |ranked AS (SELECT query_id, nbr_id,
           |   row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rk
           |  FROM cand),
           |$knnLabelAggSql""".stripMargin
    }.toMap

  /** s88's oracle: BOTH rankings re-derived — the brute ground-truth
    * top-10 (the s35 chain) and the spliced-centroid probe top-10 (the
    * s37 chain) — then intersected per query and counted in INTEGERS.
    * The recall number itself is what hash-matches, so a probe recall
    * regression (or a rank-rule drift on either side) fails the gate. */
  /** The recall-audit tail shared by s88/s89: rank a preceding
    * `cand(query_id, nbr_id, sim)` CTE to its top-10, re-derive the
    * brute ground-truth top-10, intersect per query, count in
    * integers. ONE encoding so the flat and hierarchical audits cannot
    * drift on what "recall" means. */
  private def recallTailSql: String =
    s"""ivf AS (SELECT query_id, nbr_id FROM (
       | SELECT query_id, nbr_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rank FROM cand)
       | WHERE rank <= 10),
       |bq AS (SELECT q.vec_id AS query_id, e.vec_id AS nbr_id,
       |   ${duckCosine("q.embedding", "e.embedding")} AS sim
       | FROM embeddings q CROSS JOIN embeddings e
       | WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id),
       |bt AS (SELECT query_id, nbr_id FROM (
       | SELECT query_id, nbr_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rk FROM bq)
       | WHERE rk <= 10)
       |SELECT b.query_id AS query_id, CAST(count(i.nbr_id) AS BIGINT) AS hits_at_10
       |FROM bt b LEFT JOIN ivf i
       |  ON i.query_id = b.query_id AND i.nbr_id = b.nbr_id
       |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin

  private def annRecallOracle: Map[String, String] =
    OracleStash.get(OracleStash.S88Cents).map { c =>
      "s88_ann_recall" ->
        s"""WITH ${ivfProbeCtes(c)},
           |$recallTailSql""".stripMargin
    }.toMap

  /** s89's oracle: the same recall audit with the candidate set from
    * the full two-level recompute ([[hierPathCtes]]). */
  private def annRecallHierOracle: Map[String, String] =
    OracleStash.get(OracleStash.S89Model).map { case (co, fi) =>
      "s89_ann_recall_hier" ->
        s"""WITH ${hierPathCtes(co, fi, cprobe = 4, nprobe = 4, qPred = "vec_id < 5")},
           |$recallTailSql""".stripMargin
    }.toMap

  /** s90's oracle: the identical probe/rank recompute from the
    * persisted PRODUCTION-nlist quantizer — the spliced-VALUES form is
    * size-agnostic, so the 128-list matrix read back from the index
    * artifact splices exactly as the in-memory ones do; serving
    * through the persisted layout must land on the same answers the
    * probe semantics define (the s60 claim at production nlist). */
  private def prodServeOracle: Map[String, String] =
    OracleStash.get(OracleStash.S90Cents)
      .map(c => "s90_ann_ivf_prod" -> ivfProbeOracleSql(c)).toMap

  /** The HYBRID serving recompute for s91 — FLAT assignment (the
    * production index was built with the exact argmax; its rule is
    * [[centroidAssignCtes]]'s, unchanged) + the full TWO-LEVEL query
    * probe walk re-derived from the two spliced matrices (ownership
    * argmax ties→low kid, coarse probes ties→high kid, fine probes
    * among owned lists ties→high cid — [[hierPathCtes]]'s rules, with
    * kscore restricted to the query rows because only the QUERY side
    * walks the two-level path here). Ends at
    * `cand(query_id, nbr_id, sim)`. */
  private def hierQueryOnFlatCtes(coarse: Cents, fine: Cents,
                                  cprobe: Int, nprobe: Int, qPred: String,
                                  src: String = "SELECT vec_id, embedding FROM embeddings"): String = {
    val coarseValues = coarse.zipWithIndex.map { case (c, i) =>
      s"($i, ${c.map(_.toString).mkString("[", ",", "]")})"
    }.mkString(", ")
    s"""${centroidAssignCtes(fine, "embedding", src)},
       |cc AS (SELECT * FROM (VALUES $coarseValues) v(kid, kv)),
       |f2c AS (SELECT cid, kid FROM (
       |  SELECT f.cid, c.kid,
       |   row_number() OVER (PARTITION BY f.cid
       |     ORDER BY ${duckCosine("f.cv", "c.kv")} DESC, c.kid ASC) AS rn
       |  FROM cents f CROSS JOIN cc c) WHERE rn = 1),
       |kscore AS (SELECT e.vec_id, e.embedding, o.kid,
       |   ${duckCosine("e.embedding", "o.kv")} AS s
       | FROM (SELECT vec_id, embedding FROM embeddings WHERE $qPred) e CROSS JOIN
       |  (SELECT cc.kid, cc.kv FROM cc
       |    JOIN (SELECT DISTINCT kid FROM f2c) w USING (kid)) o),
       |kprobe AS (SELECT vec_id, embedding, kid FROM (
       |  SELECT vec_id, embedding, kid,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, kid DESC) AS rn
       |  FROM kscore) WHERE rn <= $cprobe),
       |fscore AS (SELECT k.vec_id, k.embedding, f.cid,
       |   ${duckCosine("k.embedding", "f.cv")} AS s
       | FROM kprobe k JOIN f2c m ON m.kid = k.kid JOIN cents f ON f.cid = m.cid),
       |qprobe AS (SELECT vec_id AS query_id, embedding AS qv, cid FROM (
       |  SELECT vec_id, embedding, cid,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid DESC) AS rn
       |  FROM fscore) WHERE rn <= $nprobe),
       |cand AS (SELECT q.query_id, a.vec_id AS nbr_id,
       |   ${duckCosine("q.qv", "a.embedding")} AS sim
       | FROM qprobe q JOIN assign a ON a.cid = q.cid AND a.vec_id <> q.query_id)"""
      .stripMargin
  }

  /** The HYBRID-walk top-10 oracle SQL for a persisted flat-assigned
    * index served hierarchically — [[ivfProbeOracleSql]]'s sibling for
    * the [[hierQueryOnFlatCtes]] family (s91/s99/s100): ONE rank tail,
    * so a tie-break or cast fix cannot drift across the three. */
  private def hierProbeOracleSql(coarse: Cents, fine: Cents,
      cprobe: Int = 4, nprobe: Int = 4, qPred: String = "vec_id < 5",
      src: String = "SELECT vec_id, embedding FROM embeddings"): String =
    s"""WITH ${hierQueryOnFlatCtes(coarse, fine, cprobe, nprobe, qPred, src)}
       |SELECT query_id, nbr_id, CAST(rank AS INTEGER) AS rank FROM (
       | SELECT query_id, nbr_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rank FROM cand)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  private def prodHierOracle: Map[String, String] =
    OracleStash.get(OracleStash.S91Model).map { case (co, fi) =>
      "s91_ann_ivf_prod_hier" -> hierProbeOracleSql(co, fi)
    }.toMap

  /** s93's oracle: the s88 recall audit with BOTH rankings re-derived
    * at the STASHED derived nprobe — the d73 discipline for the IVF
    * knob: the config [[Similarity.nprobeForRecall]] returned is
    * itself what the gate checks, in integers. */
  private def recallHeldIvfOracle: Map[String, String] =
    OracleStash.get(OracleStash.S93Config).map { case (c, np) =>
      "s93_ann_recall_held" ->
        s"""WITH ${ivfProbeCtes(c, nprobe = np)},
           |$recallTailSql""".stripMargin
    }.toMap

  /** s92's centroids — SET by the production-nlist streaming serving
    * query (StreamingQueries; the oracle lives here beside its
    * s77/s78 siblings because it IS the same probe/rank recompute at
    * production nlist: streaming, micro-batching, and per-batch
    * static pruning must all be answer-invisible). */
  private def prodStreamServeOracle: Map[String, String] =
    OracleStash.get(OracleStash.S92Cents).map(c => "s92_stream_ann_serving_prod" ->
      ivfProbeOracleSql(c, qPred = "vec_id < 15")).toMap

  /** s95's oracle: the full two-stage quantized-serve recompute —
    * flat assignment and query probes from the spliced matrix at FULL
    * precision (the build/probe rule), per-vector int8 quantization in
    * SQL (s39's exact-small-integer arithmetic), quantized-cosine
    * shortlist at refine=20, exact-cosine re-rank to k=10. Every
    * tie-break matches the kernel's (sim DESC, nbr_id). */
  private def prodQuantizedOracle: Map[String, String] =
    OracleStash.get(OracleStash.S95Cents).map { c =>
      val mx = "list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))))"
      val qv = s"list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * " +
        s"(CASE WHEN $mx = 0 THEN 0 ELSE 127.0 / $mx END) + 0.5))"
      "s95_ann_ivf_prod_quantized" ->
        s"""WITH ${centroidAssignCtes(c, "embedding")},
           |qprobe AS (SELECT vec_id AS query_id, cid FROM (
           |  SELECT vec_id, cid,
           |   row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid DESC) AS rn
           |  FROM scored WHERE vec_id < 5) WHERE rn <= 4),
           |z AS (SELECT vec_id, $qv AS qvv FROM embeddings),
           |nz AS (SELECT vec_id, qvv, sqrt(${duckDot("qvv", "qvv")}) AS nrm FROM z),
           |cand AS (SELECT q.query_id, a.vec_id AS nbr_id,
           |   (CASE WHEN zq.nrm * zn.nrm = 0 THEN 0.0
           |         ELSE ${duckDot("zq.qvv", "zn.qvv")} / (zq.nrm * zn.nrm) END) AS sim
           | FROM qprobe q
           | JOIN assign a ON a.cid = q.cid AND a.vec_id <> q.query_id
           | JOIN nz zq ON zq.vec_id = q.query_id
           | JOIN nz zn ON zn.vec_id = a.vec_id),
           |short AS (SELECT query_id, nbr_id FROM (
           |  SELECT query_id, nbr_id,
           |   row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rn
           |  FROM cand) WHERE rn <= 20),
           |ex AS (SELECT s.query_id, s.nbr_id,
           |   ${duckCosine("eq.embedding", "en.embedding")} AS sim
           | FROM short s JOIN embeddings eq ON eq.vec_id = s.query_id
           |              JOIN embeddings en ON en.vec_id = s.nbr_id)
           |SELECT query_id, nbr_id, CAST(rank AS INTEGER) AS rank FROM (
           | SELECT query_id, nbr_id,
           |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rank FROM ex)
           |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    }.toMap

  /** s96's oracle: the base ∪ delta probe/rank recompute from the
    * REFRESHED (warm-retrained) matrix — the refresh must serve
    * exactly what the spliced refreshed values define. */
  private def indexRefreshOracle: Map[String, String] =
    OracleStash.get(OracleStash.S96Cents).map(c => "s96_ann_index_refresh" ->
      ivfProbeOracleSql(c, prodGrownSrcSql)).toMap

  /** s97's oracle: the probe/rank recompute from the spliced REFRESHED
    * matrix (read back from the gen2 layout by the query run) over the
    * full served corpus — base ∪ the refresh-time delta (both
    * re-assigned into gen2) ∪ the gen2-chained streamed delta. The
    * persisted rewrite, the chained landing, and the guarded union
    * must together land on exactly what the spliced values define. */
  private def gen2ServeOracle: Map[String, String] =
    OracleStash.get(OracleStash.S97Cents).map(c => "s97_ann_ivf_gen2" ->
      ivfProbeOracleSql(c, gen2SrcSql)).toMap

  /** s98's oracle: the s90 probe/rank recompute at the STASHED derived
    * nprobe — the d73 discipline once more: the knob the API derived
    * is the knob the gate re-derives the answer at, in full. */
  private def derivedServeOracle: Map[String, String] =
    OracleStash.get(OracleStash.S98Config).map { case (c, np) =>
      "s98_ann_serving_derived" -> ivfProbeOracleSql(c, nprobe = np)
    }.toMap

  /** The base ∪ delta ∪ delta2 corpus the gen2 generation serves —
    * shared by the s97 (flat) and s99 (hier) gen2 oracles. */
  private def gen2SrcSql: String =
    s"""$prodGrownSrcSql
       |  UNION ALL
       |  SELECT vec_id + 200000000 AS vec_id, list_reverse(embedding) AS embedding
       |  FROM embeddings WHERE vec_id >= 200 AND vec_id < 400""".stripMargin

  /** s99's oracle: the s91 HYBRID recompute (flat assignment +
    * two-level query probes) from the two spliced REFRESHED matrices,
    * over the full gen2-served corpus. */
  private def gen2HierOracle: Map[String, String] =
    OracleStash.get(OracleStash.S99Model).map { case (co, fi) =>
      "s99_ann_ivf_gen2_hier" -> hierProbeOracleSql(co, fi, src = gen2SrcSql)
    }.toMap

  /** s100's oracle: the full HYBRID walk re-derived at the STASHED
    * derived (nprobe, cprobe) pair — both measured knobs are what the
    * gate re-derives the answer at, so a drift in either audit or in
    * serving at the derived pair hash-fails. */
  private def hierDerivedOracle: Map[String, String] =
    OracleStash.get(OracleStash.S100Config).map { case (co, fi, np, cp) =>
      "s100_ann_hier_derived" -> hierProbeOracleSql(co, fi, cprobe = cp, nprobe = np)
    }.toMap

  /** The corpus gen3 serves — everything gen2 served AFTER ITS
    * DELETES (the rollover folds [[deletedServingFrame]], so a row
    * retired from gen2 never resurrects into gen3 — review r16) plus
    * the gen3-chained streamed delta (whose ids post-date the
    * tombstone set and are not retired). */
  private def gen3SrcSql: String =
    s"""$gen2SurvivingSrcSql
       |  UNION ALL
       |  SELECT vec_id + 300000000 AS vec_id, list_reverse(embedding) AS embedding
       |  FROM embeddings WHERE vec_id >= 400 AND vec_id < 600""".stripMargin

  /** s101's oracle: the probe/rank recompute from the spliced
    * TWICE-refreshed matrix (read back from the gen3 layout by the
    * query run) over the full gen3-served corpus — both rollover
    * links, both chained landings, and the guarded serving must
    * jointly land on exactly what the spliced values define. */
  private def gen3ServeOracle: Map[String, String] =
    OracleStash.get(OracleStash.S101Cents).map(c => "s101_ann_ivf_gen3" ->
      ivfProbeOracleSql(c, gen3SrcSql)).toMap

  /** s104's oracle: the s91/s99 HYBRID recompute from the two spliced
    * TWICE-refreshed matrices over the gen3-served corpus — tier
    * parity must hold at every link of the generation chain. */
  private def gen3HierOracle: Map[String, String] =
    OracleStash.get(OracleStash.S104Model).map { case (co, fi) =>
      "s104_ann_ivf_gen3_hier" -> hierProbeOracleSql(co, fi, src = gen3SrcSql)
    }.toMap

  /** s105's oracle: the gen3 probe/rank recompute AT the stashed
    * nprobe the generation derived for itself — the d73/s98
    * discipline composed with rollover: a new quantizer generation
    * re-prices its knob, and the gate re-derives the answer at
    * exactly that price. */
  private def gen3DerivedOracle: Map[String, String] =
    OracleStash.get(OracleStash.S105Config).map { case (c, np) =>
      "s105_ann_gen3_derived" -> ivfProbeOracleSql(c, gen3SrcSql, nprobe = np)
    }.toMap

  /** The gen3-served corpus minus the SECOND retire rule's ids —
    * every arm additionally drops id ≡ 3 mod 10 (the first rule's
    * ids, ≡ 7, are already gone from the first three arms via the
    * rollover fold; the delta3 arm never had that filter). */
  private def gen3SurvivingSrcSql: String =
    """SELECT vec_id, embedding FROM embeddings
      |   WHERE vec_id % 10 <> 7 AND vec_id % 10 <> 3
      |  UNION ALL
      |  SELECT vec_id + 100000000 AS vec_id, list_reverse(embedding) AS embedding
      |  FROM embeddings WHERE vec_id < 200 AND vec_id % 10 <> 7 AND vec_id % 10 <> 3
      |  UNION ALL
      |  SELECT vec_id + 200000000 AS vec_id, list_reverse(embedding) AS embedding
      |  FROM embeddings WHERE vec_id >= 200 AND vec_id < 400 AND vec_id % 10 <> 7 AND vec_id % 10 <> 3
      |  UNION ALL
      |  SELECT vec_id + 300000000 AS vec_id, list_reverse(embedding) AS embedding
      |  FROM embeddings WHERE vec_id >= 400 AND vec_id < 600 AND vec_id % 10 <> 3""".stripMargin

  /** s106's oracle: the s103 discipline at the rolled link — the
    * probe/rank recompute from the spliced gen3 matrix over gen3's
    * corpus minus the second rule's retirees. */
  private def gen3DeleteOracle: Map[String, String] =
    OracleStash.get(OracleStash.S106Cents).map(c => "s106_ann_ivf_gen3_delete" ->
      ivfProbeOracleSql(c, gen3SurvivingSrcSql)).toMap

  /** The gen2-served corpus minus the retired ids — every arm drops
    * id ≡ 7 mod 10 (the +100M/+200M shifts preserve the residue, so the
    * one rule covers base and both deltas, exactly as the Spark-side
    * tombstone synthesis does). */
  private def gen2SurvivingSrcSql: String =
    """SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 7
      |  UNION ALL
      |  SELECT vec_id + 100000000 AS vec_id, list_reverse(embedding) AS embedding
      |  FROM embeddings WHERE vec_id < 200 AND vec_id % 10 <> 7
      |  UNION ALL
      |  SELECT vec_id + 200000000 AS vec_id, list_reverse(embedding) AS embedding
      |  FROM embeddings WHERE vec_id >= 200 AND vec_id < 400 AND vec_id % 10 <> 7""".stripMargin

  /** s103's oracle: the s63 discipline on the refreshed generation —
    * the probe/rank recompute from the spliced gen2 matrix over the
    * SURVIVING corpus: deleting via tombstones must equal never
    * having indexed the retired rows at all. */
  private def gen2DeleteOracle: Map[String, String] =
    OracleStash.get(OracleStash.S103Cents).map(c => "s103_ann_ivf_gen2_delete" ->
      ivfProbeOracleSql(c, gen2SurvivingSrcSql)).toMap

  /** s102's oracle: the s92 recompute with the knob the stream served
    * at being the STASHED output of nprobeForRecall — the d73/s98
    * discipline extended to streaming: derivation drift, serving
    * drift, or batching artifacts all hash-fail at the derived knob. */
  private def derivedStreamServeOracle: Map[String, String] =
    OracleStash.get(OracleStash.S102Config).map { case (c, np) =>
      "s102_stream_ann_serving_derived" ->
        ivfProbeOracleSql(c, nprobe = np, qPred = "vec_id < 15")
    }.toMap

  /** s94's oracle: the s61-shaped base ∪ delta probe/rank recompute
    * from the spliced production matrix — per-vector assignment is a
    * pure function of (vector, frozen centroids), so micro-batching
    * the ingest must be answer-invisible. */
  private def streamIngestIndexOracle: Map[String, String] =
    OracleStash.get(OracleStash.S94Cents).map(c => "s94_stream_index_ingest" ->
      ivfProbeOracleSql(c, prodGrownSrcSql)).toMap

  /** s65's oracle: the same probe/rank SQL with the metadata predicate
    * applied to the CANDIDATE side only (queries stay unfiltered) —
    * assignment is per-vector, so filtering the full-corpus assignment
    * equals assigning the filtered corpus, which is what Spark runs. */
  private def filteredIvfOracle: Map[String, String] =
    OracleStash.get(OracleStash.S65Cents).map(c => "s65_ann_filtered" -> ivfProbeOracleSql(c,
      candPred = """
        | AND a.vec_id IN (SELECT vec_id FROM embeddings WHERE label IN (0,2,4,6,8))""".stripMargin)).toMap

  private def persistedIvfOracle: Map[String, String] =
    OracleStash.get(OracleStash.S60Cents).map(c => "s60_ann_ivf_persisted" -> ivfProbeOracleSql(c)).toMap

  /** s77's centroids — SET by StreamingQueries' streaming ANN serving
    * query (the topology lives with the other streaming queries; the
    * oracle is assembled here beside its s37/s60 siblings because it
    * IS the same probe/rank recompute — streaming must not change the
    * answer). */

  private def streamServeOracle: Map[String, String] =
    OracleStash.get(OracleStash.S77Cents).map(c => "s77_stream_ann_serving" ->
      ivfProbeOracleSql(c, qPred = "vec_id < 50")).toMap

  /** s78's centroids — SET by the PRUNED streaming serving query (the
    * s77 production shape: per-batch driver-side probe selection +
    * static `__cid IN` index read). Own stash so a filtered Verify of
    * s78 alone still emits its oracle. The oracle is the plain batch
    * probe/rank recompute: streaming, micro-batching, and per-batch
    * pruning must all be answer-invisible. */

  private def prunedServeOracle: Map[String, String] =
    OracleStash.get(OracleStash.S78Cents).map(c => "s78_stream_ann_serving_pruned" ->
      ivfProbeOracleSql(c, qPred = "vec_id < 15")).toMap

  /** The fixed text queries served against the curated index
    * (s73/s76) — vocabulary words only, ids disjoint from the chunk
    * vec_id space (which starts at 5000). ONE definition feeds the
    * Spark queries, the oracles' VALUES literal, AND the lifecycle
    * spec's brute-force ground truth (private[queries] for that). */
  private[queries] val curatedSearchQueries: Seq[(Long, String)] = Seq(
    (1L, "query join hash table scan"),
    (2L, "stream window batch data column"),
    (3L, "vector sort merge key value"))

  /** The shared curated-corpus vector CTE chain (d48 chunks →
    * per-token FNV featurizer → `vecs(vec_id, embedding)`) — one
    * derivation for the s72 and s73 oracles. */
  private def curatedVecsCtes: String =
    s"""${d48ChainCtes("documents")},
       |ctoks AS (SELECT doc_id*1000 + ci AS vec_id,
       |   tk[ci*80+1 : ci*80+100] AS toks FROM chx),
       |hvs AS (SELECT vec_id,
       |   list_transform(toks, t -> CAST(${duckFnv("t")} % 16 AS BIGINT)) AS bs
       | FROM ctoks),
       |vecs AS (SELECT vec_id, list_transform(range(0, 16),
       |   j -> CAST(len(list_filter(bs, bk -> bk = j)) AS DOUBLE)) AS embedding
       | FROM hvs)""".stripMargin

  /** The s73/s76 oracles' shared COARSE stage: the composed chain (as
    * s72) plus query vectors re-derived from the LITERAL strings —
    * whitespace tokens, the same per-token FNV fold mod 16 —
    * probed/scored with the spliced centroids, ending at
    * `cand(query_id, nbr_id, sim)`. `ctoks`/`qtoks` stay visible for
    * the fine featurizer downstream. */
  private def curatedCoarseCtes(c: Array[Array[Double]]): String = {
    val qvals = curatedSearchQueries
      .map { case (id, s) => s"($id, '$s')" }.mkString(", ")
    s"""WITH RECURSIVE ${curatedVecsCtes},
       |${centroidAssignCtes(c, "embedding", "SELECT vec_id, embedding FROM vecs")},
       |qraw AS (SELECT * FROM (VALUES $qvals) q(query_id, qtext)),
       |qtoks AS (SELECT query_id,
       |   list_filter(string_split_regex(qtext, '\\s+'), w -> length(w) > 0) AS toks
       | FROM qraw),
       |qhs AS (SELECT query_id,
       |   list_transform(toks, t -> CAST(${duckFnv("t")} % 16 AS BIGINT)) AS bs
       | FROM qtoks),
       |qvecs AS (SELECT query_id, list_transform(range(0, 16),
       |   j -> CAST(len(list_filter(bs, bk -> bk = j)) AS DOUBLE)) AS qv
       | FROM qhs),
       |qscored AS (SELECT q.query_id, q.qv, c.cid,
       |   ${duckCosine("q.qv", "c.cv")} AS s
       | FROM qvecs q CROSS JOIN cents c),
       |qprobe AS (SELECT query_id, qv, cid FROM (
       |  SELECT query_id, qv, cid,
       |   row_number() OVER (PARTITION BY query_id ORDER BY s DESC, cid DESC) AS rn
       |  FROM qscored) WHERE rn <= 4),
       |cand AS (SELECT q.query_id, a.vec_id AS nbr_id,
       |   ${duckCosine("q.qv", "a.embedding")} AS sim
       | FROM qprobe q JOIN assign a ON a.cid = q.cid)""".stripMargin
  }

  private def curatedSearchOracle: Map[String, String] =
    OracleStash.get(OracleStash.S73Cents).map { c =>
      "s73_curated_text_search" ->
        s"""${curatedCoarseCtes(c)}
           |SELECT query_id, nbr_id, CAST(rank AS INTEGER) AS rank FROM (
           | SELECT query_id, nbr_id,
           |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rank
           | FROM cand)
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }.toMap

  /** s76's oracle: the coarse chain's rank ≤ 20 shortlist, then BOTH
    * fine featurizers (chunk side from the chain's own `ctoks`, query
    * side from `qtoks` — per-token FNV fold mod 64, same unsigned-mod
    * equivalence as mod 16) and the exact cosine re-rank. */
  private def curatedRefineOracle: Map[String, String] =
    OracleStash.get(OracleStash.S76Cents).map { c =>
      "s76_curated_search_refined" ->
        s"""${curatedCoarseCtes(c)},
           |short AS (SELECT query_id, nbr_id FROM (
           |  SELECT query_id, nbr_id,
           |   row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rk
           |  FROM cand) WHERE rk <= 20),
           |ffhs AS (SELECT vec_id,
           |   list_transform(toks, t -> CAST(${duckFnv("t")} % 64 AS BIGINT)) AS bs
           | FROM ctoks),
           |ffv AS (SELECT vec_id, list_transform(range(0, 64),
           |   j -> CAST(len(list_filter(bs, bk -> bk = j)) AS DOUBLE)) AS fv
           | FROM ffhs),
           |qfhs AS (SELECT query_id,
           |   list_transform(toks, t -> CAST(${duckFnv("t")} % 64 AS BIGINT)) AS bs
           | FROM qtoks),
           |qfv AS (SELECT query_id, list_transform(range(0, 64),
           |   j -> CAST(len(list_filter(bs, bk -> bk = j)) AS DOUBLE)) AS fv
           | FROM qfhs),
           |rer AS (SELECT s.query_id, s.nbr_id,
           |   ${duckCosine("q.fv", "f.fv")} AS sim
           | FROM short s
           | JOIN ffv f ON f.vec_id = s.nbr_id
           | JOIN qfv q ON q.query_id = s.query_id)
           |SELECT query_id, nbr_id, CAST(rank AS INTEGER) AS rank FROM (
           | SELECT query_id, nbr_id,
           |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rank
           | FROM rer)
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }.toMap

  /** s72's oracle — the curate→index→serve COMPOSITION: the d48 chunk
    * chain re-derived end-to-end, the hashing-trick featurizer
    * recomputed per token (FNV fold mod 16; 2^64 ≡ 0 mod 16, so the
    * unsigned HUGEINT fold equals the kernel's signed floorMod), then
    * the spliced-centroid probe/rank SQL over the resulting vectors —
    * probes are the surviving chunks of the first seven corpus docs
    * (vec_id < 12000), exactly the rows the Spark side reads back
    * from the persisted index. */
  private def curatedServeOracle: Map[String, String] =
    OracleStash.get(OracleStash.S72Cents).map { c =>
      "s72_curate_index_serve" ->
        s"""WITH RECURSIVE ${curatedVecsCtes},
           |${centroidAssignCtes(c, "embedding", "SELECT vec_id, embedding FROM vecs")},
           |qprobe AS (SELECT vec_id AS query_id, embedding AS qv, cid FROM (
           |  SELECT vec_id, embedding, cid,
           |   row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid DESC) AS rn
           |  FROM scored WHERE vec_id < 12000) WHERE rn <= 4),
           |cand AS (SELECT q.query_id, a.vec_id AS nbr_id,
           |   ${duckCosine("q.qv", "a.embedding")} AS sim
           | FROM qprobe q JOIN assign a ON a.cid = q.cid AND a.vec_id <> q.query_id)
           |SELECT query_id, nbr_id, CAST(rank AS INTEGER) AS rank FROM (
           | SELECT query_id, nbr_id,
           |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rank
           | FROM cand)
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }.toMap

  /** s61's oracle: the same probe/rank SQL over the base ∪ delta
    * corpus (delta = reversed embeddings under shifted ids, the exact
    * synthesis the export writes). */
  private def appendedIvfOracle: Map[String, String] =
    OracleStash.get(OracleStash.S61Cents).map(c => "s61_ann_index_append" -> ivfProbeOracleSql(c,
      """SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000000 AS vec_id, list_reverse(embedding) AS embedding
        |  FROM embeddings WHERE vec_id < 200""".stripMargin)).toMap

  /** The SURVIVING corpus (base ∪ delta minus every id ≡ 7 mod 10 —
    * the shifted delta ids keep their residue, so one predicate covers
    * both sides). s63 (tombstone anti-join) and s64 (compacted
    * generation) share this ONE source template: both serving layouts
    * must answer as a from-scratch rebuild on exactly this corpus. */
  private val survivingCorpusSql: String =
    """SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 7
      |  UNION ALL
      |  SELECT vec_id + 100000000 AS vec_id, list_reverse(embedding) AS embedding
      |  FROM embeddings WHERE vec_id < 200 AND vec_id % 10 <> 7""".stripMargin

  private def tombstoneIvfOracle: Map[String, String] =
    OracleStash.get(OracleStash.S63Cents).map(c =>
      "s63_ann_index_delete" -> ivfProbeOracleSql(c, survivingCorpusSql)).toMap

  private def compactedIvfOracle: Map[String, String] =
    OracleStash.get(OracleStash.S64Cents).map(c =>
      "s64_ann_index_compact" -> ivfProbeOracleSql(c, survivingCorpusSql)).toMap

  /** s58's oracle from its stashed centroids: IVF candidates (same CTEs
    * as s37, k=8), exact nearest per query (all-pairs, oracle-side
    * only), anti-filter + re-rank — negatives are candidates that are
    * not the exact top-1, in candidate order. */
  private def hardNegOracle: Map[String, String] = OracleStash.get(OracleStash.S58Cents) match {
    case None => Map.empty
    case Some(cents) =>
      Map("s58_hard_negatives" ->
        s"""WITH ${centroidAssignCtes(cents, "embedding")},
           |qprobe AS (SELECT vec_id AS query_id, embedding AS qv, cid FROM (
           |  SELECT vec_id, embedding, cid,
           |   row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid DESC) AS rn
           |  FROM scored WHERE vec_id < 5) WHERE rn <= 4),
           |cand AS (SELECT q.query_id, a.vec_id AS nbr_id,
           |   ${duckCosine("q.qv", "a.embedding")} AS sim
           | FROM qprobe q JOIN assign a ON a.cid = q.cid AND a.vec_id <> q.query_id),
           |ivf AS (SELECT query_id, nbr_id, rank FROM (
           | SELECT query_id, nbr_id,
           |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rank FROM cand)
           | WHERE rank <= 8),
           |pos AS (SELECT query_id, pos_id FROM (
           | SELECT q.vec_id AS query_id, c.vec_id AS pos_id,
           |  row_number() OVER (PARTITION BY q.vec_id
           |    ORDER BY ${duckCosine("q.embedding", "c.embedding")} DESC, c.vec_id) AS rn
           | FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
           | WHERE q.vec_id < 5) WHERE rn = 1)
           |SELECT query_id, neg_id, CAST(neg_rank AS INTEGER) AS neg_rank FROM (
           | SELECT i.query_id, i.nbr_id AS neg_id,
           |  row_number() OVER (PARTITION BY i.query_id ORDER BY i.rank) AS neg_rank
           | FROM ivf i JOIN pos p ON i.query_id = p.query_id AND i.nbr_id <> p.pos_id)
           |WHERE neg_rank <= 5 ORDER BY query_id, neg_rank""".stripMargin)
  }

  private lazy val staticOracles: Map[String, String] = staticOracles1 ++ staticOracles2

  private lazy val staticOracles1: Map[String, String] = Map(
    // Every bit of the Bloom filter recomputed independently: the
    // existing corpus's k=3 double-hashed positions (fmix64 chain in
    // HUGEINT limbs) become the set-bit set; a new doc is maybe_dup
    // iff ALL its positions are set — false positives and all.
    "d50_bloom_dedup" ->
      s"""WITH ${hashMixCtes("ex", "documents WHERE doc_id < 250", Seq())},
         |epos AS (SELECT DISTINCT CAST((u1 + i.i * u2) % 1024 AS BIGINT) AS pos
         |  FROM ex, range(0, 3) i(i)),
         |${hashMixCtes("nw", "documents WHERE doc_id >= 250", Seq("doc_id", "n_chars"))},
         |npos AS (SELECT DISTINCT doc_id, n_chars,
         |   CAST((u1 + i.i * u2) % 1024 AS BIGINT) AS pos
         |  FROM nw, range(0, 3) i(i)),
         |fl AS (SELECT n.doc_id, n.n_chars,
         |   min(CASE WHEN e.pos IS NULL THEN 0 ELSE 1 END) AS maybe_dup
         | FROM npos n LEFT JOIN epos e ON n.pos = e.pos
         | GROUP BY n.doc_id, n.n_chars)
         |SELECT doc_id, CAST(maybe_dup AS INTEGER) AS maybe_dup, n_chars
         |FROM fl ORDER BY doc_id""".stripMargin,
    // The CMS counter matrix rebuilt row-exactly in SQL: every order's
    // key hashes to one position per depth row; the counters are plain
    // GROUP BY counts, and each probe's estimate is the min over its
    // depth positions' counters (a probe key always finds its own
    // contributions, so the join is total over probes).
    "a48_cms_freq" ->
      s"""WITH ${hashMixCtes("ks", "(SELECT o_custkey, 'cust:' || o_custkey AS key FROM orders) kk",
             Seq("o_custkey"), "key")},
         |pos AS (SELECT o_custkey, i.i AS row_i,
         |   CAST((u1 + i.i * u2) % 512 AS BIGINT) AS pos
         |  FROM ks, range(0, 3) i(i)),
         |counters AS (SELECT row_i, pos, count(*) AS c FROM pos GROUP BY row_i, pos),
         |probe AS (SELECT o_custkey, count(*) AS exact_cnt FROM orders
         |  WHERE o_custkey < 40 GROUP BY o_custkey),
         |ppos AS (SELECT DISTINCT o_custkey, row_i, pos FROM pos WHERE o_custkey < 40),
         |est AS (SELECT p.o_custkey, CAST(min(c.c) AS BIGINT) AS est_cnt
         |  FROM ppos p JOIN counters c ON c.row_i = p.row_i AND c.pos = p.pos
         |  GROUP BY p.o_custkey)
         |SELECT probe.o_custkey AS o_custkey, probe.exact_cnt, est.est_cnt
         |FROM probe JOIN est ON probe.o_custkey = est.o_custkey
         |ORDER BY probe.o_custkey""".stripMargin,
    "d30_dedup_exact" ->
      """SELECT min(doc_id) AS keeper, count(*) AS copies,
        | CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents GROUP BY text ORDER BY keeper""".stripMargin,
    // d66: same groups as d30 keyed by (sha256, length) — the digest
    // is independently recomputed, never spliced
    "d66_dedup_digest" ->
      """SELECT sha256(text) AS digest, min(doc_id) AS keeper,
        | count(*) AS copies, CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents GROUP BY sha256(text), length(text) ORDER BY keeper""".stripMargin,
    // Full independent SimHash recompute: per-token FNV-1a64 (HUGEINT
    // fold with wraparound multiply mod 2^64 — DuckDB BIGINT arithmetic
    // traps on overflow), per-bit majority vote, pairwise Hamming ≤ 3.
    // ASCII-corpus caveat as above (ord = code point, kernel uses UTF-8
    // bytes). Exhaustive pair scan is fine oracle-side at sf0.01; the
    // Spark side uses 16-bit pigeonhole banding instead.
    "d32_dedup_simhash" -> {
      val fnv = "list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), " +
        "list_transform(range(1, length(tok)+1), i -> ord(substr(tok, i, 1)))), " +
        "(acc, b) -> (xor(acc, CAST(b AS HUGEINT)) * 1099511628211) % CAST(18446744073709551616 AS HUGEINT))"
      s"""WITH toks AS (SELECT doc_id, $duckTokens AS ts FROM documents),
         |th AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
         |hh AS (SELECT doc_id, $fnv AS h FROM th),
         |bits AS (SELECT doc_id, r.b,
         |   sum(CASE WHEN (h // (CAST(1 AS HUGEINT) << r.b)) % 2 = 1 THEN 1 ELSE -1 END) AS vote
         | FROM hh, range(0, 64) r(b) GROUP BY doc_id, r.b),
         |sig0 AS (SELECT doc_id,
         |   sum(CASE WHEN vote > 0 THEN CAST(1 AS HUGEINT) << b ELSE CAST(0 AS HUGEINT) END) AS sig
         | FROM bits GROUP BY doc_id),
         |sig AS (SELECT d.doc_id, COALESCE(s.sig, CAST(0 AS HUGEINT)) AS sig
         | FROM documents d LEFT JOIN sig0 s ON d.doc_id = s.doc_id)
         |SELECT a.doc_id AS i, b.doc_id AS j,
         | CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3
         |ORDER BY i, j""".stripMargin
    },
    "d33_ngram_jaccard" -> jaccardOracle(0.5),
    // Repeated spans from the literal 8-gram strings (Spark side keys on
    // xxhash64 fingerprints; string equality is the ground truth) + the
    // same running-max gaps-and-islands merge, positions 0-based.
    "d64_repeated_spans" ->
      s"""WITH $repeatedSpanCtes
        |SELECT doc_id, CAST(span_start AS BIGINT) AS span_start,
        |  CAST(span_end AS BIGINT) AS span_end,
        |  CAST(span_end - span_start + 1 AS BIGINT) AS span_tokens
        |FROM spans ORDER BY doc_id, span_start""".stripMargin,
    // d65: the same span chain, then removal positions exploded and
    // anti-joined out; clean_text is the surviving tokens rejoined in
    // position order (token-normalized on BOTH sides).
    "d65_span_redact" ->
      s"""WITH $repeatedSpanCtes,
        |rem AS (SELECT doc_id, unnest(generate_series(span_start, span_end)) AS pos
        |  FROM spans),
        |nrem AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed
        |  FROM rem GROUP BY doc_id),
        |tp AS (SELECT w.doc_id, i - 1 AS pos, tl[i] AS tok
        |  FROM w, unnest(generate_series(1, len(tl))) AS u(i)),
        |kept AS (SELECT tp.doc_id, tp.pos, tp.tok FROM tp
        |  JOIN nrem ON nrem.doc_id = tp.doc_id
        |  WHERE NOT EXISTS (SELECT 1 FROM rem r
        |    WHERE r.doc_id = tp.doc_id AND r.pos = tp.pos)),
        |cleaned AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT n.doc_id, n.n_removed, COALESCE(c.clean_text, '') AS clean_text
        |FROM nrem n LEFT JOIN cleaned c USING (doc_id) ORDER BY n.doc_id""".stripMargin,
    // d31 (minhash) must equal d33 modulo the jaccard column — same oracle
    "d31_dedup_minhash" -> (
      s"""SELECT i, j, round(inter * 1.0 / uni, 6) AS jaccard
         |FROM (${jaccardOracle(0.5).replace("ORDER BY i, j", "")}) ORDER BY i, j""".stripMargin),
    "d34_embed_neardup" -> d34Oracle(),
    "d55_neardup_sampled" -> d34Oracle(sampledEmbSql, EmbTwinThreshold),
    // d56's oracle is state-spliced (band width depends on the sampled
    // corpus count) — see bandedLshOracle.
    "d57_semantic_dedup_sampled" -> d46Oracle(sampledEmbSql, EmbTwinThreshold),
    "d58_clusters_sampled" -> d35Oracle(sampledDocsSql),
    "d63_cluster_reps_sampled" -> d62Oracle(sampledDocsSql),
    // the MinHash twins must equal the exact chains on their corpora
    "d69_reps_minhash_sampled" -> d62Oracle(sampledDocsSql),
    "d70_training_minhash_sampled" -> d48Oracle(sampledDocsSql),
    "d59_corpus_clean_sampled" -> d39Oracle(sampledDocsSql),
    "d60_training_sampled" -> d48Oracle(sampledDocsSql),
    "d61_incremental_sampled" -> d44Oracle(sampledDocsSql),
    // Full independent LSH recompute: the hyperplanes are deterministic
    // (seeded LCG, exact dyadic doubles that round-trip through
    // toString), so the oracle re-derives every 8-bit signature, applies
    // the same Hamming-≤2 probe, and re-ranks by fold-exact cosine.
    "s36_ann_lsh" -> {
      val planes = Similarity.hyperplanes(8, 64)
      def dotPlane(vec: String, p: Array[Double]): String = {
        val lits = p.map(_.toString).mkString("[", ",", "]")
        s"list_reduce(list_prepend(0.0, list_transform(range(1, 65), " +
          s"i -> CAST($vec[i] AS DOUBLE) * ($lits)[i])), (acc, v) -> acc + v)"
      }
      val sigExpr = planes.zipWithIndex.map { case (p, i) =>
        s"(CASE WHEN ${dotPlane("embedding", p)} >= 0.0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH s AS (SELECT vec_id, embedding, $sigExpr AS sig FROM embeddings)
         |SELECT query_id, nbr_id, CAST(rank AS INTEGER) AS rank FROM (
         | SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
         |  row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${duckCosine("c.embedding", "q.embedding")} DESC, c.vec_id) AS rank
         | FROM s c JOIN s q ON bit_count(xor(c.sig, q.sig)) <= 2 AND c.vec_id <> q.vec_id
         | WHERE q.vec_id < 5)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    },
    "s35_ann_brute" ->
      s"""SELECT query_id, nbr_id, CAST(rank AS INTEGER) AS rank FROM (
         | SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
         |  row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${duckCosine("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
         | FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
         | WHERE q.vec_id < 5)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // leave-one-out 1-NN label agreement, exact ground truth: the s35
    // brute ranking at k=1 over EVERY vector, folded per label
    "s79_knn_label_eval" ->
      s"""WITH ranked AS (SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
         |  row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${duckCosine("q.embedding", "c.embedding")} DESC, c.vec_id) AS rk
         | FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id),
         |$knnLabelAggSql""".stripMargin,
    "s56_retrieval_join" ->
      s"""WITH hits AS (
         | SELECT query_id, nbr_id, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${duckCosine("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
         |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 5)
         | WHERE rank <= 10)
         |SELECT h.query_id, h.rank, h.nbr_id, d.lang, d.source,
         | CAST(d.n_chars AS BIGINT) AS n_chars
         |FROM hits h JOIN documents d ON d.doc_id = h.nbr_id
         |ORDER BY query_id, rank""".stripMargin,
    "d54_corpus_summary" ->
      s"""SELECT count(*) AS n_docs,
         | count(DISTINCT lang) AS n_langs,
         | count(DISTINCT source) AS n_sources,
         | CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         | CAST(SUM(len($duckTokens)) AS BIGINT) AS n_tokens,
         | count(*) - count(DISTINCT text) AS dup_docs,
         | count(*) FILTER (WHERE length(trim(text)) = 0) AS n_empty
         |FROM documents""".stripMargin,
    "t40_text_stats" ->
      s"""WITH b AS (SELECT doc_id, text, $duckTokens AS toks FROM documents),
         |c AS (SELECT doc_id, text, toks,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
         |    / greatest(length(text), 1) AS punct_ratio,
         |  CAST(length(array_to_string(toks, '')) AS DOUBLE) / greatest(len(toks), 1) AS awl,
         |  ${TextAnalysis.stopwords.toSeq.sortBy(_._1).map { case (l, ws) =>
              s"CAST(len(list_filter(toks, w -> list_contains([${ws.map(w => s"'$w'").mkString(",")}], lower(w)))) AS DOUBLE) AS hits_$l"
            }.mkString(", ")}
         | FROM b),
         |d AS (SELECT *,
         |  least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
         |  least(hits_en / greatest(n_tokens, 1) * 5.0, 1.0) AS stop_score,
         |  least(punct_ratio * 4.0, 1.0) AS punct_pen FROM c)
         |SELECT doc_id, n_tokens,
         | CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) + 0 AS BIGINT) AS n_bpeish,
         | round(awl, 6) AS avg_word_len,
         | round(punct_ratio, 6) AS punct_ratio,
         | round(hits_en / greatest(n_tokens, 1), 6) AS stopword_ratio,
         | round(len_score * 0.4 + stop_score * 0.4 + (1.0 - punct_pen) * 0.2, 6) AS quality,
         | CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) = 0 THEN 'und'
         |  WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) THEN 'de'
         |  WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) THEN 'en'
         |  WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) THEN 'es'
         |  WHEN hits_fr = greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) THEN 'fr'
         |  ELSE 'zh' END AS lang_pred
         |FROM d ORDER BY doc_id""".stripMargin,
    "t41_quality_by_lang" ->
      s"""WITH b AS (SELECT doc_id, lang, text, $duckTokens AS toks FROM documents),
         |c AS (SELECT lang,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
         |    / greatest(length(text), 1) AS punct_ratio,
         |  CAST(len(list_filter(toks, w -> list_contains([${TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(",")}], lower(w)))) AS DOUBLE) AS hits_en,
         |  length(text) AS n_chars FROM b),
         |d AS (SELECT lang, n_tokens,
         |  least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4
         |   + least(hits_en / greatest(n_tokens, 1) * 5.0, 1.0) * 0.4
         |   + (1.0 - least(punct_ratio * 4.0, 1.0)) * 0.2 AS quality FROM c)
         |SELECT lang, count(*) AS docs, CAST(sum(n_tokens) AS BIGINT) AS tokens,
         | CAST(sum(CAST(round(quality, 6) AS DECIMAL(18,6))) AS DOUBLE) AS quality_sum
         |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    "d41_hash_sample" -> {
      val inner = graft.oracle.DuckSql.withSlotNode(
        "SELECT doc_id, lang, n_chars, 'doc:' || doc_id AS key FROM documents",
        Seq("doc_id", "lang", "n_chars"), Some("slot"), None)
      s"""SELECT doc_id, lang, n_chars FROM ($inner)
         |WHERE slot < ${(0.10 * 16384).toInt} ORDER BY doc_id""".stripMargin
    },
    "d42_stratified_sample" -> {
      val inner = graft.oracle.DuckSql.withSlotNode(
        "SELECT doc_id, lang, n_chars, 'doc:' || doc_id AS key FROM documents",
        Seq("doc_id", "lang", "n_chars"), Some("slot"), None)
      s"""SELECT doc_id, lang, n_chars FROM ($inner)
         |WHERE slot < (CASE WHEN lang = 'zh' THEN ${(0.10 * 16384).toInt}
         |  WHEN lang = 'en' THEN ${(0.20 * 16384).toInt}
         |  ELSE ${(0.05 * 16384).toInt} END)
         |ORDER BY doc_id""".stripMargin
    },
    // The whole pipeline re-derived stage by stage from the proven
    // oracle templates: d39's quality/dedup/closure CTEs, d43's
    // benchmark shingle intersect, d45's sqrt thresholds over the
    // DECONTAMINATED counts, the d41 slot fold, t46's chunk expansion.
    "d48_training_corpus" -> d48Oracle(),
    // d68 must reproduce the exact-pair capstone bit-for-bit (the
    // MinHash candidates are a production shortcut, not a semantics
    // change) — deliberately the same oracle as d48
    "d68_training_minhash" -> d48Oracle(),
  )

  /** d48's oracle over any corpus source (the benchmark side — docs
    * 0-4 — always comes from the FULL documents table, matching the
    * Spark twin which decontaminates against the unsampled benchmark). */
  /** The d48 seven-stage chain as a reusable CTE list ending at
    * `chx(doc_id, tk, ci)` — [[d48Oracle]] selects the chunk rows from
    * it; the s72 oracle composes the SAME chain with the index-serving
    * splice (curate → index → serve, one derivation, no drift). */
  /** The d48 curation-chain CTEs. `prOverride` swaps the near-dup pair
    * stage: None → the exact inverted-index pairs (d48/d68's shared
    * ground-truth oracle); Some(minhashPairCtes("surviving")) → the
    * self-contained banding recompute (d80's gate, which therefore
    * does NOT lean on the corpus recall equivalence). */
  private def d48ChainCtes(corpusSrc: String,
                           prOverride: Option[String] = None): String = {
      val prCtes = prOverride.getOrElse(
        s"pr AS (SELECT i, j FROM (${jaccardOracle(0.5, "surviving").replace("ORDER BY i, j", "")}))")
      val slotInner = graft.oracle.DuckSql.withSlotNode(
        "SELECT doc_id, lang, toks, 'doc:' || doc_id AS key FROM decon",
        Seq("doc_id", "lang", "toks"), Some("slot"), None)
      val stops = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(",")
      s"""b AS (SELECT doc_id, lang, text, $duckTokens AS toks
         |  FROM $corpusSrc WHERE doc_id >= 5),
         |c AS (SELECT doc_id, lang, text, toks,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
         |    / greatest(length(text), 1) AS punct_ratio,
         |  CAST(len(list_filter(toks, w -> list_contains([$stops], lower(w)))) AS DOUBLE) AS hits_en
         | FROM b),
         |q AS (SELECT doc_id, lang, text, toks, n_tokens,
         |  round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
         |   + least(hits_en / greatest(n_tokens, 1) * 5.0, 1.0) * 0.4
         |   + (1.0 - least(punct_ratio * 4.0, 1.0)) * 0.2, 6) AS quality FROM c),
         |filtered AS (SELECT * FROM q WHERE quality >= 0.5),
         |keepers AS (SELECT min(doc_id) AS doc_id FROM filtered GROUP BY text),
         |surviving AS (SELECT f.* FROM filtered f JOIN keepers k ON f.doc_id = k.doc_id),
         |$prCtes,
         |$componentsCtes,
         |clean AS (SELECT * FROM surviving
         |  WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> component)),
         |bsh AS (SELECT doc_id, ${duckShingles("words", 4)} AS s FROM
         |   (SELECT doc_id, $duckTokens AS words FROM documents WHERE doc_id < 5)
         |  WHERE len(words) >= 4),
         |bl AS (SELECT list(DISTINCT x) AS bl FROM (SELECT unnest(s) AS x FROM bsh)),
         |csh AS (SELECT doc_id, ${duckShingles("toks", 4)} AS s FROM clean
         |  WHERE len(toks) >= 4),
         |cont AS (SELECT csh.doc_id FROM csh, bl WHERE len(list_intersect(csh.s, bl.bl)) > 0),
         |decon AS (SELECT doc_id, lang, toks FROM clean
         |  WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
         |cnt AS (SELECT lang, count(*) AS n FROM decon GROUP BY lang),
         |th AS (SELECT lang, CAST(GREATEST(1, floor(sqrt(
         |    CAST((SELECT min(n) FROM cnt) AS DOUBLE) / CAST(n AS DOUBLE)) * 16384))
         |  AS INTEGER) AS thr FROM cnt),
         |kept AS (SELECT s.doc_id, s.toks FROM ($slotInner) s
         |  JOIN th USING (lang) WHERE s.slot < th.thr),
         |ch AS (SELECT doc_id, toks AS tk,
         |  CASE WHEN len(toks) <= 100 THEN 1
         |       ELSE (len(toks) - 100 + 79) // 80 + 1 END AS nch FROM kept),
         |chx AS (SELECT doc_id, tk, unnest(range(0, nch)) AS ci FROM ch)""".stripMargin
  }

  private def d48Oracle(corpusSrc: String = "documents"): String =
    s"""WITH RECURSIVE ${d48ChainCtes(corpusSrc)}
       |SELECT doc_id, ci AS chunk_idx,
       | CAST(len(tk[ci*80+1 : ci*80+100]) AS BIGINT) AS n_tokens,
       | array_to_string(tk[ci*80+1 : ci*80+100], ' ') AS chunk_text
       |FROM chx ORDER BY doc_id, chunk_idx""".stripMargin

  /** Slot-sampled oracle sources for the sf0.1 twins: the same CRC16
    * slot fold the Spark side's Sampling.hashSample applies, recomputed
    * in SQL (d41's oracle pattern), as nestable derived tables. */
  private lazy val sampledDocsSql: String = {
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val inner = graft.oracle.DuckSql.withSlotNode(
      s"SELECT ${cols.mkString(", ")}, 'doc:' || doc_id AS key FROM documents",
      cols, Some("slot"), None)
    s"(SELECT ${cols.mkString(", ")} FROM ($inner) WHERE slot < ${(DocTwinRate * 16384).toInt})"
  }
  private lazy val sampledEmbSql: String = {
    val cols = Seq("vec_id", "embedding", "label")
    val inner = graft.oracle.DuckSql.withSlotNode(
      s"SELECT ${cols.mkString(", ")}, 'vec:' || vec_id AS key FROM embeddings",
      cols, Some("slot"), None)
    s"(SELECT ${cols.mkString(", ")} FROM ($inner) WHERE slot < ${(EmbTwinRate * 16384).toInt})"
  }

  /** d34's all-pairs cosine oracle over any embeddings source. */
  private def d34Oracle(src: String = "embeddings", threshold: Double = 0.5): String =
    s"""SELECT a.vec_id AS i, b.vec_id AS j
       |FROM $src a JOIN $src b ON a.vec_id < b.vec_id
       |WHERE ${duckCosine("a.embedding", "b.embedding")} >= $threshold
       |ORDER BY i, j""".stripMargin

  /** d36/d73's full banded-LSH recompute over any embeddings source:
    * all tables·bits seeded hyperplanes re-derived as literals — exact
    * dyadic doubles, same as s36 — candidates = agreement on ANY
    * table's full signature, then the exact cosine threshold.
    * `bits`/`tables` must be what the Spark query chose (corpus-sized
    * lshBitsFor; fixed L=8 for d36, recall-held tablesForRecall for
    * d73). */
  /** The banded-candidate CTE pair shared by d36/d73/d74's oracles:
    * `s` (per-row table signatures from the seeded hyperplane
    * literals) and `bp(i, j, sim)` (any-table-match candidates that
    * pass the exact cosine threshold). */
  private def bandedCandCtes(src: String, threshold: Double,
                             bits: Int, tables: Int): String = {
    val planes = Similarity.hyperplanes(tables * bits, 64)
    def dotPlane(vec: String, p: Array[Double]): String = {
      val lits = p.map(_.toString).mkString("[", ",", "]")
      s"list_reduce(list_prepend(0.0, list_transform(range(1, 65), " +
        s"i -> CAST($vec[i] AS DOUBLE) * ($lits)[i])), (acc, v) -> acc + v)"
    }
    def sigExpr(tbl: Int): String = (0 until bits).map { k =>
      s"(CASE WHEN ${dotPlane("embedding", planes(tbl * bits + k))} >= 0.0 THEN ${1L << k} ELSE 0 END)"
    }.mkString(" + ")
    val sigCols = (0 until tables).map(tbl => s"${sigExpr(tbl)} AS sig$tbl").mkString(", ")
    val anyTable = (0 until tables).map(tbl => s"a.sig$tbl = b.sig$tbl").mkString(" OR ")
    s"""s AS (SELECT vec_id, embedding, $sigCols FROM $src),
       |bp AS (SELECT a.vec_id AS i, b.vec_id AS j,
       |  ${duckCosine("a.embedding", "b.embedding")} AS sim
       | FROM s a JOIN s b ON a.vec_id < b.vec_id AND ($anyTable)
       | WHERE ${duckCosine("a.embedding", "b.embedding")} >= $threshold)""".stripMargin
  }

  private def d36Oracle(src: String = "embeddings", threshold: Double = 0.5,
                        bits: Int = 4, tables: Int = 8): String =
    s"""WITH ${bandedCandCtes(src, threshold, bits, tables)}
       |SELECT i, j, round(sim, 6) AS sim FROM bp
       |ORDER BY i, j""".stripMargin

  /** d74's oracle: d46's recursive-closure survivors over the SAME
    * banded candidates the production twin generated (spliced
    * (L, b)), instead of the exact all-pairs set. */
  private def d74Oracle(cfg: Similarity.LshConfig,
                        src: String = "embeddings",
                        threshold: Double = 0.5): String =
    s"""WITH RECURSIVE ${bandedCandCtes(src, threshold, cfg.bits, cfg.tables)},
       |pr AS (SELECT i, j FROM bp),
       |$componentsCtes,
       |sz AS (SELECT component, count(*) AS n FROM comp GROUP BY component)
       |SELECT e.vec_id, CAST(COALESCE(sz.n, 1) AS BIGINT) AS cluster_size
       |FROM $src e
       |LEFT JOIN comp c ON e.vec_id = c.doc_id
       |LEFT JOIN sz ON c.component = sz.component
       |WHERE c.doc_id IS NULL OR c.doc_id = c.component
       |ORDER BY e.vec_id""".stripMargin

  /** d46's transitive-closure semantic-dedup oracle over any embeddings
    * source; survivors are non-members plus component representatives. */
  private def d46Oracle(src: String = "embeddings", threshold: Double = 0.5): String =
    s"""WITH RECURSIVE pr AS (
       |  SELECT a.vec_id AS i, b.vec_id AS j
       |  FROM $src a JOIN $src b ON a.vec_id < b.vec_id
       |  WHERE ${duckCosine("a.embedding", "b.embedding")} >= $threshold),
       |$componentsCtes,
       |sz AS (SELECT component, count(*) AS n FROM comp GROUP BY component)
       |SELECT e.vec_id, CAST(COALESCE(sz.n, 1) AS BIGINT) AS cluster_size
       |FROM $src e
       |LEFT JOIN comp c ON e.vec_id = c.doc_id
       |LEFT JOIN sz ON c.component = sz.component
       |WHERE c.doc_id IS NULL OR c.doc_id = c.component
       |ORDER BY e.vec_id""".stripMargin

  /** d35's recursive-closure clustering oracle over any documents source. */
  /** d62's oracle: d35's recursive-closure clusters + the shared
    * quality chain; keep-best = row_number over (quality DESC, doc_id)
    * per cluster — the same ordering the Spark side's struct-argmax
    * encodes. */
  private def d62Oracle(src: String = "documents"): String =
    s"""WITH RECURSIVE pr AS (SELECT i, j FROM (${jaccardOracle(0.5, src).replace("ORDER BY i, j", "")})),
       |$componentsCtes,
       |${qualityCtes(src)},
       |full0 AS (SELECT q.doc_id, COALESCE(comp.component, q.doc_id) AS cluster, q.quality
       |  FROM q LEFT JOIN comp ON q.doc_id = comp.doc_id),
       |r AS (SELECT cluster, doc_id, quality,
       |  row_number() OVER (PARTITION BY cluster ORDER BY quality DESC, doc_id) AS rk,
       |  count(*) OVER (PARTITION BY cluster) AS n FROM full0)
       |SELECT cluster, doc_id AS rep_id, CAST(n AS BIGINT) AS n_members, quality
       |FROM r WHERE rk = 1 ORDER BY cluster""".stripMargin

  private def d35Oracle(src: String = "documents"): String =
    s"""WITH RECURSIVE pr AS (SELECT i, j FROM (${jaccardOracle(0.5, src).replace("ORDER BY i, j", "")})),
       |$componentsCtes
       |SELECT doc_id, component FROM comp ORDER BY doc_id""".stripMargin

  /** d39's corpus-cleaning oracle over any documents source. */
  private def d39Oracle(src: String = "documents"): String =
    s"""WITH RECURSIVE b AS (SELECT doc_id, text, $duckTokens AS toks FROM $src),
       |c AS (SELECT doc_id, text,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
       |    / greatest(length(text), 1) AS punct_ratio,
       |  CAST(len(list_filter(toks, w -> list_contains([${TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(",")}], lower(w)))) AS DOUBLE) AS hits_en
       | FROM b),
       |q AS (SELECT doc_id, text, n_tokens,
       |  round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
       |   + least(hits_en / greatest(n_tokens, 1) * 5.0, 1.0) * 0.4
       |   + (1.0 - least(punct_ratio * 4.0, 1.0)) * 0.2, 6) AS quality FROM c),
       |filtered AS (SELECT * FROM q WHERE quality >= 0.5),
       |keepers AS (SELECT min(doc_id) AS doc_id FROM filtered GROUP BY text),
       |surviving AS (SELECT f.doc_id, f.text, f.n_tokens, f.quality
       |  FROM filtered f JOIN keepers k ON f.doc_id = k.doc_id),
       |pr AS (SELECT i, j FROM (${jaccardOracle(0.5, "surviving").replace("ORDER BY i, j", "")})),
       |$componentsCtes
       |SELECT s.doc_id, s.n_tokens, s.quality FROM surviving s
       |WHERE s.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> component)
       |ORDER BY s.doc_id""".stripMargin

  /** d44's exhaustive incremental-dedup oracle over any documents source
    * (the new/old split at doc_id 250 stays in-template). Also gates
    * s87 (the streaming ingest twin): a doc's admission depends only on
    * (doc, corpus snapshot), so the micro-batched union must land on
    * exactly this batch recompute. */
  private[queries] def d44Oracle(src: String = "documents"): String =
    s"""WITH w AS (SELECT doc_id, n_chars, text, $duckTokens AS words FROM $src),
       |sh AS (SELECT doc_id, n_chars, text, ${duckShingles("words")} AS s FROM w),
       |nw AS (SELECT * FROM sh WHERE doc_id >= 250),
       |old AS (SELECT * FROM sh WHERE doc_id < 250),
       |exact_kill AS (SELECT DISTINCT n.doc_id FROM nw n JOIN old o ON n.text = o.text),
       |near_kill AS (SELECT DISTINCT n.doc_id FROM nw n JOIN old o
       |  ON len(list_intersect(n.s, o.s)) * 1.0 /
       |     (len(n.s) + len(o.s) - len(list_intersect(n.s, o.s))) >= 0.5)
       |SELECT doc_id, n_chars FROM nw
       |WHERE doc_id NOT IN (SELECT doc_id FROM exact_kill)
       |  AND doc_id NOT IN (SELECT doc_id FROM near_kill)
       |ORDER BY doc_id""".stripMargin

  private lazy val staticOracles2: Map[String, String] = Map(
    // Full per-window Karp-Rabin recompute (same Base/Mod chain as the
    // t42 oracle — BIGINT-safe: acc < 2^31 so acc*257+255 < 2^40),
    // mod-8 sampling, exhaustive pair intersect. ASCII-corpus caveat
    // (ord = code point; the kernel hashes UTF-8 bytes).
    "d47_winnow_pairs" ->
      """WITH f AS (SELECT doc_id, list_distinct(list_filter(
        |   list_transform(range(1, greatest(length(text)-15,1)+1),
        |    i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(range(i, least(i+16, length(text)+1)),
        |          j -> CAST(ord(substr(text, j, 1)) AS BIGINT))),
        |         (acc, b) -> (acc*257+b) % 2147483647)),
        |   h -> h % 8 = 0)) AS fps FROM documents),
        |p AS (SELECT a.doc_id AS i, b.doc_id AS j,
        |   len(list_intersect(a.fps, b.fps)) AS shared
        | FROM f a JOIN f b ON a.doc_id < b.doc_id)
        |SELECT i, j, CAST(shared AS BIGINT) AS shared
        |FROM p WHERE shared >= 4 ORDER BY i, j""".stripMargin,
    // Transitive closure over fold-exact cosine pairs; survivors are
    // non-members plus component representatives, sized by component.
    "d46_semantic_dedup" -> d46Oracle(),
    // exact NOT-EXISTS cross of corpus × benchmark — recall-1 ground
    // truth AND the production shape (the benchmark side is small)
    "d72_embed_decontam" ->
      s"""WITH b AS (SELECT embedding AS bv FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id >= 20)
         |SELECT c.vec_id, c.label FROM c
         |WHERE NOT EXISTS (SELECT 1 FROM b
         |  WHERE ${duckCosine("c.embedding", "b.bv")} >= 0.35)
         |ORDER BY c.vec_id""".stripMargin,
    // Same slot-hash selection as d41; thresholds recomputed from the
    // language counts with the identical IEEE arithmetic (sqrt + one
    // double division + power-of-two scale — no libm pow anywhere).
    "d45_temperature_sample" -> {
      val inner = graft.oracle.DuckSql.withSlotNode(
        "SELECT doc_id, lang, n_chars, 'doc:' || doc_id AS key FROM documents",
        Seq("doc_id", "lang", "n_chars"), Some("slot"), None)
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |th AS (SELECT lang, CAST(GREATEST(1, floor(sqrt(
         |    CAST((SELECT min(n) FROM c) AS DOUBLE) / CAST(n AS DOUBLE)) * 16384))
         |  AS INTEGER) AS thr FROM c)
         |SELECT doc_id, lang, n_chars FROM ($inner) s JOIN th USING (lang)
         |WHERE slot < thr ORDER BY doc_id""".stripMargin
    },
    // Same slot ranks recomputed in SQL; row_number tie order (slot,
    // doc_id) is total, so the kept set is unique.
    "d49_source_cap" -> {
      val inner = graft.oracle.DuckSql.withSlotNode(
        "SELECT doc_id, source, n_chars, 'doc:' || doc_id AS key FROM documents",
        Seq("doc_id", "source", "n_chars"), Some("slot"), None)
      s"""SELECT doc_id, source, n_chars FROM (
         |  SELECT doc_id, source, n_chars,
         |   row_number() OVER (PARTITION BY source ORDER BY slot, doc_id) AS rk
         |  FROM ($inner))
         |WHERE rk <= 12 ORDER BY doc_id""".stripMargin
    },
    // Identical pattern strings (Java and RE2 agree on this regex
    // subset), counts on the original text, sequential replacement.
    "t48_pii_scrub" -> {
      val fixtureValues = TextAnalysis.piiFixtures
        .map { case (id, s) => s"($id, '${s.replace("'", "''")}')" }.mkString(", ")
      val counts = TextAnalysis.piiPatterns.map { case (name, pat, _) =>
        s"CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_$name"
      }.mkString(", ")
      val clean = TextAnalysis.piiPatterns.foldLeft("text") {
        case (c, (_, pat, repl)) => s"regexp_replace($c, '$pat', '$repl', 'g')"
      }
      s"""WITH pii AS (SELECT * FROM (VALUES $fixtureValues) v(doc_id, text)),
         |u AS (SELECT doc_id, text FROM documents
         |      UNION ALL SELECT CAST(doc_id AS BIGINT), text FROM pii)
         |SELECT doc_id, $counts, $clean AS text_clean
         |FROM u ORDER BY doc_id""".stripMargin
    },
    "d35_dedup_clusters" -> d35Oracle(),
    "d62_cluster_reps" -> d62Oracle(),
    // d67 must reproduce the EXACT-pair keep-best bit-for-bit: the
    // MinHash candidates are only a production shortcut, so the oracle
    // is deliberately the same exact-Jaccard chain as d62's
    "d67_cluster_reps_minhash" -> d62Oracle(),
    "d39_corpus_clean" -> d39Oracle(),
    // ASCII-corpus assumption (same caveat as DuckSql's CRC16 oracle):
    // this fold hashes ord() CODE POINTS while the Scala kernel hashes
    // UTF-8 BYTES — they agree only while `documents.text` is pure
    // ASCII (the driver corpus is). Non-ASCII parity is covered by the
    // byte-level golden-vector tests in TextHashSpec instead.
    "t42_fingerprints" ->
      """SELECT doc_id, CAST(list_min(list_transform(range(1, greatest(length(text)-7, 1)+1),
        | i -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(i, least(i+8, length(text)+1)),
        |   j -> CAST(ord(substr(text, j, 1)) AS BIGINT))), (acc, b) -> (acc * 257 + b) % 2147483647))) AS BIGINT) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Full independent banded-LSH recompute: all 32 seeded hyperplanes
    // (8 tables × 4 sign-bits) re-derived as literals — exact dyadic
    // doubles, same as s36 — candidates = agreement on ANY table's full
    // signature, then the exact cosine threshold.
    // d36's oracle is state-spliced (band width depends on the corpus
    // count) — see bandedLshOracle.
    // Repetition signals recomputed with unnest+GROUP BY mode counts
    // (a structurally different computation from the Spark side's
    // per-row array fold — a stronger oracle than a literal transcription).
    "t51_lm_perplexity" ->
      s"""WITH $lmUnigramCtes,
         |bge AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
         | FROM toks, unnest(range(1, len(tk))) r(i) WHERE len(tk) >= 2),
         |bc AS (SELECT w1, w2, count(*) AS cb FROM bge GROUP BY w1, w2),
         |pc AS (SELECT w1, CAST(sum(cb) AS DOUBLE) AS cp FROM bc GROUP BY w1),
         |hb AS (SELECT doc_id,
         |   sum(CAST(round(log2(CAST(cb AS DOUBLE) / cp), 9) AS DECIMAL(28,9))) AS s2,
         |   count(*) AS m
         | FROM bge JOIN bc USING (w1, w2) JOIN pc USING (w1) GROUP BY doc_id)
         |SELECT hu.doc_id, CAST(hu.n AS BIGINT) AS n_tokens,
         | round(-CAST(hu.s AS DOUBLE) / hu.n, 6) AS h_unigram,
         | round(-CAST(hb.s2 AS DOUBLE) / hb.m, 6) AS h_bigram
         |FROM hu LEFT JOIN hb USING (doc_id) ORDER BY hu.doc_id""".stripMargin,
    // t51's unigram chain + the CCNet split: ntile(3) per language
    // under the (h_unigram, doc_id) total order — ANSI ntile semantics
    // agree between engines, and h_unigram is the same rounded double
    // t51 hash-matches, so the bucketing is exact.
    "t52_ccnet_buckets" ->
      s"""WITH $lmUnigramCtes,
         |pl AS (SELECT doc_id, round(-CAST(s AS DOUBLE) / n, 6) AS h_unigram FROM hu),
         |j AS (SELECT d.doc_id, d.lang, p.h_unigram
         | FROM documents d JOIN pl p USING (doc_id)),
         |b AS (SELECT doc_id, lang, h_unigram,
         |  ntile(3) OVER (PARTITION BY lang ORDER BY h_unigram, doc_id) AS bk FROM j)
         |SELECT doc_id, lang, h_unigram,
         | CASE bk WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
         |FROM b ORDER BY doc_id""".stripMargin,
    // t53: the same unigram chain, then the SAMPLED cutoffs — the CRC
    // slot sample (d41 machinery), each language's ⌈ns/3⌉ / ⌈2ns/3⌉
    // ranked sample TUPLE as the cutoff (discrete — no quantile
    // interpolation to drift in the last ulp), tuple-compare
    // assignment. h_unigram is the identical rounded double t51/t52
    // hash-match, so every comparison is exact on both engines.
    "t53_ccnet_buckets_sampled" -> {
      val slotInner = graft.oracle.DuckSql.withSlotNode(
        "SELECT doc_id, lang, h_unigram, 'ccn:' || doc_id AS key FROM j",
        Seq("doc_id", "lang", "h_unigram"), Some("slot"), None)
      s"""WITH $lmUnigramCtes,
         |pl AS (SELECT doc_id, round(-CAST(s AS DOUBLE) / n, 6) AS h_unigram FROM hu),
         |j AS (SELECT d.doc_id, d.lang, p.h_unigram
         | FROM documents d JOIN pl p USING (doc_id)),
         |r AS (SELECT doc_id, lang, h_unigram,
         |  row_number() OVER (PARTITION BY lang ORDER BY h_unigram, doc_id) AS rn,
         |  count(*) OVER (PARTITION BY lang) AS ns
         | FROM ($slotInner) WHERE slot < ${(0.25 * 16384).toInt}),
         |cuts AS (SELECT lang,
         |  max(CASE WHEN rn = (ns+2)//3 THEN h_unigram END) AS c1h,
         |  max(CASE WHEN rn = (ns+2)//3 THEN doc_id END) AS c1i,
         |  max(CASE WHEN rn = (2*ns+2)//3 THEN h_unigram END) AS c2h,
         |  max(CASE WHEN rn = (2*ns+2)//3 THEN doc_id END) AS c2i
         | FROM r GROUP BY lang)
         |SELECT j.doc_id, j.lang, j.h_unigram,
         | CASE WHEN c.c1h IS NULL THEN 'head'
         |      WHEN j.h_unigram < c.c1h OR (j.h_unigram = c.c1h AND j.doc_id <= c.c1i) THEN 'head'
         |      WHEN j.h_unigram < c.c2h OR (j.h_unigram = c.c2h AND j.doc_id <= c.c2i) THEN 'middle'
         |      ELSE 'tail' END AS ppl_bucket
         |FROM j LEFT JOIN cuts c ON j.lang IS NOT DISTINCT FROM c.lang
         |ORDER BY doc_id""".stripMargin
    },
    // t54: the whole packing decision re-derived — CRC slot fold →
    // shard, window cumsum of the SAME token counts → sequence id
    // (integer // ≡ floor on the nonnegative running totals, BIGINT as
    // the Spark side), per-sequence manifest
    "t54_sequence_packing" -> {
      val inner = graft.oracle.DuckSql.withSlotNode(
        s"SELECT doc_id, CAST(len($duckTokens) AS BIGINT) AS n_tokens, " +
          "'doc:' || doc_id AS key FROM documents",
        Seq("doc_id", "n_tokens"), Some("slot"), None)
      s"""WITH s AS (SELECT doc_id, n_tokens, slot % 8 AS shard FROM ($inner)),
         |c AS (SELECT shard, doc_id, n_tokens,
         |  COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev FROM s),
         |b AS (SELECT shard, n_tokens, CAST(prev // 512 AS BIGINT) AS seq FROM c)
         |SELECT CAST(shard AS INTEGER) AS shard, seq,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |FROM b GROUP BY shard, seq ORDER BY shard, seq""".stripMargin
    },
    "t43_repetition" ->
      s"""WITH b AS (SELECT doc_id, $duckTokens AS toks FROM documents),
         |big AS (SELECT doc_id,
         |  list_transform(range(1, greatest(len(toks)-2,0)+2),
         |    i -> array_to_string(toks[i:i+1], ' ')) AS bg FROM b),
         |tw AS (SELECT doc_id, max(c) AS mw FROM (
         |  SELECT doc_id, w, count(*) AS c
         |  FROM (SELECT doc_id, unnest(toks) AS w FROM b) GROUP BY doc_id, w)
         | GROUP BY doc_id),
         |tb AS (SELECT doc_id, max(c) AS mb FROM (
         |  SELECT doc_id, g, count(*) AS c
         |  FROM (SELECT doc_id, unnest(bg) AS g FROM big) GROUP BY doc_id, g)
         | GROUP BY doc_id)
         |SELECT b.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         | round(CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1), 6) AS uniq_ratio,
         | round(CAST(COALESCE(mw, 0) AS DOUBLE) / greatest(len(toks), 1), 6) AS top_word_frac,
         | round(CAST(COALESCE(mb, 0) AS DOUBLE) / greatest(len(bg), 1), 6) AS top_bigram_frac
         |FROM b JOIN big USING (doc_id)
         | LEFT JOIN tw USING (doc_id) LEFT JOIN tb USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // the len(words) >= 4 guard mirrors contaminatedDocs' eligibility
    // filter: sub-n-token docs have no true n-grams, only the truncating
    // shingle construction's degenerate whole-text shingle
    "d43_contamination" ->
      s"""WITH w AS (SELECT doc_id, $duckTokens AS words FROM documents),
         |sh AS (SELECT doc_id, ${duckShingles("words", 4)} AS s FROM w
         |  WHERE len(words) >= 4),
         |bs AS (SELECT list(DISTINCT x) AS bl FROM
         |  (SELECT unnest(s) AS x FROM sh WHERE doc_id < 5))
         |SELECT doc_id, CAST(len(list_intersect(s, bl)) AS BIGINT) AS n_shared
         |FROM sh, bs WHERE doc_id >= 5 AND len(list_intersect(s, bl)) > 0
         |ORDER BY doc_id""".stripMargin,
    // Greedy packing recomputed as a recursive CTE: row_number per lang,
    // then the accumulate-or-reset recurrence row by row — sequential in
    // SQL exactly because the semantics are sequential.
    "p13_token_packing" ->
      s"""WITH RECURSIVE b AS (SELECT doc_id, lang,
         |  CAST(len($duckTokens) AS BIGINT) AS n_tokens,
         |  row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
         | FROM documents),
         |rec(lang, rn, doc_id, n_tokens, acc, pack) AS (
         |  SELECT lang, rn, doc_id, n_tokens, n_tokens, CAST(0 AS BIGINT)
         |  FROM b WHERE rn = 1
         |  UNION ALL
         |  SELECT b.lang, b.rn, b.doc_id, b.n_tokens,
         |   CASE WHEN rec.acc + b.n_tokens > 2000 THEN b.n_tokens
         |        ELSE rec.acc + b.n_tokens END,
         |   CASE WHEN rec.acc + b.n_tokens > 2000 THEN rec.pack + 1
         |        ELSE rec.pack END
         |  FROM b JOIN rec ON b.lang = rec.lang AND b.rn = rec.rn + 1)
         |SELECT doc_id, lang, n_tokens, pack AS pack_id
         |FROM rec ORDER BY doc_id""".stripMargin,
    // Full KMV recompute: FNV-1a64 as a HUGEINT byte fold (same pattern
    // as the d32 SimHash oracle; ASCII keys so ord == byte), then the
    // fmix64 finalizer — xor-shifts plus multiplies mod 2^64 done in
    // 32-bit limbs because a full 64×64 product overflows signed
    // int128 HUGEINT — then the k-th smallest distinct hash (HUGEINT
    // order == unsigned order), same estimator and exact-below-k
    // fallback. 2^64 and (k-1)·2^64 are exactly representable doubles,
    // so the arithmetic matches bit-for-bit.
    "a40_kmv_distinct" -> {
      val fnv = "list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), " +
        "list_transform(range(1, length(key)+1), i -> ord(substr(key, i, 1)))), " +
        "(acc, b) -> (xor(acc, CAST(b AS HUGEINT)) * 1099511628211) % CAST(18446744073709551616 AS HUGEINT))"
      // (x * c) mod 2^64 via 32-bit limbs: x·c = x1c1·2^64 + (x1c0+x0c1)·2^32
      // + x0c0 → drop the 2^64 term, wrap the middle term at 2^32
      def mulmod64(x: String, c: Long): String = {
        val c1 = (c >>> 32) & 0xffffffffL
        val c0 = c & 0xffffffffL
        s"((($x % 4294967296) * $c0 + (((($x // 4294967296) * $c0 + ($x % 4294967296) * $c1)" +
          s" % 4294967296) * 4294967296)) % CAST(18446744073709551616 AS HUGEINT))"
      }
      s"""WITH keys AS (SELECT DISTINCT 'cust:' || o_custkey AS key FROM orders),
         |f0 AS (SELECT $fnv AS h FROM keys),
         |f1 AS (SELECT xor(h, h // 8589934592) AS h FROM f0),
         |f2 AS (SELECT ${mulmod64("h", 0xff51afd7ed558ccdL)} AS h FROM f1),
         |f3 AS (SELECT xor(h, h // 8589934592) AS h FROM f2),
         |f4 AS (SELECT ${mulmod64("h", 0xc4ceb9fe1a85ec53L)} AS h FROM f3),
         |f5 AS (SELECT DISTINCT xor(h, h // 8589934592) AS h FROM f4),
         |kth AS (SELECT h FROM f5 ORDER BY h LIMIT 1 OFFSET 255)
         |SELECT (SELECT count(DISTINCT o_custkey) FROM orders) AS exact_distinct,
         | CASE WHEN (SELECT count(*) FROM f5) < 256
         |  THEN CAST((SELECT count(*) FROM f5) AS DOUBLE)
         |  ELSE 255.0 * 18446744073709551616.0 /
         |    CAST((SELECT h FROM kth) AS DOUBLE) END AS est_distinct""".stripMargin
    },
    // Full raw-HLL recompute: the a40 fmix64 chain with the group key
    // threaded through, then bucket = top 6 hash bits, rank = leading
    // zeros of the 58-bit remainder + 1 (via a monotone bitlength scan
    // — every power of two is an exact BIGINT, no float compare), max
    // rank per bucket over a 64-bucket spine (empty register = 0), and
    // the raw estimator on the exact integer harmonic sum
    // Σ 2^(59−reg): SUM(BIGINT) is HUGEINT so the ≤ 2^65 total never
    // wraps, CAST AS DOUBLE is correctly rounded, and the final
    // multiply chain matches HllSketchAgg.finish token-for-token.
    "a76_hll_distinct" -> {
      val fnv = "list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), " +
        "list_transform(range(1, length(key)+1), i -> ord(substr(key, i, 1)))), " +
        "(acc, b) -> (xor(acc, CAST(b AS HUGEINT)) * 1099511628211) % CAST(18446744073709551616 AS HUGEINT))"
      // (x * c) mod 2^64 in 32-bit limbs — same derivation as the a40
      // oracle (a full 64×64 product overflows signed int128 HUGEINT)
      def mulmod64(x: String, c: Long): String = {
        val c1 = (c >>> 32) & 0xffffffffL
        val c0 = c & 0xffffffffL
        s"((($x % 4294967296) * $c0 + (((($x // 4294967296) * $c0 + ($x % 4294967296) * $c1)" +
          s" % 4294967296) * 4294967296)) % CAST(18446744073709551616 AS HUGEINT))"
      }
      s"""WITH k AS (SELECT DISTINCT l_returnflag AS rf, 'part:' || l_partkey AS key FROM lineitem),
         |f0 AS (SELECT rf, $fnv AS h FROM k),
         |f1 AS (SELECT rf, xor(h, h // 8589934592) AS h FROM f0),
         |f2 AS (SELECT rf, ${mulmod64("h", 0xff51afd7ed558ccdL)} AS h FROM f1),
         |f3 AS (SELECT rf, xor(h, h // 8589934592) AS h FROM f2),
         |f4 AS (SELECT rf, ${mulmod64("h", 0xc4ceb9fe1a85ec53L)} AS h FROM f3),
         |f5 AS (SELECT rf, xor(h, h // 8589934592) AS h FROM f4),
         |br AS (SELECT rf, CAST(h // 288230376151711744 AS INTEGER) AS bucket,
         |  CAST(h % 288230376151711744 AS BIGINT) AS rem FROM f5),
         |rk AS (SELECT rf, bucket,
         |  59 - len(list_filter(range(0, 58), j -> rem >= (CAST(1 AS BIGINT) << j))) AS r
         | FROM br),
         |regs AS (SELECT rf, bucket, max(r) AS reg FROM rk GROUP BY rf, bucket),
         |spine AS (SELECT rf, unnest(range(0, 64)) AS bucket FROM (SELECT DISTINCT rf FROM k)),
         |fullr AS (SELECT spine.rf, spine.bucket, coalesce(regs.reg, 0) AS reg
         | FROM spine LEFT JOIN regs ON spine.rf = regs.rf AND spine.bucket = regs.bucket),
         |ssum AS (SELECT rf, SUM(CAST(1 AS BIGINT) << (59 - reg)) AS s FROM fullr GROUP BY rf),
         |ex AS (SELECT l_returnflag AS rf, count(DISTINCT l_partkey) AS exact_parts
         | FROM lineitem GROUP BY 1)
         |SELECT ex.rf AS l_returnflag, ex.exact_parts,
         | 0.709 * (64.0 * 64.0) * 576460752303423488.0 / CAST(ssum.s AS DOUBLE) AS est_parts
         |FROM ex JOIN ssum ON ex.rf = ssum.rf
         |ORDER BY l_returnflag""".stripMargin
    },
    "t44_vocab" ->
      s"""SELECT w, count(*) AS occurrences, count(DISTINCT doc_id) AS doc_freq
         |FROM (SELECT doc_id, unnest($duckTokens) AS w FROM documents)
         |GROUP BY w ORDER BY occurrences DESC, w LIMIT 100""".stripMargin,
    // Same windows via 1-based inclusive list slicing: tk[a : a+99]
    // clamps at the end exactly like Spark's slice(tk, a, 100).
    "t46_chunking" ->
      s"""WITH b AS (SELECT doc_id, $duckTokens AS tk FROM documents),
         |c AS (SELECT doc_id, tk,
         |  CASE WHEN len(tk) <= 100 THEN 1
         |       ELSE (len(tk) - 100 + 79) // 80 + 1 END AS nch FROM b),
         |e AS (SELECT doc_id, tk, unnest(range(0, nch)) AS ci FROM c)
         |SELECT doc_id, ci AS chunk_idx,
         | CAST(len(tk[ci*80+1 : ci*80+100]) AS BIGINT) AS n_tokens,
         | array_to_string(tk[ci*80+1 : ci*80+100], ' ') AS chunk_text
         |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,
    // Shingle df recomputed from scratch over string shingles (the
    // Spark side counts 64-bit hashes; collision-free at this scale,
    // same equivalence d33's oracle relies on). IEEE double division
    // both sides so the rounded ratio is bit-identical.
    "t47_dup_ngrams" ->
      s"""WITH w AS (SELECT doc_id, $duckTokens AS words FROM documents),
         |sh AS (SELECT doc_id, ${duckShingles("words")} AS s FROM w),
         |e AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |dfx AS (SELECT g, count(*) AS dfs FROM e GROUP BY g),
         |per AS (SELECT e.doc_id, count(*) AS total,
         |   count(*) FILTER (dfx.dfs >= 2) AS dup
         | FROM e JOIN dfx USING (g) GROUP BY e.doc_id)
         |SELECT doc_id, CAST(total AS BIGINT) AS total_shingles,
         | CAST(dup AS BIGINT) AS dup_shingles,
         | round(CAST(dup AS DOUBLE) / CAST(total AS DOUBLE), 6) AS dup_ratio
         |FROM per ORDER BY doc_id""".stripMargin,
    // Exhaustive cross-side recompute (oracle-side only): exact matches
    // plus Jaccard-≥0.5 near-dups against the existing corpus kill a
    // new doc; survivors keep their row.
    "d44_incremental_dedup" -> d44Oracle(),
    // Same rational idf (N+1)/(df+1) as the Spark side: exact integer
    // arithmetic in DOUBLE, identical parenthesization → identical
    // scores → identical ranks.
    "t45_tfidf" ->
      s"""WITH toks AS (SELECT doc_id, unnest($duckTokens) AS w FROM documents),
         |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY doc_id, w),
         |dfq AS (SELECT w, count(*) AS doc_freq FROM tf GROUP BY w),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |sc AS (SELECT tf.doc_id, tf.w, tf.tf, dfq.doc_freq,
         |  CAST(tf.tf AS DOUBLE) *
         |   (CAST(n.n_docs + 1 AS DOUBLE) / CAST(dfq.doc_freq + 1 AS DOUBLE)) AS score
         | FROM tf JOIN dfq USING (w) CROSS JOIN n)
         |SELECT doc_id, w AS term, tf, doc_freq, CAST(rank AS INTEGER) AS rank FROM (
         | SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS rank
         | FROM sc)
         |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // Full quantized-ANN recompute: per-vector int8 quantization
    // (floor(v·127/max|v| + ½) — exact small integers), quantized-norm
    // cosine, rank with nbr tie-break. All arithmetic is exact or
    // identical-IEEE on both engines.
    "s39_ann_quantized" -> {
      val mx = "list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))))"
      val qv = s"list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * " +
        s"(CASE WHEN $mx = 0 THEN 0 ELSE 127.0 / $mx END) + 0.5))"
      s"""WITH z AS (SELECT vec_id, $qv AS qv FROM embeddings),
         |nz AS (SELECT vec_id, qv, sqrt(${duckDot("qv", "qv")}) AS nrm FROM z)
         |SELECT query_id, nbr_id, CAST(rank AS INTEGER) AS rank FROM (
         | SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
         |  row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |   (CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
         |         ELSE ${duckDot("q.qv", "c.qv")} / (q.nrm * c.nrm) END) DESC,
         |   c.vec_id) AS rank
         | FROM nz q JOIN nz c ON c.vec_id <> q.vec_id
         | WHERE q.vec_id < 5)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    },
    // Gaps-and-islands sessionization: same 30-minute gap + DECIMAL
    // value fold as EventStreams.batchSessions. Epoch millis floor the
    // same way on both sides (nanos→micros→millis, all positive).
    "s38_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS t, value FROM events),
        |m AS (SELECT user_id, t, value,
        |  CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
        |        OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > 1800000
        |       THEN 1 ELSE 0 END AS brk FROM e),
        |g AS (SELECT user_id, t, value,
        |  SUM(brk) OVER (PARTITION BY user_id ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m)
        |SELECT user_id, min(t) AS start_ts, max(t) AS end_ts,
        | count(*) AS n_events,
        | CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM g GROUP BY user_id, sid ORDER BY user_id, start_ts""".stripMargin,
    // t40's hit-count + argmax chain grouped into the confusion cells.
    "t50_langid_confusion" -> {
      val hits = TextAnalysis.stopwords.toSeq.sortBy(_._1).map { case (l, ws) =>
        s"CAST(len(list_filter(toks, w -> list_contains([${ws.map(w => s"'$w'").mkString(",")}], lower(w)))) AS DOUBLE) AS hits_$l"
      }.mkString(", ")
      s"""WITH b AS (SELECT lang, $duckTokens AS toks FROM documents),
         |c AS (SELECT lang, $hits FROM b),
         |p AS (SELECT lang,
         |  CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) = 0 THEN 'und'
         |   WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) THEN 'de'
         |   WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) THEN 'en'
         |   WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) THEN 'es'
         |   WHEN hits_fr = greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) THEN 'fr'
         |   ELSE 'zh' END AS lang_pred FROM c)
         |SELECT lang, lang_pred, count(*) AS n FROM p
         |GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin
    },
    // Same quality chain as the t40 oracle (trimmed to the terms the
    // score uses), then integer-rank percentile selection in SQL.
    "t49_quality_filter" ->
      s"""WITH ${qualityCtes()},
         |r AS (SELECT doc_id, lang, quality,
         |  row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rk,
         |  count(*) OVER (PARTITION BY lang) AS n FROM q)
         |SELECT doc_id, lang, quality, CAST(rk AS BIGINT) AS rk
         |FROM r WHERE rk * 2 <= n ORDER BY doc_id""".stripMargin,
    "d52_train_split" -> {
      val inner = graft.oracle.DuckSql.withSlotNode(
        "SELECT doc_id, lang, 'doc:' || doc_id AS key FROM documents",
        Seq("doc_id", "lang"), Some("slot"), None)
      val valHi = (0.05 * 16384).toInt
      val testHi = valHi + (0.10 * 16384).toInt
      s"""SELECT doc_id, lang,
         | CASE WHEN slot < $valHi THEN 'val'
         |      WHEN slot < $testHi THEN 'test'
         |      ELSE 'train' END AS split
         |FROM ($inner) ORDER BY doc_id""".stripMargin
    },
    // leakage-safe split: the pair set comes from the SAME banding
    // recompute the kernel runs (minhashPairCtes — the round-11 advice:
    // an LSH recall shift on a regenerated corpus now moves oracle and
    // kernel TOGETHER instead of failing the gate on a non-bug; the
    // separate exact-closure ≡ banding-closure recall pin lives in
    // d67's spec and SourceOverlapSpec), closed transitively to name
    // each doc's cluster; the CRC slot fold runs on the CLUSTER key so
    // every member inherits its representative's split
    "d75_leakage_safe_split" -> {
      val valHi = (0.05 * 16384).toInt
      val testHi = valHi + (0.10 * 16384).toInt
      val inner = graft.oracle.DuckSql.withSlotNode(
        "SELECT doc_id, cluster, 'cluster:' || cluster AS key FROM cl",
        Seq("doc_id", "cluster"), Some("slot"), None)
      s"""WITH RECURSIVE ${minhashPairCtes()},
         |$componentsCtes,
         |cl AS (SELECT d.doc_id, CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS cluster
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
         |SELECT doc_id, cluster,
         | CASE WHEN slot < $valHi THEN 'val'
         |      WHEN slot < $testHi THEN 'test'
         |      ELSE 'train' END AS split
         |FROM ($inner) ORDER BY doc_id""".stripMargin
    },
    // mixture resample: same token counts, same (T/L)/t_l association
    // (IEEE doubles agree across engines when the op order does), same
    // floor onto the slot grid, same CRC membership hash; the join is
    // null-safe on BOTH sides (IS NOT DISTINCT FROM here, <=> in
    // Sampling.mixtureResample) so a NULL-lang corpus cannot diverge
    "d76_domain_mixture_resample" -> {
      val inner = graft.oracle.DuckSql.withSlotNode(
        "SELECT doc_id, lang, n_tokens, 'mix:' || doc_id AS key FROM tk",
        Seq("doc_id", "lang", "n_tokens"), Some("slot"), None)
      s"""WITH tk AS (SELECT doc_id, lang,
         |  CAST(len($duckTokens) AS BIGINT) AS n_tokens FROM documents),
         |bl AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS lang_tokens
         |  FROM tk GROUP BY lang),
         |tot AS (SELECT CAST(sum(lang_tokens) AS BIGINT) AS total_tokens,
         |  count(*) AS n_langs FROM bl),
         |wt AS (SELECT lang, CAST(greatest(1, floor(
         |    least(1.0, CAST(total_tokens AS DOUBLE) / n_langs / CAST(lang_tokens AS DOUBLE))
         |    * 16384)) AS INTEGER) AS thr
         |  FROM bl CROSS JOIN tot)
         |SELECT s.doc_id, s.lang, s.n_tokens
         |FROM ($inner) s JOIN wt ON s.lang IS NOT DISTINCT FROM wt.lang
         |WHERE s.slot < wt.thr ORDER BY doc_id""".stripMargin
    },
    // mixture epochs: same weight arithmetic uncapped-then-clamped at
    // 4.0; full epochs from floor(w), the fractional epoch from the
    // CRC slot vs floor(frac·16384); generate_series(1, 0) is empty
    // in DuckDB (as the Spark side's n_copies >= 1 filter), so w < 1
    // degenerates to d76's membership decision
    "d77_mixture_epochs" -> {
      val inner = graft.oracle.DuckSql.withSlotNode(
        "SELECT doc_id, lang, 'ep:' || doc_id AS key FROM tk",
        Seq("doc_id", "lang"), Some("slot"), None)
      s"""WITH tk AS (SELECT doc_id, lang,
         |  CAST(len($duckTokens) AS BIGINT) AS n_tokens FROM documents),
         |bl AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS lang_tokens
         |  FROM tk GROUP BY lang),
         |tot AS (SELECT CAST(sum(lang_tokens) AS BIGINT) AS total_tokens,
         |  count(*) AS n_langs FROM bl),
         |wt AS (SELECT lang, CAST(floor(w) AS INTEGER) AS ful,
         |  CAST(CASE WHEN floor(w) = 0
         |    THEN greatest(1, floor((w - floor(w)) * 16384))
         |    ELSE floor((w - floor(w)) * 16384) END AS INTEGER) AS fthr
         |  FROM (SELECT lang, least(CAST(4.0 AS DOUBLE),
         |    CAST(total_tokens AS DOUBLE) / n_langs / CAST(lang_tokens AS DOUBLE)) AS w
         |   FROM bl CROSS JOIN tot))
         |SELECT s.doc_id, s.lang AS lang, CAST(unnest(generate_series(1,
         |  ful + CASE WHEN s.slot < fthr THEN 1 ELSE 0 END)) AS INTEGER) AS epoch
         |FROM ($inner) s JOIN wt ON s.lang IS NOT DISTINCT FROM wt.lang
         |ORDER BY doc_id, epoch""".stripMargin
    },
    // weighted mixture resample: the shared d81Shares constant becomes
    // the CASE chain, shares normalized over the observed strata
    // (Σshare exact — dyadic values), then the FIXED left-associated
    // op order share/Σ · T / t_l mirrored from mixtureWeightsTargeted;
    // floor onto the slot grid with the one-slot floor, same CRC
    // membership, null-safe join both sides
    "d81_mixture_resample_weighted" -> {
      val inner = graft.oracle.DuckSql.withSlotNode(
        "SELECT doc_id, lang, n_tokens, 'mixw:' || doc_id AS key FROM tk",
        Seq("doc_id", "lang", "n_tokens"), Some("slot"), None)
      s"""WITH tk AS (SELECT doc_id, lang,
         |  CAST(len($duckTokens) AS BIGINT) AS n_tokens FROM documents),
         |bl AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS lang_tokens,
         |  ${shareCaseSql(d81Shares, 0.125)} AS share
         |  FROM tk GROUP BY lang),
         |tot AS (SELECT CAST(sum(lang_tokens) AS BIGINT) AS total_tokens,
         |  sum(share) AS share_tot FROM bl),
         |wt AS (SELECT lang, CAST(greatest(1, floor(
         |    least(1.0, share / share_tot * CAST(total_tokens AS DOUBLE)
         |      / CAST(lang_tokens AS DOUBLE))
         |    * 16384)) AS INTEGER) AS thr
         |  FROM bl CROSS JOIN tot)
         |SELECT s.doc_id, s.lang, s.n_tokens
         |FROM ($inner) s JOIN wt ON s.lang IS NOT DISTINCT FROM wt.lang
         |WHERE s.slot < wt.thr ORDER BY doc_id""".stripMargin
    },
    // weighted mixture epochs: same targeted weight arithmetic clamped
    // at 4.0; epochs tail identical to d77's
    "d82_mixture_epochs_weighted" -> {
      val inner = graft.oracle.DuckSql.withSlotNode(
        "SELECT doc_id, lang, 'epw:' || doc_id AS key FROM tk",
        Seq("doc_id", "lang"), Some("slot"), None)
      s"""WITH tk AS (SELECT doc_id, lang,
         |  CAST(len($duckTokens) AS BIGINT) AS n_tokens FROM documents),
         |bl AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS lang_tokens,
         |  ${shareCaseSql(d82Shares, 0.125)} AS share
         |  FROM tk GROUP BY lang),
         |tot AS (SELECT CAST(sum(lang_tokens) AS BIGINT) AS total_tokens,
         |  sum(share) AS share_tot FROM bl),
         |wt AS (SELECT lang, CAST(floor(w) AS INTEGER) AS ful,
         |  CAST(CASE WHEN floor(w) = 0
         |    THEN greatest(1, floor((w - floor(w)) * 16384))
         |    ELSE floor((w - floor(w)) * 16384) END AS INTEGER) AS fthr
         |  FROM (SELECT lang, least(CAST(4.0 AS DOUBLE),
         |    share / share_tot * CAST(total_tokens AS DOUBLE)
         |      / CAST(lang_tokens AS DOUBLE)) AS w
         |   FROM bl CROSS JOIN tot))
         |SELECT s.doc_id, s.lang AS lang, CAST(unnest(generate_series(1,
         |  ful + CASE WHEN s.slot < fthr THEN 1 ELSE 0 END)) AS INTEGER) AS epoch
         |FROM ($inner) s JOIN wt ON s.lang IS NOT DISTINCT FROM wt.lang
         |ORDER BY doc_id, epoch""".stripMargin
    },
    // exact source-overlap matrix: d33's inverted-index pair chain
    // feeding the shared matrix tail
    "d78_source_overlap" ->
      s"""WITH pr AS (SELECT i, j, inter, uni FROM
         |  (${jaccardOracle(0.5).replace("ORDER BY i, j", "")})),
         |$sourceOverlapAggSql""".stripMargin,
    // MinHash twin: the banding itself re-derived in SQL — see d79Oracle
    "d79_source_overlap_minhash" -> d79Oracle(),
    // the same banding recompute with the BYTE-faithful FNV fold over
    // a deliberately non-ASCII corpus (hex-pair nibble decode == the
    // kernel's UTF-8 byte fold for any text) — the ord-vs-bytes
    // equivalence is not assumed, guarded, or even applicable here
    "d83_minhash_nonascii" ->
      s"""WITH ${minhashPairCtes(
             src = "(SELECT doc_id, translate(text, 'aeo', 'äéß') AS text FROM documents) nn",
             byteFold = true)}
         |SELECT i, j, CAST(inter AS INTEGER) AS inter,
         |  CAST(uni AS INTEGER) AS uni
         |FROM pr ORDER BY i, j""".stripMargin,
    // per-source funnel over the d48 chain with the banding-recompute
    // pair stage; counts per stage via a doc-id stage union joined to
    // source (keeper attribution follows min doc_id in both engines)
    "d80_curation_funnel" ->
      s"""WITH RECURSIVE ${d48ChainCtes("documents",
             prOverride = Some(minhashPairCtes("surviving")))},
         |st AS (SELECT doc_id, 0 AS stg, CAST(0 AS BIGINT) AS toks_n FROM b
         |  UNION ALL SELECT doc_id, 1, 0 FROM filtered
         |  UNION ALL SELECT doc_id, 2, 0 FROM surviving
         |  UNION ALL SELECT doc_id, 3, 0 FROM clean
         |  UNION ALL SELECT doc_id, 4, CAST(len(toks) AS BIGINT) FROM decon)
         |SELECT doc.source AS source,
         | CAST(sum(CASE WHEN stg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
         | CAST(sum(CASE WHEN stg = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         | CAST(sum(CASE WHEN stg = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
         | CAST(sum(CASE WHEN stg = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup,
         | CAST(sum(CASE WHEN stg = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
         | CAST(sum(CASE WHEN stg = 4 THEN toks_n ELSE 0 END) AS BIGINT) AS tokens_final
         |FROM st JOIN documents doc USING (doc_id)
         |GROUP BY doc.source ORDER BY source""".stripMargin,
    "d51_corpus_merge" ->
      """WITH existing AS (
        |  SELECT doc_id, text, lang, 1 AS version FROM documents),
        |incoming AS (
        |  SELECT doc_id, text || ' [rev2]' AS text, lang, 2 AS version
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, text, lang, 2
        |  FROM documents WHERE doc_id % 7 = 3)
        |SELECT COALESCE(i.doc_id, e.doc_id) AS doc_id,
        |  CASE WHEN i.doc_id IS NOT NULL AND e.doc_id IS NOT NULL THEN 'updated'
        |       WHEN i.doc_id IS NOT NULL THEN 'inserted'
        |       ELSE 'kept' END AS status,
        |  CAST(COALESCE(i.version, e.version) AS INTEGER) AS version,
        |  length(COALESCE(i.text, e.text)) AS n_chars,
        |  COALESCE(i.lang, e.lang) AS lang
        |FROM existing e FULL OUTER JOIN incoming i ON e.doc_id = i.doc_id
        |ORDER BY doc_id""".stripMargin,
  )
}
