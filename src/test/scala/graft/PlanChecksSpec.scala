package graft

import org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/**
 * Physical-plan quality gates — the "would this survive 100×" checks.
 * These pin the plan shapes that matter at scale: filters and projections
 * pushed into the parquet scan, small join sides broadcast, top-k planned
 * without a global sort, no accidental cartesian products anywhere.
 */
class PlanChecksSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf0001

  private def executedPlan(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan

  private def plan(name: String): String = executedPlan(name).toString

  test("a10: shipdate filter is pushed to the parquet scan") {
    val p = plan("a10_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("a10: scan reads only the needed columns") {
    val p = plan("a10_pricing_summary")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_orderkey") && !read.contains("l_partkey"),
      s"column pruning failed: $read")
    assert(read.contains("l_quantity") && read.contains("l_extendedprice"), read)
  }

  test("a11: dimension side is broadcast, not shuffled") {
    assert(plan("a11_segment_revenue").contains("BroadcastHashJoin"))
  }

  test("a27: snowflake joins broadcast the small dims") {
    val p = plan("a27_snowflake")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p.take(2000))
  }

  test("a18: top-k plans TakeOrderedAndProject (no global sort)") {
    assert(plan("a18_topk_orders").contains("TakeOrderedAndProject"))
  }

  test("aggregations are partial (map-side combine) before the exchange") {
    val p = plan("a10_pricing_summary")
    assert(p.contains("HashAggregate"))
    // partial agg appears below the exchange, final above it
    val exchangeIdx = p.indexOf("Exchange")
    assert(exchangeIdx > 0 && p.indexOf("HashAggregate", exchangeIdx) >= 0)
  }

  test("no query plans a cartesian product (except the intentional ANN ground-truth cross join)") {
    val allowCross = Set("s35_ann_brute")
    SparkEntry.queries.keys.filterNot(allowCross).foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product")
    }
  }

  test("d34: embedding near-dup is a block equi-join, never broadcast-nested-loop") {
    val p = plan("d34_embed_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("d33/d39: dedup pipelines plan no cartesian and push column pruning to the scan") {
    // scope note: d39's component loop runs eagerly and collapses into
    // checkpointed-RDD scans, so these assertions cover the VISIBLE
    // stages (pair pipeline, final joins). The loop's own join shape is
    // pinned where it is visible: DedupSpec's ngram plan check + the
    // union-find equivalence properties.
    Seq("d33_ngram_jaccard", "d39_corpus_clean").foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name: ${p.take(2000)}")
    }
    val read = plan("d33_ngram_jaccard").linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("lang") && !read.contains("n_chars"),
      s"d33 should read only (doc_id, text): $read")
  }

  test("p14: status filter prunes partitions at the scan") {
    val p = plan("p14_partitioned_scan")
    assert(p.contains("PartitionFilters") &&
      p.replaceAll("\\s", "").contains("o_orderstatus"), p.take(2000))
    // the filter must be a partition filter, not a post-scan row filter
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("o_orderstatus"), scanLine)
  }

  test("p11: slot-bucketed tables join with zero exchange (only the final agg shuffles)") {
    val p = plan("p11_bucketed_coloc")
    assert(p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("BroadcastHashJoin"), p.take(3000))
    // exactly ONE hash exchange: the 5-group aggregate above the join —
    // the join itself rides the bucketed scans' HashPartitioning(slot)
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"want 1 exchange (final agg only), got $n:\n${p.take(3000)}")
    assert(p.contains("Bucketed: true"), "scan should be bucketed: " + p.take(3000))
  }

  test("s39: quantized ANN broadcasts the query side, corpus is never sort-merge joined") {
    val p = plan("s39_ann_quantized")
    assert(p.contains("BroadcastExchange"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("d44: incremental dedup plans only equi-joins (no pair scan against the corpus)") {
    val p = plan("d44_incremental_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  test("t46: chunking is scan-local — the only exchange is the output ordering") {
    val p = plan("t46_chunking")
    assert("Exchange".r.findAllIn(p).length <= 1, p.take(2000))
  }

  test("t47: duplicate-ngram fraction plans no pairwise join (semi-join against the vocabulary)") {
    val p = plan("t47_dup_ngrams")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("LeftSemi"), p.take(2000))
  }

  test("s56: retrieval join broadcasts the hit set; the corpus side streams with a pruned schema") {
    val p = plan("s56_retrieval_join")
    // BuildRight must be on the BroadcastHashJoin's own line (the hit
    // set is the build side) — a whole-plan substring check could be
    // satisfied by the brute-force stage's BNLJ instead
    val bhj = p.linesIterator.filter(_.contains("BroadcastHashJoin")).toSeq
    assert(bhj.nonEmpty && bhj.exists(_.contains("BuildRight")), p.take(2000))
    val docRead = p.linesIterator
      .find(l => l.contains("documents.parquet") && l.contains("ReadSchema"))
    assert(docRead.isDefined,
      s"no documents.parquet ReadSchema line found in plan:\n${p.take(2000)}")
    assert(!docRead.get.contains("text"),
      s"documents scan must not read text: ${docRead.get}")
  }

  test("a73: latest-per-key plans Partial+Final WindowGroupLimit (one row per key into the shuffle)") {
    val p = plan("a73_latest_per_key")
    // both modes must appear on WindowGroupLimit's own lines — the
    // map-side Partial is the pre-shuffle pruning this gate exists for
    val wgl = p.linesIterator.filter(_.contains("WindowGroupLimit")).toSeq
    assert(wgl.exists(_.contains("Partial")) && wgl.exists(_.contains("Final")),
      s"WindowGroupLimit lines: ${wgl.mkString("; ")}\n${p.take(1500)}")
  }

  test("s65: the metadata filter is pushed into the corpus parquet scan (filter-during-probe)") {
    val p = plan("s65_ann_filtered")
    assert(p.contains("In(label"), s"label IN filter not pushed: ${p.take(3000)}")
  }

  test("d64: repeated-span dedup plans no pairwise join; postings cross ONE exchange") {
    val p = plan("d64_repeated_spans")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(2000))
    // cross-doc-ness is decided inside one window pass over the
    // fingerprint groups (min(id) != max(id)) — the earlier
    // countDistinct + LeftSemi form shuffled the postings twice
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("LeftSemi"),
      s"postings must not be re-shuffled through a semi-join: ${p.take(2000)}")
  }

  test("d45: temperature thresholds are broadcast onto the scan (corpus never shuffled pre-filter)") {
    val p = plan("d45_temperature_sample")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // the only exchanges are the tiny threshold aggregate and the
    // declared output ordering — never a corpus-wide repartition
    assert(p.contains("cluster_slot"), p.take(2000))
  }

  test("d47: winnowed copy detection candidates come from the inverted index (no pair scan)") {
    val p = plan("d47_winnow_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("LeftSemi"), p.take(2000))
  }

  test("s45: IVF-PQ candidates come from the probe equi-join, never a corpus cross join") {
    val p = plan("s45_ann_ivfpq")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("d50: bloom prefilter probes a broadcast bitmap (no join against the corpus rows)") {
    val p = plan("d50_bloom_dedup")
    // one broadcast of the 1-row bitmap; no shuffle join of old vs new
    assert(p.contains("BroadcastExchange"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(p.contains("bloom_might_contain"), p.take(2000))
  }

  test("a42: pagerank's visible plan is a flat scan of the final round's checkpoint") {
    val p = plan("a42_pagerank")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the rounds ran against cached edges during construction; the
    // caller-facing plan must be the checkpointed state, not a replay
    // of the 5-round tree
    assert(p.contains("Scan ExistingRDD"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("a47: grouped top-k partial-aggregates (no Window sort of the full row set)") {
    val p = plan("a47_grouped_topk")
    assert(!p.contains("Window"), p.take(2000))
    // partial + final ObjectHashAggregate pair around the group exchange
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2, p.take(2000))
  }

  test("a49: triangle enumeration is all equi-joins (no pair scan)") {
    val p = plan("a49_triangle_counts")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("d51: corpus merge plans a full-outer join on the key") {
    assert(plan("d51_corpus_merge").contains("FullOuter"))
  }

  test("a59: both full-outer sides pre-aggregate below the join (one row per key per side)") {
    val p = plan("a59_full_outer")
    assert(p.contains("FullOuter"), p.take(2000))
    // the join consumes aggregated sides: HashAggregate appears on both
    // input branches before the join node in the tree dump
    assert("HashAggregate".r.findAllIn(p).length >= 4, p.take(2000))
  }

  test("a61: all four FILTER-clause aggregates come from ONE scan of orders") {
    val p = plan("a61_filtered_agg")
    assert("Scan parquet|FileScan parquet".r.findAllIn(p).length == 1, p.take(2000))
  }

  test("a62: statistical aggregates partial-aggregate before the exchange") {
    val p = plan("a62_stat_aggs")
    val exchangeIdx = p.indexOf("Exchange")
    assert(p.contains("HashAggregate") && exchangeIdx > 0 &&
      p.indexOf("HashAggregate", exchangeIdx) >= 0, p.take(2000))
  }

  test("a64: pivot + unpivot round-trip scans lineitem once") {
    val p = plan("a64_unpivot")
    assert("Scan parquet|FileScan parquet".r.findAllIn(p).length == 1, p.take(2000))
  }

  test("a65: one Window operator evaluates all three IGNORE-NULLS navigations") {
    val p = plan("a65_window_nulls")
    assert("Window".r.findAllIn(p).length == 1, p.take(2000))
  }

  test("a67: fuzzy top-k plans TakeOrderedAndProject (heaps, not a global sort)") {
    assert(plan("a67_fuzzy_lev").contains("TakeOrderedAndProject"))
  }

  test("x64: XML round-trip prunes the customer scan to the two used columns") {
    val p = plan("x64_xml_roundtrip")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("c_acctbal") && !read.contains("c_name"), read)
    assert(read.contains("c_mktsegment") && read.contains("c_nationkey"), read)
  }

  test("a72: the MERGE hint forces a sort-merge join over the would-be broadcast") {
    val p = plan("a72_join_hints")
    assert(p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("p17: the dim's runtime filter dynamically prunes the fact's partitions") {
    val p = plan("p17_dpp_join")
    assert(p.contains("dynamicpruningexpression"), p.take(2000))
  }

  test("a74: AQE splits the skewed join partition at runtime (skew=true in the final SMJ)") {
    // bench-scale thresholds: the heavy key holds ~80% of lineitem, so
    // its post-shuffle partition dwarfs the 64 KB threshold while the
    // remaining 996 keys stay far under it. Confs are runtime-settable;
    // restored after so the other pins see stock behavior.
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32768",
      // AQE splits a skewed reduce partition at MAP-OUTPUT granularity
      // (per-mapper ranges). At test scale, partition coalescing would
      // shrink the pre-agg stage to ONE task — one mapper feeding the
      // join shuffle, nothing to split. A real-scale stage has
      // thousands of mappers; keeping the 4 reducers models that.
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val df = SparkEntry.queries("a74_skew_join_aqe")(spark, SparkTestSession.sf001)
      df.collect() // final adaptive plan exists only after execution
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not mark the SMJ as skew-optimized:\n${p.take(3000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter: a filtered dim injects might_contain into the fact scan") {
    // Spark's OTHER runtime filter besides DPP (pinned at p17): when a
    // shuffle join's small side carries a selective predicate, the
    // optimizer builds a bloom filter from it at runtime and applies
    // might_contain to the big side BEFORE the shuffle — at 100 TB the
    // fact rows that cannot join never leave their mappers. Thresholds
    // are sized down to fire at test scale; broadcast is disabled so
    // the join actually shuffles (the broadcast path has its own
    // reduction).
    val confs = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1024",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "67108864",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      import org.apache.spark.sql.functions._
      val l = spark.read.parquet(s"${SparkTestSession.sf001}/lineitem.parquet")
        .select(col("l_orderkey"), col("l_extendedprice"))
      val o = spark.read.parquet(s"${SparkTestSession.sf001}/orders.parquet")
        .filter(col("o_totalprice") > 400000.0)
        .select(col("o_orderkey"))
      val j = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"))
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"runtime bloom filter was not injected:\n${p.take(3000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("s60: the probe set dynamically prunes the on-disk IVF list partitions") {
    val p = plan("s60_ann_ivf_persisted")
    // the index scan must carry a runtime pruning subquery on the list
    // id — only probed lists' directories are read (p17's mechanism,
    // applied to the ANN index layout)
    assert(p.contains("dynamicpruningexpression"), p.take(3000))
    val scan = p.linesIterator.find(l => l.contains("graft-ivf") && l.contains("PartitionFilters"))
    assert(scan.isDefined && scan.get.contains("__cid"), s"index scan: $scan\n${p.take(2000)}")
  }

  test("IVF routing: s37/s60/s77/s80/s81/s82 assign and probe through the fused kernels only") {
    // one kernel per semantics: probe selection is CentroidProbes and
    // in-memory assignment CentroidArgmax — a second encoding (an
    // array_sort over per-centroid structs, or a centroid-table join)
    // reintroduced on any of these keys turns this red. s60/s77 serve a
    // persisted index, so their assignment lives in the partitions.
    val probeOnly = Set("s60_ann_ivf_persisted", "s77_stream_ann_serving")
    Seq("s37_ann_ivf", "s60_ann_ivf_persisted", "s77_stream_ann_serving",
        "s80_knn_label_eval_ivf", "s81_ann_ivf_table", "s82_knn_label_eval_table").foreach { name =>
      val p =
        if (name == "s77_stream_ann_serving") {
          SparkEntry.queries(name)(spark, sf) // runs the real stream
          graft.queries.StreamingQueries.capturedPlan("s77_sink")
            .getOrElse(fail("no captured streaming plan for s77_sink"))
        } else plan(name)
      assert(p.contains("centroid_probes("), s"$name: no fused probe selection\n${p.take(3000)}")
      if (!probeOnly(name))
        assert(p.contains("centroid_argmax("), s"$name: no fused assignment\n${p.take(3000)}")
      assert(!p.contains("array_sort"), s"$name: per-centroid struct sort\n${p.take(3000)}")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name: centroid-table join\n${p.take(3000)}")
    }
  }

  test("s90: production-nlist serving dynamically prunes the persisted index partitions") {
    // s60's pin at nlist=128 through the expression tier: the probe
    // side is a real scan (embeddings filter), so the broadcast join
    // on the partition column must inject a runtime pruning subquery
    // on the index scan — the session reads ~nprobe/nlist of the
    // 128-list index directories
    val p = plan("s90_ann_ivf_prod")
    assert(p.contains("dynamicpruningexpression"), p.take(3000))
    val scan = p.linesIterator.find(l => l.contains("graft-ivf-prod") && l.contains("PartitionFilters"))
    assert(scan.isDefined && scan.get.contains("__cid"), s"index scan: $scan\n${p.take(2000)}")
  }

  /** The partition-filtered scans of generation `gen`'s IVF-prod index
    * (`…/graft-ivf-prod/…/<gen>/index`) in an executed plan, found node
    * by node: the rendered plan cuts a scan's Location at
    * `spark.sql.maxMetadataStringLength`, so matching the path in the
    * plan text breaks whenever the data root gets longer. */
  private def genIndexScans(p: SparkPlan, gen: String): Seq[FileSourceScanExec] =
    new AdaptiveSparkPlanHelper {}.collect(p) {
      case f: FileSourceScanExec if f.partitionFilters.nonEmpty &&
          f.relation.location.rootPaths.exists(root =>
            root.toString.contains("graft-ivf-prod") &&
              root.getName == "index" && root.getParent.getName == gen) => f
    }

  /** The scan carries a runtime (DPP) partition filter on `__cid`. */
  private def dynamicallyPrunedOnCid(f: FileSourceScanExec): Boolean =
    f.partitionFilters.exists {
      case d: DynamicPruningExpression => d.references.exists(_.name == "__cid")
      case _ => false
    }

  test("s97: gen2 serving dynamically prunes the REFRESHED index partitions") {
    // the refresh-rewrite claim at the plan level: the gen2 layout is
    // served exactly as gen1 was — the broadcast probe join injects a
    // runtime pruning subquery on the gen2 index scan specifically
    // (the guarded delta union's other branch is a plain batch-sized
    // scan; the corpus-sized side must stay partition-pruned)
    val p = executedPlan("s97_ann_ivf_gen2")
    val scans = genIndexScans(p, "gen2")
    assert(scans.nonEmpty, s"no gen2 index scan in plan:\n${p.toString.take(2000)}")
    assert(scans.forall(dynamicallyPrunedOnCid),
      s"gen2 scan not dynamically pruned: ${scans.map(_.partitionFilters)}")
  }

  test("s101: gen3 serving dynamically prunes the TWICE-refreshed index partitions") {
    // the rollover claim at the plan level: the generation the
    // construction built from its own output serves exactly as its
    // input generation did — DPP on the gen3 index scan through the
    // guarded union (the chained delta branch is batch-sized)
    val p = executedPlan("s101_ann_ivf_gen3")
    val scans = genIndexScans(p, "gen3")
    assert(scans.nonEmpty, s"no gen3 index scan in plan:\n${p.toString.take(2000)}")
    assert(scans.forall(dynamicallyPrunedOnCid),
      s"gen3 scan not dynamically pruned: ${scans.map(_.partitionFilters)}")
  }

  test("s103: deleted gen2 serving keeps DPP and broadcasts the tombstone anti-join") {
    // deletes must not cost the plan shape: the tombstone set is
    // metadata-sized (broadcast anti-join), and the corpus-sized gen2
    // index scan stays partition-pruned under it
    val ep = executedPlan("s103_ann_ivf_gen2_delete")
    val p = ep.toString
    val scans = genIndexScans(ep, "gen2")
    assert(scans.nonEmpty, s"no gen2 index scan in plan:\n${p.take(2000)}")
    assert(scans.forall(dynamicallyPrunedOnCid),
      s"gen2 scan not dynamically pruned under the delete: ${scans.map(_.partitionFilters)}")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"tombstone anti-join must be broadcast:\n${p.take(3000)}")
  }

  test("s98: derived-knob serving rides the same dynamically-pruned index scan") {
    // the configuration path must not cost the plan shape: serving at
    // nprobeForRecall's output is still the s90 topology — DPP on the
    // persisted index scan, probe count only changing the pruned set's
    // size
    val p = plan("s98_ann_serving_derived")
    assert(p.contains("dynamicpruningexpression"), p.take(3000))
    val scan = p.linesIterator.find(l => l.contains("graft-ivf-prod") && l.contains("PartitionFilters"))
    assert(scan.isDefined && scan.get.contains("__cid"), s"index scan: $scan\n${p.take(2000)}")
  }

  test("s92: every production-nlist serving micro-batch prunes the index FAR below nlist") {
    // the s78 pin where it matters: at nlist=128 the structural probe
    // union (≤ 3 queries × nprobe 4 = 12) is a 0.09 read fraction —
    // the InSet lands far from nlist, which is the production serving
    // bill the r13 probes measured and this query declares
    SparkEntry.queries("s92_stream_ann_serving_prod")(spark, sf).collect()
    val pins = graft.queries.StreamingQueries.s92BatchPins
    assert(pins.size == 5, s"expected 5 micro-batches, got ${pins.size}")
    pins.values.foreach { case (nq, ncids, inSize, nlist) =>
      assert(nlist == graft.queries.PipelineQueries.prodNlist,
        s"served index must be the production-nlist artifact, got $nlist")
      assert(nq == 3, s"request batch should hold 3 queries, got $nq")
      assert(ncids > 0 && ncids <= nq * 4 && ncids < nlist / 2,
        s"probe union $ncids of $nlist lists is not a production-shaped read")
      assert(inSize == ncids,
        s"batch scan's static In/InSet has $inSize elements, probe union $ncids")
    }
  }

  test("s94: streaming index ingest runs genuinely multi-batch with every vector landed") {
    // the write-half claim: the delta arrives as 5 micro-batches (the
    // mod-5 export makes that structural), each batch's frozen-centroid
    // assignment lands exactly its own vectors, and the union covers
    // the whole s61-shaped delta — the oracle separately pins that the
    // served answer equals the batch recompute
    SparkEntry.queries("s94_stream_index_ingest")(spark, sf).collect()
    val pins = graft.queries.StreamingQueries.s94BatchPins
    assert(pins.size == 5, s"expected 5 micro-batches, got ${pins.size}")
    assert(pins.values.forall { case (in, out) => in > 0 && in == out },
      s"a batch dropped or duplicated vectors: $pins")
    val deltaSize = spark.read.parquet(s"$sf/embeddings.parquet")
      .where(org.apache.spark.sql.functions.col("vec_id") < 200).count()
    assert(pins.values.map(_._1).sum == deltaSize,
      s"batches must cover the whole $deltaSize-vector delta: $pins")
  }

  test("d62: keep-best cluster rep aggregates (max-struct argmax), never a corpus Window sort") {
    val p = plan("d62_cluster_reps")
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  test("d67: MinHash keep-best twin keeps the argmax shape and adds no pair scan") {
    val p = plan("d67_cluster_reps_minhash")
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  test("d66: digest dedup exchanges (digest, length) keys, never document bodies") {
    val p = plan("d66_dedup_digest")
    assert(p.contains("hashpartitioning(digest"),
      s"grouping exchange must key on the digest: ${p.take(2000)}")
  }

  test("p19: ANALYZE stats feed the optimizer (CBO estimates filtered cardinality from column stats)") {
    // the mechanism a 100 TB planner runs on: collected table/column
    // statistics drive cardinality estimation, which drives join
    // strategy and reorder. Pin that the catalog table's ANALYZE stats
    // actually reach the optimizer: with CBO on, a node-equality
    // filter's estimated rowCount comes from the column NDV (≈ 1/6 of
    // the table), not a guess — and the size estimate shrinks with it.
    val tbl = graft.queries.RelationalQueries.ensureCatalogTable(spark, sf)
    spark.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR COLUMNS node")
    val saved = spark.conf.getOption("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      import org.apache.spark.sql.functions.col
      val full = spark.table(tbl)
      val filtered = full.where(col("node") === 0)
      val fullStats = full.queryExecution.optimizedPlan.stats
      val fStats = filtered.queryExecution.optimizedPlan.stats
      assert(fullStats.rowCount.exists(_ > 0), s"ANALYZE did not record rowCount: $fullStats")
      assert(fStats.rowCount.isDefined, s"CBO did not estimate through the filter: $fStats")
      assert(fStats.rowCount.get < fullStats.rowCount.get,
        s"filter estimate ${fStats.rowCount} not below table ${fullStats.rowCount}")
      assert(fStats.sizeInBytes < fullStats.sizeInBytes)
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
      case None    => spark.conf.unset("spark.sql.cbo.enabled")
    }
  }

  test("d68: capstone twin plans no pair scan; candidates are the LSH band-bucket equi-join") {
    // the visible plan (post-checkpoint joins + chunking) must stay
    // pair-scan-free like d67's. The temperature-rebalancing stage
    // broadcasts its GLOBAL one-row threshold aggregate onto the corpus
    // (a50's mechanism) — that BroadcastNestedLoopJoin is a broadcast
    // of ONE row, not a pair scan, and is the only one allowed.
    val p = plan("d68_training_minhash")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.size <= 1 && bnlj.forall(_.contains("Cross")),
      s"unexpected BNLJ shape: ${bnlj.mkString("; ")}")
    // the component stage's candidate mechanism runs eagerly inside the
    // connected-components loop, so pin its plan directly: candidates
    // must come from the (band, bucket) equi-join — the shuffle keys on
    // the band columns, never a pair scan
    try {
      val docs = graft.sources.Tables.load(spark, sf, "documents")
      val pairs = graft.operators.Dedup.minhashNearDups(docs, "doc_id", "text", 0.5)
      val pp = pairs.queryExecution.executedPlan.toString
      assert(!pp.contains("CartesianProduct") && !pp.contains("BroadcastNestedLoopJoin"),
        pp.take(2000))
      // the candidate join must be an EQUI-join keyed on (band, bucket)
      // — broadcast at test scale, shuffled-on-those-keys at 100×; the
      // key list is what guarantees no pair scan either way
      assert(pp.linesIterator.exists(l =>
          (l.contains("HashJoin") || l.contains("SortMergeJoin")) &&
          l.contains("[band#") && l.contains("bucket#")),
        s"no (band, bucket) equi-join found: ${pp.take(3000)}")
    } finally spark.catalog.clearCache() // lshCandidates persists its banded rows
  }

  test("a76: the HLL sketch partial-aggregates map-side (constant shuffle bytes per group)") {
    val p = plan("a76_hll_distinct")
    // the sketch aggregator must appear in BOTH partial (below its
    // exchange) and final mode — the 64-byte registers merge map-side,
    // so the shuffle carries one sketch per partition per group
    val oha = p.linesIterator.filter(_.contains("ObjectHashAggregate")).toSeq
    assert(oha.size >= 2, s"want partial+final ObjectHashAggregate:\n${p.take(3000)}")
  }

  test("m60: wav feature extraction is fused into the scan's codegen stage") {
    val df = SparkEntry.queries("m60_wav_decode")(spark, sf)
    df.collect() // under AQE the starred final plan exists only after execution
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("wav_stats"), p.take(2000))
    assert(p.linesIterator.exists(l => l.contains("wav_stats") && l.contains("*(")),
      s"wav_stats not inside a WholeStageCodegen span:\n${p.take(2000)}")
  }

  test("s72: curated-index serving dynamically prunes the on-disk list partitions") {
    val p = plan("s72_curate_index_serve")
    assert(p.contains("dynamicpruningexpression"), p.take(3000))
    val scan = p.linesIterator.find(l =>
      l.contains("ivf-curated") && l.contains("PartitionFilters"))
    assert(scan.isDefined && scan.get.contains("__cid"),
      s"curated index scan: $scan\n${p.take(2000)}")
  }

  test("t51: LM scoring's model joins broadcast at bench scale; no pair-keyed join anywhere") {
    // run first: the model tables are aggregates with no static size
    // stats, so only AQE's runtime re-plan shows the broadcasts
    val df = SparkEntry.queries("t51_lm_perplexity")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // at THIS scale AQE broadcasts the small model tables (no hints —
    // at 100 TB the observed-bigram table legitimately joins as a hash
    // join on its own (w1, w2) keys, still model-keyed, not
    // pair-keyed); what must hold at every scale is the absence of any
    // cartesian/nested-loop shape
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the one allowed BNLJ is the broadcast of the ONE-ROW grand-total
    // aggregate onto the token stream (a50's mechanism)
    // (the executed AQE string dumps the final AND the initial plan, so
    // the ONE join can appear on two lines)
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.size <= 2 && bnlj.forall(_.contains("BuildRight")),
      s"unexpected BNLJ shape: ${bnlj.mkString("; ")}")
  }

  test("d72: embedding decontamination is one corpus scan with a broadcast anti probe") {
    val p = plan("d72_embed_decontam")
    // the benchmark side must be the broadcast build of an ANTI
    // nested-loop probe (non-equi cosine predicate; bench is
    // metadata-sized) — never a shuffle, never a pair materialization
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.nonEmpty && bnlj.forall(_.contains("LeftAnti")), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(2000))
  }

  /** Per curated-index scan: the element count of its STATIC `__cid`
    * In/InSet partition filter (0 when absent). Programmatic — the
    * rendered PartitionFilters string truncates long INSET lists. */
  private def curatedScanStaticInSizes(name: String): Seq[Int] =
    SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("ivf-curated")) =>
        f.partitionFilters.collectFirst {
          case i: org.apache.spark.sql.catalyst.expressions.InSet => i.hset.size
          case i: org.apache.spark.sql.catalyst.expressions.In => i.list.size
        }.getOrElse(0)
    }

  test("s73: literal-query serving statically prunes the index partitions (no DPP needed)") {
    // driver-side probe selection pushes `__cid IN (...)` at PLANNING
    // time — the scan's PartitionFilters carry a static In/InSet, which
    // is strictly better than DPP (no runtime subquery at all).
    // NON-VACUOUS (r11): the set must enumerate FEWER lists than the
    // index holds — at the pre-r11 fixed nlist=8 it listed all eight
    // partitions, so the old pin passed while pruning nothing.
    val root = graft.queries.PipelineQueries.ensureCuratedIndexExport(spark, sf)
    val nlist = spark.read.parquet(s"$root/centroids").count()
    val sizes = curatedScanStaticInSizes("s73_curated_text_search")
    assert(sizes.nonEmpty, "no curated-index scan in the s73 plan")
    assert(sizes.forall(s => s > 0 && s < nlist),
      s"static pruning is vacuous: IN sizes $sizes of $nlist partitions")
  }

  test("d76: mixture resample broadcasts the weights; the corpus is never shuffled for the join") {
    // the 100 TB shape this query declares: languages-sized mixture
    // table broadcast back onto the scan, corpus rows never exchanged
    // for the join (the only exchanges are the tiny aggregates and the
    // gate's output ordering)
    Seq("d76_domain_mixture_resample", "d77_mixture_epochs",
        "d81_mixture_resample_weighted", "d82_mixture_epochs_weighted").foreach { name =>
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"), s"$name: ${p.take(2000)}")
      assert(!p.contains("SortMergeJoin"),
        s"$name: corpus shuffled for the mixture join:\n${p.take(2000)}")
    }
  }

  test("s78: every serving micro-batch statically prunes the index to its probe union") {
    // the s77-production claim: per batch, the driver-selected probe
    // union lands as a static `__cid` In/InSet on the index scan, so
    // each micro-batch reads ≤ batch·nprobe of nlist lists instead of
    // the whole index. The ≤ 12 < 16 bound is STRUCTURAL (3 queries ×
    // nprobe 4 per request file), so this can never pass vacuously.
    SparkEntry.queries("s78_stream_ann_serving_pruned")(spark, sf).collect()
    val pins = graft.queries.StreamingQueries.s78BatchPins
    assert(pins.size == 5, s"expected 5 micro-batches, got ${pins.size}")
    pins.values.foreach { case (nq, ncids, inSize, nlist) =>
      assert(nq == 3, s"request batch should hold 3 queries, got $nq")
      assert(ncids > 0 && ncids <= nq * 4 && ncids < nlist,
        s"probe union $ncids of $nlist lists breaks the structural bound")
      assert(inSize == ncids,
        s"batch scan's static In/InSet has $inSize elements, probe union $ncids")
    }
  }

  test("s87: ingest dedup runs genuinely multi-batch and lands d44's exact answer") {
    // the streaming-twin claim: the new side arrives as 5 micro-batches
    // (the mod-5 export makes that structural), each admitted against
    // the corpus snapshot independently, and the union equals the batch
    // path's survivors row-for-row — batching is answer-invisible
    val got = SparkEntry.queries("s87_stream_ingest_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.get(1))).toSet
    val pins = graft.queries.StreamingQueries.s87BatchPins
    assert(pins.size == 5, s"expected 5 micro-batches, got ${pins.size}")
    assert(pins.values.forall(_._1 > 0), s"an ingest batch was empty: $pins")
    // coverage bound derived from the SOURCE (the d44 split convention:
    // new side = doc_id >= 250), not a corpus-size literal — the
    // assertion survives a test-corpus resize (r13 advice)
    val newSide = spark.read.parquet(s"$sf/documents.parquet")
      .where(org.apache.spark.sql.functions.col("doc_id") >= 250).count()
    assert(pins.values.map(_._1).sum == newSide,
      s"batches must cover the new side ($newSide docs): $pins")
    assert(pins.values.forall { case (in, out) => out <= in }, s"pins: $pins")
    val batch = SparkEntry.queries("d44_incremental_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.get(1))).toSet
    assert(got == batch, s"stream admitted ${got.size} docs, batch ${batch.size}")
  }

  test("s76: refine tier keeps the pruned scans and broadcasts the shortlist") {
    // both stages (coarse probe AND text re-rank) read ONLY the
    // statically probed lists
    val root = graft.queries.PipelineQueries.ensureCuratedIndexExport(spark, sf)
    val nlist = spark.read.parquet(s"$root/centroids").count()
    val sizes = curatedScanStaticInSizes("s76_curated_search_refined")
    assert(sizes.size >= 2, s"expected coarse + refine curated scans, got $sizes")
    assert(sizes.forall(s => s > 0 && s < nlist),
      s"a refine-tier scan lost static pruning: IN sizes $sizes of $nlist partitions")
    // the shortlist (queries × 20) and query-vector sides broadcast —
    // the corpus is never shuffled for the re-rank
    val p = plan("s76_curated_search_refined")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), s"refine shuffled the corpus:\n${p.take(2000)}")
  }

  test("m61: lossy JPEG block extraction is fused into the scan's codegen stage") {
    val df = SparkEntry.queries("m61_jpeg_decode")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("jpeg_block_stats"), p.take(2000))
    assert(p.linesIterator.exists(l => l.contains("jpeg_block_stats") && l.contains("*(")),
      s"jpeg_block_stats not inside a WholeStageCodegen span:\n${p.take(2000)}")
  }

  test("s68/s70/s71/s74/s75: the engine executes TransformWithStateExec on the RocksDB provider") {
    Seq("s68_stream_transitions" -> "s68_sink",
        "s70_stream_sessionize_timers" -> "s70_sink",
        "s71_stream_transitions_warmstart" -> "s71_sink",
        "s74_stream_type_counts" -> "s74_sink",
        "s75_stream_recent_events" -> "s75_sink").foreach { case (name, sink) =>
      SparkEntry.queries(name)(spark, sf).collect() // runs the real stream
      val p = graft.queries.StreamingQueries.capturedPlan(sink)
      assert(p.exists(_.contains("TransformWithState")),
        s"$name: no TransformWithStateExec in captured plan:\n${p.getOrElse("<none>").take(2000)}")
      val ops = graft.queries.StreamingQueries.capturedStateOperators(sink)
      assert(ops.exists(_._1.toLowerCase.contains("transformwithstate")),
        s"$name state operators: $ops")
      // the RocksDB provider publishes rocksdb* custom metrics; the
      // default HDFS-backed store publishes none — this proves which
      // provider actually ran
      assert(ops.exists(_._2.exists(_.toLowerCase.contains("rocksdb"))),
        s"$name: no rocksdb metrics — wrong state-store provider? $ops")
    }
  }

  test("s69: stream-stream LEFT SEMI executes the symmetric hash join") {
    SparkEntry.queries("s69_stream_semi_join")(spark, sf).collect()
    val p = graft.queries.StreamingQueries.capturedPlan("s69_sink")
    assert(p.exists(_.contains("StreamingSymmetricHashJoin")),
      s"captured plan:\n${p.getOrElse("<none>").take(2000)}")
    val ops = graft.queries.StreamingQueries.capturedStateOperators("s69_sink")
    assert(ops.exists(_._1.toLowerCase.contains("symmetrichashjoin")),
      s"state operators: $ops")
  }

  test("cluster expressions fold into scan-stage codegen") {
    // run first: under AQE the codegen-starred final plan exists only
    // after execution
    val df = SparkEntry.queries("p02_customer_slots")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("cluster_slot"), p)
    assert(p.linesIterator.exists(l => l.contains("cluster_slot") && l.contains("*(")), p)
  }
}
