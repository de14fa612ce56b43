package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/**
 * Regenerates PLANS.md: formatted physical plans of the headline queries
 * at sf0.01, with a one-line "what to look for" note per plan. The
 * machine-checked versions of these assertions live in PlanChecksSpec;
 * this report is for human plan review ("is this the plan you'd want at
 * 100×?").
 */
object PlanReport {

  /** (query, note) — ordered as rendered. */
  val sections: Seq[(String, String)] = Seq(
    "p02_customer_slots" ->
      "cluster expressions fused into the scan stage (codegen)",
    "p11_bucketed_coloc" ->
      "slot-bucketed scans feed the join with ZERO exchange (bucketed layout reused from disk); the only shuffle is the final 5-group agg",
    "p12_slot_throughput" ->
      "bulk hashing: scan -> project -> partial/final agg, one exchange",
    "a10_pricing_summary" ->
      "filter pushed to parquet, columns pruned, partial+final agg",
    "a11_segment_revenue" ->
      "lineitem pre-aggregated by orderkey before the join (shuffle carries one row per order), broadcast dimension",
    "a18_topk_orders" ->
      "top-k via TakeOrderedAndProject (no global sort)",
    "a33_asof_join" ->
      "composed as-of join: one window shuffle on the key",
    "d31_dedup_minhash" ->
      "MinHash: explode -> partial-agg signatures -> band-bucket join",
    "d33_ngram_jaccard" ->
      "inverted shingle index with df-first skew cap; candidate pairs from co-occurrence, no cross join",
    "d34_embed_neardup" ->
      "exact all-pairs as a block-pair equi-join (SortMergeJoin on the canonical block key) — no BroadcastNestedLoopJoin, no CartesianProduct",
    "s35_ann_brute" ->
      "broadcast query set, corpus stays partitioned",
    "d36_embed_neardup_lsh" ->
      "banded LSH near-dup: candidates from 8 equi-joined signature tables (shuffle carries 8-byte (tbl,sig) rows), vectors joined back only for surviving pairs — no pair scan",
    "s38_sessionize" ->
      "gaps-and-islands sessionization: ONE shuffle on user_id reused by both window passes and the final agg",
    "s39_ann_quantized" ->
      "int8-quantized ANN: quantization fused into each side's scan projection, broadcast query set, corpus stays partitioned",
    "d44_incremental_dedup" ->
      "incremental dedup: content semi-join + cross-side postings join only — the existing corpus is never self-joined",
    "p15_zorder_cells" ->
      "z-order keys: pure shift/mask integer ops inside the scan's codegen stage, one partial+final agg exchange",
    "t47_dup_ngrams" ->
      "duplicate-n-gram fraction: inverted shingle-hash index, map-combined df count, semi-join against the over-threshold vocabulary — linear, no pairwise work",
    "d45_temperature_sample" ->
      "temperature rebalancing: language-sized threshold aggregate BROADCAST back onto the scan; the corpus itself is never shuffled",
    "d47_winnow_pairs" ->
      "winnowed copy detection: candidates from fingerprint co-occurrence (semi-joined inverted index, df-capped); shared counts recomputed exactly from both docs' full sets",
    "s45_ann_ivfpq" ->
      "IVF-PQ: corpus carried as 8 codes/vector + coarse list id; candidates from the probe equi-join on list id (broadcast query probes), ADC ranks — no corpus cross join",
    "d50_bloom_dedup" ->
      "Bloom prefilter: the KB-sized bitmap is a broadcast scalar; the new batch probes k bits inside its scan's codegen stage — no join against the existing corpus",
    "a42_pagerank" ->
      "fixed-point PageRank: per-round edge-to-ranks equi-join + partial-aggregated inflow sum keyed on dst; edges/nodes reused from one persisted build",
    "a49_triangle_counts" ->
      "degree-ordered triangle enumeration: wedge build + closure probe are equi-joins over the persisted oriented edge list — no pair scan, fan-out bounded by the orientation",
    "a50_histogram" ->
      "two-pass histogram: 1-row min/max aggregate BROADCAST onto the value scan (BroadcastNestedLoop on a single row, not a shuffle), then one map-combined agg on the bucket key",
    "d51_corpus_merge" ->
      "incremental corpus merge: ONE full-outer SortMergeJoin on doc_id; both sides' derivations stay in their scan stages",
    "p16_reshard_matrix" ->
      "resharding plan: both node mappings (n=6 ranges, n=12 proportional) evaluate in the same scan codegen stage; one map-combined agg on a ≤72-cell key",
    "a56_lateral_topper" ->
      "correlated LATERAL LIMIT 1 decorrelated by Catalyst into a per-group top-1 join — no per-outer-row subquery execution",
    "a59_full_outer" ->
      "full outer join of two aggregates: each side partial-aggregates on the shared key before the FullOuter merge — the join shuffles one row per key per side",
    "a61_filtered_agg" ->
      "FILTER-clause conditional aggregates: all four computed in one scan + one partial/final agg exchange — no per-condition re-scan",
    "a66_recursive_spine" ->
      "recursive-CTE date spine: the 31-row recursion (UnionLoop) is driver-sized; one orders scan feeds the left-outer join (AQE broadcasts whichever side is small — orders at this SF, the spine at 100 TB)",
    "p17_dpp_join" ->
      "dynamic partition pruning: the fact scan's PartitionFilters carry a dynamicpruningexpression fed by the runtime-filtered dim — whole status directories are skipped per the dim's actual content",
    "d53_kmeans_clusters" ->
      "k-means cluster report: the fused CentroidArgmax picks each row's cluster inside the scan projection (the 16x64 matrix one plan Literal, no join against a centroid table) and the member cosine is one vec_dot against that centroid; the only exchange is the 16-group aggregation",
    "s56_retrieval_join" ->
      "retrieval join: the queries×k hit set is BROADCAST into the documents probe (BuildRight) — the corpus streams once with a pruned 4-column read schema, no corpus shuffle",
    "a73_latest_per_key" ->
      "changelog compaction: Partial+Final WindowGroupLimit forwards ONE row per key into the shuffle instead of sorting whole groups through it",
    "a74_skew_join_aqe" ->
      "AQE-native skew join: per-order pre-agg feeds a deliberately skewed SMJ; under bench thresholds AQE splits the straggler partition at map-output granularity (SortMergeJoin(skew=true), pinned in PlanChecksSpec). Validated at scale under STOCK AQE confs (r8, SCALING.md): at a generated sf20 (30M orders, ~24M rows on the hot key) the executed plan reads 'AQEShuffleRead coalesced and skewed' with SortMergeJoin(skew=true) and no threshold overrides; at sf1-sf10 the hot partition's compressed map-output size stays under the 256MB default threshold and the split correctly does not engage",
    "m56_png_decode" ->
      "REAL-codec decode: JDK PNG decode + resize + aHash fused into the scan stage as one codegen'd expression over the fixture parquet",
    "m57_png_neardup" ->
      "m53's banding machinery over REAL decoded bytes: 4x16-bit pigeonhole bands on PNG-decoded signatures, chunk-bucket equi-joins, never a pair scan",
    "d62_cluster_reps" ->
      "keep-best duplicate-cluster representative: map-side-combinable max(struct(quality, -id)) argmax per cluster — no corpus Window sort",
    "d66_dedup_digest" ->
      "production exact dedup: sha-256 digest + length computed scan-side, so the grouping exchange carries ~72-byte rows instead of document bodies (the d30 ground-truth form shuffles full text — ~150 MB of strings through one exchange at sf10; same-session pairs measure the digest form ~30% faster even on this corpus's short docs, with volume bounded by construction at any document length — SCALING.md r9)",
    "d67_cluster_reps_minhash" ->
      "production keep-best twin: the same component resolution + max-struct argmax as d62 fed by MinHash-LSH candidates (band-bucket equi-joins) instead of the exact-Jaccard Sigma-df2 candidate stage",
    "m59_png_palette_decode" ->
      "palette real-codec decode: indexed-PNG decode + PLTE expansion + per-channel grid sums + luminance aHash fused into the scan stage as one codegen'd expression",
    "s60_ann_ivf_persisted" ->
      "persisted IVF index: hive-partitioned inverted lists; the broadcast probe join on the partition column triggers dynamic partition pruning — only probed lists' directories are read",
    "s61_ann_index_append" ->
      "incremental index update: delta batch assigned with the frozen persisted centroids into its own partition layout; base UNION delta served with both scans pruned to the probed lists",
    "s65_ann_filtered" ->
      "metadata-filtered ANN: the label predicate rides the corpus side BEFORE probe/rank (filter-during-search) and reaches the parquet scan as PushedFilters In(label, ...) — row groups skip AND only probed lists scan",
    "d64_repeated_spans" ->
      "repeated-span exact-substring dedup: postings on 64-bit window fingerprints cross ONE exchange — cross-doc-ness decided in a single window pass (min(id) != max(id) per fingerprint group, spill-safe), then the per-doc running-max interval merge over only the marked positions; no pair space anywhere",
    "s66_pca_embed" ->
      "PCA projection: DECIMAL-exact moment aggregation (one explode + map-combined shuffle of 2144 cells), driver-side fixed-sweep Jacobi eigensolve, scan-local projection with the model as codegen literals",
    "s67_ann_pca" ->
      "PCA-shortlist ANN: reduced 8-double coordinates scanned for the cosine shortlist (corpus ~8x smaller than raw vectors), exact full-vector re-rank over the broadcast hit set — no corpus shuffle",
    "a75_sample_quantiles" ->
      "sampled quantiles: scan-local CRC slot selection (2% sample, no shuffle), exact interpolated percentiles of the sample per group — the bounded-flow quantile estimator",
    "d65_span_redact" ->
      "span redaction: removal positions exploded from the (output-sensitive) span set, exact (id,pos) LeftAnti equi-join — never a range/NLJ probe; reassembly groups only the AFFECTED docs' surviving tokens",
    "a76_hll_distinct" ->
      "full-oracle HLL: the hash evaluates in the scan stage; the 64-byte register sketch partial-aggregates map-side (ObjectHashAggregate), so the sketch's shuffle volume is constant per group at ANY corpus size — the exact-countDistinct rider contributes the distinct-rewrite's two exchanges",
    "m60_wav_decode" ->
      "REAL-codec audio decode: JDK RIFF/fmt parse + exact integer PCM features fused into the scan stage as one codegen'd expression over the fixture parquet",
    "s72_curate_index_serve" ->
      "the composed LLM-data arc — curate -> index -> serve: d68's seven-stage MinHash curation feeds the one-pass hashing-trick featurizer; the surviving chunk vectors are k-means-trained and persisted as a hive-partitioned IVF index digest-chained to the curation input (s60's export machinery over the curation OUTPUT); serving probes the first docs' surviving chunks with dynamic partition pruning skipping every unprobed list directory",
    "t52_ccnet_buckets" ->
      "the CCNet head/middle/tail split: t51's unigram cross-entropy feeds ntile(3) per language under a (score, doc_id) total order — one shuffle on lang + per-language sort; the production form at 100 TB derives the two cutoffs from a sample (a75's machinery) and assigns buckets scan-side against broadcast thresholds, with this exact form as its ground truth",
    "t53_ccnet_buckets_sampled" ->
      "t52's production form: the two cutoffs per language are DISCRETE rank statistics of a 25% slot-hash sample (the window sorts only the sample — cluster_slot sits below it in the plan), broadcast back (languages x 2 tuples) and applied by scan-side tuple comparison; no full-corpus sort anywhere, and the discrete cutoffs (no interpolation) are what lets the oracle recompute the decision bit-for-bit",
    "d76_domain_mixture_resample" ->
      "domain-mixture resample (the data-mixing stage between curation and packing): per-language token mass from one scan-local count + languages-sized aggregate; weights min(1,(T/L)/t_l) floored onto the slot grid broadcast back; membership is the family CRC slot hash evaluated scan-side — the corpus crosses no exchange for the join (BroadcastHashJoin pinned, no SortMergeJoin; null-safe stratum keys, so a failed-language-ID population meets its own weight)",
    "d77_mixture_epochs" ->
      "mixture EPOCHS — d76's upsampling counterpart and the one round-12 query that MULTIPLIES rows: the uncapped weight clamped at 4 epochs splits into floor(w) whole copies + a fractional-epoch slot test; explode(sequence(1, n_copies)) runs scan-side AFTER the broadcast weight join, so the row multiplication never crosses an exchange and the (doc_id, epoch) logical form defers physical copies to pack time",
    "t51_lm_perplexity" ->
      "CCNet-style LM perplexity scoring: the unigram table is vocabulary-sized and broadcasts; the observed-bigram table grows with corpus content and joins as the planner chooses (broadcast here, a model-keyed hash join at 100 TB — never pair-keyed); per-token log2 terms round to 9 dp and sum as DECIMAL(28,9), so the per-doc mean is order-independent and the oracle's from-scratch model rebuild hash-matches",
    "d72_embed_decontam" ->
      "embedding-space benchmark decontamination (the semantic sibling of the shingle-overlap form): the metadata-sized benchmark broadcasts into an ANTI nested-loop probe over ONE corpus scan — no shuffle, no pair materialization; corpus rows stream through their own mappers at any scale",
    "s73_curated_text_search" ->
      "the serving API's user-facing shape — TEXT query in, curated chunks out: literal query strings featurized with the index's own hashing-trick vectorizer; probe centroids selected DRIVER-side (the vectors come from a request, not a table) and pushed as a STATIC __cid IN (...) partition filter — planning-time pruning, no DPP machinery (which cannot fire from a LocalRelation probe side). nlist is OCCUPANCY-HELD with the SURVIVING CHUNK count, not the sf label (ivfListsFor — 32 lists at sf0.001's 281 chunks, 16 at sf0.01's 237: the two 500-doc corpora differ in text), so the static filter genuinely prunes (12 of 32 lists at sf0.001; non-vacuity pinned in PlanChecksSpec)",
    "s76_curated_search_refined" ->
      "two-stage retrieve-then-rerank serving over the curated index: the s73 coarse probe (static-IN pruned scan) nominates a 20-deep shortlist per query; the shortlist (queries x 20 — metadata-sized) BROADCASTS back into the SAME pruned scan, where the chunk TEXT stored in the index partitions is featurized at 4x the coarse width and re-ranked by exact cosine — refine cost is shortlist-sized, never corpus-sized, and no stage shuffles the corpus (no SortMergeJoin, pinned)",
    "d73_neardup_recall_held" ->
      "the recall-held production preset: same banded equi-join candidate shape as d36 but at the DERIVED three-knob config — corpus-sized bits (lshBitsFor), recall-holding table count (tablesForRecall, L=9 at this corpus), and distinct placement selected from the session's own broadcast regime (verify-then-distinct here: the vector build side broadcasts, so the only full-candidate-stream shuffle moves AFTER the map-side verify and carries theta-survivors only)",
    "d75_leakage_safe_split" ->
      "leakage-safe train/val/test split: duplicate CLUSTERS move as units — MinHash candidate equi-joins feed the component closure, every member inherits the split of its CLUSTER id's slot hash (scan-local projection; singletons degenerate to d52's per-doc split). One candidate join + O(log diameter) closure rounds; the pair space is never touched and the split assignment itself adds no shuffle",
    "d74_semantic_dedup_lsh" ->
      "d46's production twin: the same min-label-propagation component closure and survivor sizing, fed by the RECALL-HELD banded-LSH candidate stage (d73's derived config) instead of the exact block-pair join — candidates from L equi-joins on (table, signature), closure rounds on the output-sensitive pair set; nothing touches the n^2 pair space",
    "d79_source_overlap_minhash" ->
      "cross-source overlap matrix, production form: MinHash banded candidates (equi-join on (band, bucket)) exact-verified at theta=0.5, then TWO equi-joins attach sources to the output-sensitive pair set and fold it to a <=|sources|^2 matrix — per-pair counts halve the exploded endpoint rows, the strong tier compares in INTEGERS (5*inter >= 4*uni: 4/5 is not a double), nothing is corpus-quadratic; the oracle re-derives the BANDING itself in DuckDB (FNV shingle hashes, spliced permutation params, bands compared by value), so banding recall is hash-checked, not assumed — the exact twin d78 rides d33's inverted-index chain as ground truth",
    "s80_knn_label_eval_ivf" ->
      "embedding-quality eval, production form: leave-one-out 1-NN label agreement where EVERY vector is a query — the probed fraction nprobe/nlist dominates, so the quantizer is occupancy-held (ivfListsFor; the fixed-16 serving quantizer measurably LOSES to brute here at sf1, 58 vs 44 s, while the held one wins 32 vs 56 s); candidates are a list-bucketed equi-join (never all-pairs), top-1 by (sim DESC, nbr_id) through the BOUNDED TopKAgg buffers (rankAgg — no Window: the window form sorts the whole candidate stream, which at n=2M is ~8e9 rows and spilled past the disk; the buffers carry <=k rows per query per partition), and the labels-sized report folds map-side; the exact twin s79 is the recall-1 ground truth, ranked by the fused broadcast-query kernel (FusedTopK: one corpus scan scores every row against the broadcast query matrix into <=k primitive buffers per query, the driver merges the task partials — no pair rows, no join, no shuffle, so its visible plan is the local top-1 table joined to the labels); the oracle re-derives the probe path from spliced centroids",
    "s81_ann_ivf_table" ->
      "IVF serving at nlist=128 (4x past ivfListsFor's default cap): corpus assignment (CentroidArgmax) and per-query probe selection (CentroidProbes -> explode of a <=nprobe array) are fused loops in the scan projections with the matrix one plan Literal — no per-centroid structs, no centroid-table join, no row expansion; the only exchange is the list-id candidate equi-join; same spliced-centroid oracle as s37 (the key keeps its historical _table suffix)",
    "s82_knn_label_eval_table" ->
      "the leave-one-out eval at nlist=128: every vector is a query, probe selection is the fused CentroidProbes loop in the query scan (no row expansion for the corpus-sized query side) and the candidate join buckets by list id with the query side SHUFFLED, never broadcast (the s80 discipline); probed fraction 4/128, a 4x cut over s80's capped 32 lists; same spliced-centroid oracle recompute, so the reported accuracies are the 128-list probe's true numbers",
    "s83_ann_ivf_expr" ->
      "IVF serving at nlist=256: the whole centroid matrix rides the plan as ONE Literal (the PQ-codebook pattern) and enters generated code as a reference object, so corpus assignment (CentroidArgmax) and per-query probe selection (CentroidProbes -> explode of a <=nprobe array) are fused while-loops INSIDE the scan projection — no per-centroid structs (array_sort absent, spec-pinned), no x-nlist row expansion, no join-back; the only remaining exchange is the list-id candidate equi-join itself; same spliced-centroid oracle; same-session sf10 A/B against the retired centroid-table encoding: 3.5x on training, 1.9x on the corpus-sized eval",
    "d81_mixture_resample_weighted" ->
      "weighted-target mixture (DoReMi/Pile-style shares): identical broadcast-weights plan shape as d76 — one scan-local token count, a strata-sized aggregate with the share CASE chain, thresholds broadcast back, scan-side CRC membership; the corpus crosses no exchange for the join (BroadcastHashJoin pinned with d76/d77 in PlanChecksSpec), and the shared resample tail means the one-slot floor and null-stratum discipline are the same code path as the equal-share family",
    "d80_curation_funnel" ->
      "per-source curation funnel over the d48/d68 chain (quality -> exact dedup -> near-dup keepers -> decontamination): the stages are the chain's own corpus-sized work; the funnel tail adds only doc-id stage unions, ONE join to the (doc_id, source) projection, and a |sources|-row aggregate — attribution counting is free relative to cleaning, at any corpus size; near-dup candidates come from the MinHash production generator and the gate re-derives the banding in DuckDB (no corpus recall assumption)",
    "m62_jpeg_corpus_stats" ->
      "scaled media-decode family: one real-codec JPEG per document (5k/50k/500k payloads at sf0.1/1/10 in splittable non-coalesced files); decode + block sums + band verdicts evaluate in the scan stage and reduce through ONE map-side-combined aggregation — a single partial row per partition crosses the exchange at any corpus size",
    "m61_jpeg_decode" ->
      "LOSSY real-codec decode: JDK baseline-JPEG (DCT) decode + per-8x8-block integer sums fused into the scan stage as one codegen'd expression; the tolerance-band comparison against the pattern formula evaluates beside it in the same stage (the oracle asserts the bands hold — exact sums are impossible by construction)",
    "d68_training_minhash" ->
      "production training capstone: d48's seven stages with the component stage's candidates from the MinHash (band, bucket) equi-join instead of the sf10-infeasible exact Sigma-df2 stage; the visible plan is the post-checkpoint decontamination/rebalance/chunk chain — its one BroadcastNestedLoopJoin is the broadcast ONE-ROW temperature threshold (a50's mechanism), never a pair scan (candidate-join shape pinned separately in PlanChecksSpec)",
    "s85_ann_ivf_hier" ->
      "the HIERARCHICAL two-level tier (fourth tier, r13): BOTH matrices (coarse + fine) ride the plan as Literals and assignment/probe selection are fused two-level while-loops inside the scan projection (HierArgmax / HierProbes -> explode of a <=nprobe array) — per row ncoarse + cprobe*(nlist/ncoarse) cosines instead of nlist, the sqrt-law cut of the quantizer-scan term that dominates past ~10^10 vectors; no per-centroid structs (array_sort absent), no row expansion, no join-back, and the only exchange is the same list-id candidate equi-join as s83; the fine->coarse ownership map is DERIVED (argmax, ties->low kid) so the oracle re-derives it from the spliced VALUES and walks the whole two-level path — empty coarse cells never probed (spec-pinned), answers identical to the flat tier at cprobe=ncoarse (spec-pinned)",
    "s90_ann_ivf_prod" ->
      "PRODUCTION-NLIST persisted serving (r14): a 128-list expression-tier index read back from its hive-partitioned layout — probe selection is the fused CentroidProbes loop in the query scan's projection (the whole matrix one plan Literal, no per-centroid structs), and the broadcast probe join on the partition column injects dynamicpruningexpression on the index scan (the s60 mechanism, 8x past ivfListsFor's default cap): the session reads ~nprobe/nlist of the index directories and retrains nothing; the coarse matrix persists beside the fine one, so the same artifact also serves s91 (hier query walk) and s92 (pruned streaming topology, per-batch static-InSet pins in PlanChecksSpec)",
    "s91_ann_ivf_prod_hier" ->
      "the persisted production index behind the HIERARCHICAL query walk: assignment stays the build-time exact argmax (the index partitions ARE the assignment), queries run the fused two-level loop (HierProbes — ncoarse + cprobe*(nlist/ncoarse) cosines instead of nlist); the oracle re-derives the HYBRID path (flat assign + two-level probes) from the two spliced matrices — the best-quality production config: the build pays the flat scan once, every query pays the sqrt-law loop",
    "s93_ann_recall_held" ->
      "nprobe-for-recall (the d73 discipline for the IVF knob): nprobeForRecall derives the smallest nprobe holding recall@10 >= 0.7 by the measured audit — exact ground truth ONCE over the 5-query sample (localCheckpointed id pairs, metadata), each doubling pass reading the PERSISTED index with its own probed lists pruned (the index= parameter; an in-memory re-assignment is the fallback for un-persisted quantizers) — then the declared result serves the same index at the derived knob; the oracle re-derives BOTH rankings at the STASHED nprobe, so the derivation itself is hash-gated (gate corpus: nprobe=16 of 128, recall 0.78)",
    "s95_ann_ivf_prod_quantized" ->
      "QUANTIZED persisted serving with exact refine (the index-SIZE lever): the int8 sibling index stores vectors as array<tinyint> (lossless — exact integers in [-127,127]; measured 2.05x smaller than the float32 index at 20k vectors, 4x asymptotic on the data column) and widens back to double INSIDE the scan projection; candidates score by quantized cosine over the DPP-pruned list scan, then the refine-deep shortlist (queries x 20 id pairs — metadata) broadcasts into ONE full-precision corpus scan for the true-cosine re-rank (s62's hit-set fetch); assignment stayed full-precision at build, so the oracle re-derives flat assignment + probes from the spliced matrix, the int8 quantization in SQL, the quantized shortlist, and the exact re-rank",
    "s96_ann_index_refresh" ->
      "INDEX REFRESH (the lifecycle stage between append-forever and cold retrain): one warm-started Lloyd round over base UNION delta seeded from the persisted centroids — the round's plan is the SAME scan-local expression-tier assignment + (nlist x dim)-row update aggregate as the cold trainer (cost of one cold round; the saving is in ROUNDS, because the seed is already near the optimum), and serving from the refreshed matrix is the standard probe/rank shape; warm-from-firstN == cold is pinned bit-for-bit in spec, so refresh semantics cannot drift from the trainer family's",
    "s97_ann_ivf_gen2" ->
      "GEN2 REFRESH SERVING (r15 — the rewrite half s96 left open): the grown corpus re-assigned scan-locally under the warm-retrained matrix into a digest-chained gen2 layout (hive partition per list, refreshed fine+coarse matrices beside it), served through the SAME ivfTopKOnIndexByExpr shape — the broadcast probe join injects dynamicpruningexpression on the gen2 index scan (DPP fires THROUGH the union with the chained delta; pinned in PlanChecksSpec), the delta branch is a plain batch-sized scan, and guardedDeltaUnion REFUSES a delta stamped by any other generation before a single task launches (the staleness is loud, never a silently-wrong probe walk)",
    "s98_ann_serving_derived" ->
      "serving at the DERIVED knob (r15 — nprobeForRecall as the configuration path): the doubling audit reads the persisted index with each pass pruning to its own probed lists, then the declared serving query rides the s90 topology at exactly the derived nprobe — same DPP'd index scan, same fused probe loop, only the pruned set's size differs; the oracle re-derives the walk at the STASHED knob and the provenance spec pins served == derived",
    "s99_ann_ivf_gen2_hier" ->
      "hierarchical serving over GEN2 (gen1/gen2 tier parity): the refreshed coarse matrix persisted beside the fine one drives the fused two-level HierProbes loop in the query scan, over the same guarded base-union-delta frame the flat gen2 query serves — one refreshed artifact, both tiers, no retraining; the oracle walks the s91 hybrid path from the two spliced REFRESHED matrices over base + delta + delta2",
    "s100_ann_hier_derived" ->
      "fully-DERIVED hierarchical serving (the two-knob sizing flow): nprobeForRecall prices the fine knob on the persisted index, cprobeForRecall prices the coarse knob AT that nprobe via the hybrid walk over the SAME persisted layout (its index parameter — the audit prices exactly the path serving runs), and the query serves at the derived pair; the oracle re-derives the whole hybrid walk at the stashed (nprobe, cprobe) and the provenance spec pins both served knobs equal to the APIs' outputs",
    "s101_ann_ivf_gen3" ->
      "GEN3 ROLLOVER SERVING (r16 — the generation chain made inductive): gen3 is built FROM gen2's guarded served frame by the same rollGeneration construction that built gen2 from gen1 (warm Lloyd round seeded from gen2's matrix, scan-local re-assignment into hive-partitioned lists, stamp derived from gen2's stamp — so one base regeneration turns over base, gen2, gen3, and every chained delta in one sweep), the folded delta2 compacting away into gen3's clean lists; serving gen3 UNION its own gen3-stamped chained delta rides the identical topology — dynamicpruningexpression on the gen3 index scan through the guarded union (pinned in PlanChecksSpec), a gen2-stamped landing REFUSING before any task launches",
    "s104_ann_ivf_gen3_hier" ->
      "hierarchical serving over GEN3 (tier parity at the ROLLED link): rollGeneration persists the refreshed coarse matrix beside the fine one at EVERY link, so gen3 drives the fused two-level HierProbes loop over the same guarded gen3-union-delta frame the flat s101 serves — one artifact, both tiers, no retraining, at a generation built from the construction's own output; the oracle walks the s91/s99 hybrid path from the two spliced TWICE-refreshed matrices over all four corpus arms",
    "s105_ann_gen3_derived" ->
      "the ROLLED generation prices its own knob (lifecycle x configuration composed): a rollover replaces the quantizer, so gen1's audited nprobe is a measurement of a matrix gen3 no longer serves — nprobeForRecall re-runs against gen3's own guarded frame (ground truth over the gen3-served corpus; each doubling pass reads only its probed lists through the union) and the query serves gen3 at exactly that price, DPP on the gen3 scan as s101; the oracle re-derives the walk at the stashed per-generation knob and the provenance spec pins served == derived-on-gen3",
    "s106_ann_ivf_gen3_delete" ->
      "DELETE at the ROLLED link (the s103 verb at the generation the construction built from its own output, via the SAME generation-generic deletedServingFrame — nothing gen3-shaped in the verb): a SECOND independent retire rule (id = 3 mod 10) lands stamped with gen3's stamp and is anti-joined broadcast over the guarded gen3-union-delta frame, DPP kept on the gen3 scan; deletes STACK across links — the gen2 rule compacted away at the roll, this one is live at serve time, the next roll folds it out; tombstones name IDS, not an eternal predicate (delta3's post-rule ids rightly survive — spec-pinned)",
    "s103_ann_ivf_gen2_delete" ->
      "DELETE over the REFRESHED generation (r16 — s63's tombstone verb carried to gen2): retired ids land metadata-sized beside the generation STAMPED with gen2's stamp (a foreign-stamped set refuses to serve exactly as a foreign delta would), and serving anti-joins them broadcast over the guarded index-union-delta frame — the gen2 index scan KEEPS its dynamicpruningexpression under the delete (pinned in PlanChecksSpec), no index file is rewritten, and the oracle recomputes the walk over the SURVIVING corpus: deleting must equal never having indexed the rows",
    "t54_sequence_packing" ->
      "sequence packing (the batch-assembly stage): slot-hash shard assignment is scan-local codegen, the running token total is a per-SHARD window cumsum (nshards-way parallel — packing order is inherently sequential, so the shard IS the unit of parallelism; a global order would be one single-partition window), and the per-sequence manifest folds through one partial+final aggregation; docs are never split, a sequence overflows by at most one doc (spec-pinned bounds)",
    "d83_minhash_nonascii" ->
      "the ord-vs-bytes boundary EXERCISED: a deterministic code-point translation (a->ä e->é o->ß) makes the corpus non-ASCII, the MinHash kernel runs UNCHANGED (wordShingleHashes always folded UTF-8 bytes — scan-local shingle hashing, explode -> partial-agg signatures, (band,bucket) equi-join candidates, exact verify), and the ORACLE folds bytes too (hex-pair nibble decode in DuckDB), so the gate proves kernel byte-correctness on text where code points and bytes diverge — the asciiGuarded precondition on d75/d79/d80 marks ord-fold oracles, not a kernel limit",
  )

  /** Streaming queries: the memory-sink DataFrame the query map returns
    * shows only the sink scan, so these render the stream's OWN executed
    * plan (IncrementalExecution), captured by runToTable at run time —
    * (query, sink, note). */
  val streamingSections: Seq[(String, String, String)] = Seq(
    ("s77_stream_ann_serving", "s77_sink",
      "online ANN serving: query vectors arrive as a STREAM, the persisted IVF index is the static side — per batch, queries probe-assign via the fused CentroidProbes expression in the stream's scan projection, stream-static hash join on the list id, and the bounded TopKAgg keeps k rows of aggregation state per query (never the candidate stream); the oracle is the batch probe/rank recompute — streaming must not change the answer. NOTE: this topology rescans the WHOLE index per micro-batch (no cid pushdown from a stream side); s78 is the pruned production shape — its per-batch plans exist only inside foreachBatch, so the evidence is the programmatic pin (PlanChecksSpec s78: every batch's index scan carries a static __cid InSet equal to the driver-selected probe union, <= batch*nprobe of nlist)"),
    ("s68_stream_transitions", "s68_sink",
      "transformWithState delta transition counting: TransformWithStateExec over the RocksDB provider; per-user last-event ValueState bridges micro-batches, each batch emits delta counts"),
    ("s69_stream_semi_join", "s69_sink",
      "stream-stream LEFT SEMI: StreamingSymmetricHashJoin — each side buffers keyed state bounded by its watermark; clicks emit once on first proof of a matching purchase"),
    ("s70_stream_sessionize_timers", "s70_sink",
      "timer-driven sessionization: TransformWithStateExec in event-time mode — per-user open-session ValueState plus ONE registered timer; the r11 write discipline keeps 'state exists <=> one timer at lastSeen+gap' as an invariant, so the stale expiry is KNOWN (no listTimers scan) and delete+register fires only when the expiry moved; the watermark fires expiries at <="),
    ("s71_stream_transitions_warmstart", "s71_sink",
      "warm-start transitions: TransformWithStateExec seeded via handleInitialState from the batch frontier aggregation — the stream continues from history's frontier instead of replaying it"),
    ("s74_stream_type_counts", "s74_sink",
      "MapState running counts: TransformWithStateExec with PER-ENTRY map access (containsKey/getValue/updateValue) — each batch touches only the type entries it saw, never rewriting the user's whole map; RocksDB provider"),
    ("s75_stream_recent_events", "s75_sink",
      "ListState last-k recent events (the feature-store lookup shape): TWO composed state variables — the bounded list (at most k entries per user, ever) + a monotonic ValueState counter selecting each user's final emission; RocksDB provider"),
  )

  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries (sf0.01)\n\n")
    sb.append("Generated by `runMain graft.PlanReport`. What to look for per plan is noted\n")
    sb.append("inline; the machine-checked versions of these assertions live in PlanChecksSpec.\n")
    sections.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, sf)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n_${note}_\n\n```\n$formatted```\n")
    }
    streamingSections.foreach { case (name, sink, note) =>
      SparkEntry.queries(name)(spark, sf) // runs the real stream
      val p = graft.queries.StreamingQueries.capturedPlan(sink)
        .getOrElse(sys.error(s"no captured streaming plan for $sink"))
      val ops = graft.queries.StreamingQueries.capturedStateOperators(sink)
        .map { case (op, metrics) =>
          val rocksdb = if (metrics.exists(_.toLowerCase.contains("rocksdb")))
            " [RocksDB provider]" else ""
          s"$op$rocksdb" }.distinct.mkString(", ")
      sb.append(s"\n## $name (streaming)\n\n_${note}_\n\n")
      sb.append(s"State operators: $ops\n\n```\n$p\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${sections.size + streamingSections.size} plans)")
    spark.stop()
  }
}
