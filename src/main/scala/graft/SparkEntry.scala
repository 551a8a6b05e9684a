package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.ops.CoreQueries
import graft.spatial.{PipJoin, SpatialQueries}
import graft.text.{TextOps, Dedup}
import graft.ann.Ann
import graft.pipeline.{ImagePipeline, Validate}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Every operator from SURVEY.md §2 that is implemented has a `queries` entry;
  * SQL-expressible ones also carry a DuckDB oracle in [[oracleSql]] with
  * column names/types matched to the Spark output.
  */
object SparkEntry {
  import OracleSql.pts

  /** Flagship: the spatial-join + tiling pipeline over the synthesized
    * image+caption table (north_rule) — geotag derivation, H3/S2/quadkey cell
    * encode in mapPartitions, PIP join vs broadcast metro boundaries,
    * per-tile per-team rollup. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ImagePipeline.run(spark, n = 5000L, parts = 16)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // relational core (SURVEY.md §2.1-2.4)
    "q01_agg_pushdown" -> (CoreQueries.aggPushdown _),
    "q02_join_broadcast" -> (CoreQueries.joinBroadcast _),
    "q03_join_multi" -> (CoreQueries.joinMulti _),
    "q04_semi_anti" -> (CoreQueries.semiAnti _),
    // windows / event-stream semantics (§2.5)
    "q05_window_lead" -> (CoreQueries.windowLead _),
    "q06_lag_pairs" -> (CoreQueries.lagPairs _),
    "q07_minor_version" -> (CoreQueries.minorVersionCounter _),
    "q08_interactions_classify" -> (CoreQueries.interactionsClassify _),
    "q09_daily_rollup" -> (CoreQueries.dailyRollup _),
    "q10_rolling30" -> (CoreQueries.rolling30 _),
    "q11_cumsum" -> (CoreQueries.cumsum _),
    "q12_conditional_rollup" -> (CoreQueries.conditionalRollup _),
    // set ops / projections (§2.7, §2.2)
    "q13_layer_union" -> (CoreQueries.layerUnion _),
    "q14_dedup_precedence" -> (CoreQueries.dedupPrecedence _),
    "q15_token_counts" -> (CoreQueries.tokenCounts _),
    "q16_json_extract" -> (CoreQueries.jsonExtract _),
    // spatial engine (§2.3 J6/J7, §2.8 X8-X11)
    "q17_pip_join" -> (SpatialQueries.pipJoin _),
    // the same join through the NON-broadcast cell-cover equi-join plan
    "q50_pip_cell_join" -> (SpatialQueries.pipCellJoin _),
    "q18_tile_rollup" -> (SpatialQueries.tileRollup _),
    "q19_knn_hexring" -> (SpatialQueries.knnHexRing _),
    // spatial distance self-join: 3x3 tile-neighborhood candidates (z10) +
    // exact haversine verify — the geospatial LSH-tier shape; oracle is the
    // honest all-pairs distance join
    "q86_spatial_pairs" -> ((s: SparkSession, d: String) =>
      graft.spatial.DistanceJoin.pairsWithin(s, d)),
    "q20_haversine_tracks" -> (SpatialQueries.haversineTracks _),
    "q21_bbox_areas" -> (SpatialQueries.bboxAreas _),
    // training-data text ops
    "q22_quality" -> (TextOps.quality _),
    "q23_token_stats" -> (TextOps.tokenStats _),
    "q24_lang_id" -> (TextOps.langId _),
    "q25_exact_dedup" -> (Dedup.exactDupStats _),
    "q26_ngram_jaccard" -> ((s: SparkSession, d: String) => Dedup.ngramJaccard(s, d)),
    // gate entries run UNCAPPED (maxBucket off): their oracles are exact
    // all-pairs, and a finite default cap would silently diverge from them
    // as bucket sizes grow with the corpus. The hot-bucket caps are the
    // documented scale knob — bound adversarially in DedupHotBucketSpec.
    "q27_minhash_lsh" -> ((s: SparkSession, d: String) =>
      Dedup.minhashLsh(s, d, maxBucket = Int.MaxValue)),
    "q28_simhash" -> ((s: SparkSession, d: String) =>
      Dedup.simhashPairs(s, d, maxBucket = Int.MaxValue)),
    // the SAME pipelines through the PRODUCTION default caps: this corpus's
    // buckets sit below them (measured max: minhash 5, simhash 437 at sf0.1),
    // so capped must equal uncapped must equal the exact all-pairs oracle —
    // proving under the hash gate that the cap path is a no-op on benign
    // corpora, not just in the adversarial unit spec (round-3 verdict item)
    "q58_minhash_capped" -> ((s: SparkSession, d: String) => Dedup.minhashLsh(s, d)),
    "q59_simhash_capped" -> ((s: SparkSession, d: String) => Dedup.simhashPairs(s, d)),
    // dup-GROUP resolution: connected components (hash-min propagation) over
    // the verified minhash pair graph — the decision step of a dedup
    // pipeline, vs DuckDB's recursive-CTE transitive closure (the scope frees
    // the pair checkpoint once the components are built)
    "q63_dup_components" -> ((s: SparkSession, d: String) => CacheOps.scope(_ =>
      Dedup.dupComponents(Dedup.minhashLsh(s, d, maxBucket = Int.MaxValue)))),
    // the SAME components through the large/small-star contraction (the
    // long-chain scale path): third independent algorithm family against
    // the same recursive-CTE closure oracle
    "q67_dup_components_stars" -> ((s: SparkSession, d: String) => CacheOps.scope(_ =>
      Dedup.dupComponentsStars(Dedup.minhashLsh(s, d, maxBucket = Int.MaxValue)))),
    // the dedup DECISION list: components over the verified pair graph →
    // representative per group (most tokens, ties to lowest id) → per-doc
    // keep/drop verdict covering the WHOLE corpus (singletons keep=1); the
    // window runs only over dup-group members, never the full table
    "q70_dedup_decision" -> (Dedup.dedupDecision _),
    // substring-level exact dedup: documents sharing a verbatim k-token span
    // (hash-bucketed, df-capped at the PRODUCTION default; the oracle joins
    // span STRINGS — an independent representation vs the engine's hashes)
    "q71_span_dedup" -> ((s: SparkSession, d: String) => Dedup.spanDup(s, d)),
    // leakage-safe splits: train/val/test assigned per dup COMPONENT (a
    // near-duplicate of a training doc can never land in eval), splitmix
    // basis points of the salted component id
    "q72_leakage_safe_split" -> (Dedup.leakageSafeSplit _),
    // benchmark decontamination: train docs scored by shingle overlap vs the
    // broadcast eval set (doc_id < 25), flagged at >= 2000 bp — the
    // n-gram-overlap eval-leakage guard; map-side only, no pair shuffle
    "q74_decontaminate" -> ((s: SparkSession, d: String) => Dedup.decontaminate(s, d)),
    "q29_fingerprint" -> (TextOps.fingerprints _),
    // intra-document repetition filter: duplicate-bigram + top-token shares
    // (the quality gate cross-document dedup cannot express)
    "q68_repetition_filter" -> (TextOps.repetitionFilter(_, _)),
    // per-language exact quality percentiles (pretraining filter thresholds)
    "q51_quality_percentiles" -> (TextOps.qualityPercentiles _),
    "q52_quality_band_filter" -> (TextOps.qualityBandFilter _),
    "q53_mix_sample" -> (TextOps.mixSample _),
    "q54_mix_allocation" -> (TextOps.mixAllocation _),
    // exact-rational BM25 term salience (ln deliberately omitted — the
    // score is one 128-bit integer floor both engines replay exactly)
    "q80_bm25_top_terms" -> ((s: SparkSession, d: String) => TextOps.bm25TopTerms(s, d)),
    // exchange-free co-located join via bucketed layout (bucketBy both fact
    // tables on the order key, merge-hint join: zero shuffles below the
    // join — BucketedJoinSpec holds the plan differential vs plain reads)
    "q81_bucketed_join" -> ((s: SparkSession, d: String) =>
      graft.ops.BucketedJoin.bucketedOrderRevenue(s, d)),
    // distributed AS-OF join (union-tag + one keyed window: one shuffle, no
    // join explosion); oracle is DuckDB's native ASOF JOIN — a different
    // algorithm family agreeing row-for-row
    "q82_asof_join" -> ((s: SparkSession, d: String) =>
      graft.ops.AsofJoin.lastPurchase(s, d)),
    // KMV distinct sketch: k smallest distinct splitmix64 values + the
    // (k-1)*2^64/h_k estimate — integer-exact end to end, so the oracle
    // replays the WHOLE sketch (ranks, hashes, estimate) bit-for-bit
    "q83_kmv_distinct" -> ((s: SparkSession, d: String) =>
      graft.ops.Sketches.kmvDistinct(s, d)),
    // HyperLogLog register file + raw estimate — no distinct pass needed
    // (max absorbs duplicates); the one exchange is the m-row bucket rollup
    "q87_hll_distinct" -> ((s: SparkSession, d: String) =>
      graft.ops.Sketches.hllDistinct(s, d)),
    // binned range join: key+time-window theta-join rewritten as an equi
    // join on (user, ts div W) with 2-bin left explode; oracle runs the
    // honest inequality join (DuckDB IEJoin)
    "q84_range_join_binned" -> ((s: SparkSession, d: String) =>
      graft.ops.RangeJoin.priorActivity(s, d)),
    // salted replicated join: fact salted on a non-key attribute, dim
    // replicated S=8x, join on (key, salt) — hot-key defence; the oracle's
    // plain join proves salting is invisible to the relation
    "q85_salted_join" -> ((s: SparkSession, d: String) =>
      graft.ops.SaltedJoin.revenueByType(s, d)),
    // Bloom-pruned shuffle join: probe side pre-filtered by a from-scratch
    // broadcast bit array before the exchange; the oracle's plain join
    // proves pruning is invisible to the relation (no false negatives)
    "q88_bloom_join" -> ((s: SparkSession, d: String) =>
      graft.ops.BloomJoin.urgentRevenue(s, d)),
    // all four CUBE levels in one Expand+agg pass vs DuckDB's native CUBE
    "q89_cube_rollup" -> ((s: SparkSession, d: String) =>
      graft.ops.MultiRollup.volumeCube(s, d)),
    // gap-based sessionization: lag flag + running sum + rollup, one shuffle
    "q90_sessionize" -> ((s: SparkSession, d: String) =>
      graft.ops.Sessionize.sessions(s, d)),
    // Morton/z-order clustering key: literal-shift bit interleave (codegen),
    // rolled up by z-range bucket — the file-skipping layout primitive
    "q91_zorder" -> ((s: SparkSession, d: String) =>
      graft.spatial.ZOrder.mortonRollup(s, d)),
    // per-group top-k via bounded partial-aggregating heaps (the exchange
    // carries <= k rows per group per partition, never the input)
    "q92_topk_group" -> ((s: SparkSession, d: String) =>
      graft.ops.TopK.topCustomers(s, d)),
    // secondary sort + one-pass sorted-group iterator (mapPartitions tier)
    "q93_sorted_groups" -> ((s: SparkSession, d: String) =>
      graft.ops.SortedGroups.userSignatures(s, d)),
    // geohash (third index family): base32 prefix-containment cells
    "q94_geohash" -> ((s: SparkSession, d: String) =>
      graft.index.Geohash.prefixRollup(s, d)),
    // mergeable equi-width histogram quantiles, integer-exact end to end
    "q95_hist_quantile" -> ((s: SparkSession, d: String) =>
      graft.ops.HistQuantile.quantiles(s, d)),
    // KMV set ops: union + intersection estimates from the sketches alone
    "q96_kmv_intersect" -> ((s: SparkSession, d: String) =>
      graft.ops.Sketches.kmvIntersect(s, d)),
    // Count-Min frequency sketch: d×w counter sums + min-over-rows estimates
    "q97_countmin" -> ((s: SparkSession, d: String) =>
      graft.ops.CountMin.partkeyFreq(s, d)),
    // raster→vector tile mosaic: REAL PNG decode, 4 sampled pixels per image,
    // per-z12-tile brightness rollup vs the analytic pixel formula in SQL
    "q98_tile_mosaic" -> ((s: SparkSession, _: String) =>
      graft.multimodal.TileMosaic.mosaic(s)),
    // HLL sketches as GROUP columns: per-type distinct-user estimates from
    // one (group, bucket) aggregation — replaces G countDistinct jobs
    "q99_hll_per_group" -> ((s: SparkSession, d: String) =>
      graft.ops.Sketches.hllDistinctPerGroup(s, d)),
    // full outer join with BOTH null sides genuinely exercised
    "q100_outer_join" -> ((s: SparkSession, d: String) =>
      graft.ops.Reshape.outerCoverage(s, d)),
    // pivot∘unpivot == identity (explicit-values pivot; null cells drop)
    "q101_pivot_roundtrip" -> ((s: SparkSession, d: String) =>
      graft.ops.Reshape.pivotRoundtrip(s, d)),
    // densify to each user's daily grid + forward-fill across gap days
    "q102_resample_ffill" -> ((s: SparkSession, d: String) =>
      graft.ops.Resample.dailyFfill(s, d)),
    // two-epoch partial states merged (+ for sums, max for HLL registers)
    // must equal the oracle's FULL recompute — incremental ingestion algebra
    "q103_incremental_rollup" -> ((s: SparkSession, d: String) =>
      graft.ops.Incremental.mergedDailyRollup(s, d)),
    // deletion-neighborhood candidates + exact two-pointer verify vs the
    // honest all-pairs levenshtein<=1 oracle (different algorithm family)
    "q104_editdist_join" -> ((s: SparkSession, d: String) =>
      graft.ops.FuzzyJoin.nameNeighbors(s, d)),
    // higher-order array functions, left-to-right FP folds, e6-floored
    "q105_array_fns" -> ((s: SparkSession, d: String) =>
      graft.ops.ArrayFns.vectorStats(s, d)),
    // cohort-retention matrix; cohort derivation + activity join share one
    // user_id exchange
    "q106_cohort_retention" -> ((s: SparkSession, d: String) =>
      graft.ops.Analytics.cohortRetention(s, d)),
    // ordered view->click->purchase funnel as ONE per-user codegen fold;
    // oracle is a 3-stage correlated min-join chain (different family)
    "q107_funnel" -> ((s: SparkSession, d: String) =>
      graft.ops.Analytics.funnel(s, d)),
    // degree-oriented compact-forward triangle counting (wedge join bounded
    // by arboricity, not hub degree)
    "q108_triangles" -> ((s: SparkSession, _: String) =>
      graft.ops.Graph.triangleCounts(s)),
    // exact-integer PageRank, 10 rounds, one shuffle per round, flat lineage
    "q109_pagerank" -> ((s: SparkSession, _: String) =>
      graft.ops.Graph.pageRank(s)),
    // per-user EMA as an exact-integer left fold (Spark aggregate ==
    // DuckDB list_reduce)
    "q110_ema" -> ((s: SparkSession, d: String) =>
      graft.ops.Analytics.emaFold(s, d)),
    // PII detect + redact on a planted corpus; md5 of the redacted text
    // pins the exact replacement semantics cross-engine
    "q111_pii_scrub" -> ((s: SparkSession, d: String) =>
      TextOps.piiScrub(s, d)),
    // rectangle-overlap join via grid-cell-cover candidates vs the honest
    // all-pairs oracle (recall-1 proof, the q86 shape for 2-D extents)
    "q112_bbox_overlap" -> ((s: SparkSession, _: String) =>
      graft.spatial.BoxJoin.overlapJoin(s)),
    // 3x3 integer-kernel tile smoothing; map-side border replication, one
    // hash agg, no halo exchange
    "q113_tile_density" -> ((s: SparkSession, d: String) =>
      graft.spatial.BoxJoin.tileDensity(s, d)),
    // exact grouped lower-median + nearest-rank p90 in integer cents
    "q114_grouped_median" -> ((s: SparkSession, d: String) =>
      graft.ops.OrderStats.groupedMedian(s, d)),
    // distributed 2-D skyline: range-partitioned local scans + prefix-max
    // boundary filter (NOT a single-partition global window)
    "q115_skyline" -> ((s: SparkSession, d: String) =>
      graft.ops.OrderStats.skyline(s, d)),
    // full-frame brightness integral: EVERY pixel of every PNG row decoded
    // and summed, gated against the closed-form block oracle
    "q116_image_integral" -> ((s: SparkSession, _: String) =>
      graft.multimodal.Pyramid.imageIntegral(s)),
    // real 2x2 floor-mean downsample applied twice; both level sums gated
    "q117_pyramid" -> ((s: SparkSession, _: String) =>
      graft.multimodal.Pyramid.pyramidSums(s)),
    // per-image total variation from the decoded pixels, pair by pair —
    // the texture/flatness complexity score image filters threshold on
    "q152_image_tv" -> ((s: SparkSession, _: String) =>
      graft.multimodal.Pyramid.totalVariation(s)),
    // spatial sessionization / trajectory segmentation with exact-integer
    // per-segment path length
    // exact integer PIP join against the star-polygon family
    "q181_star_pip" -> ((s: SparkSession, d: String) =>
      graft.geo.StarPip.containJoin(s, d)),
    // histogram-equalization LUT (composes the decode histogram)
    "q179_equalization_lut" -> ((s: SparkSession, _: String) =>
      graft.multimodal.Pyramid.equalizationLut(s)),
    // exact z-score outliers (squared integer inequality, no sqrt)
    "q180_z_outliers" -> ((s: SparkSession, d: String) =>
      graft.ops.Outliers.zOutliers(s, d)),
    // watermark drop accounting (streaming semantics, batch-gated),
    // top-N + OTHERS rollup, exact weighted median
    "q176_watermark_audit" -> ((s: SparkSession, d: String) =>
      graft.ops.Lateness.watermarkAudit(s, d)),
    "q177_topn_others" -> ((s: SparkSession, d: String) =>
      graft.ops.Lateness.topNOthers(s, d)),
    "q178_weighted_median" -> ((s: SparkSession, d: String) =>
      graft.ops.Lateness.weightedMedian(s, d)),
    // bounded-hop SSSP (min-plus Bellman-Ford rounds), TWAP, dwell surface
    "q173_sssp" -> ((s: SparkSession, d: String) =>
      graft.ops.Sssp.boundedSssp(s, d)),
    "q174_twap" -> ((s: SparkSession, d: String) =>
      graft.ops.Sssp.twap(s, d)),
    "q175_tile_occupancy" -> ((s: SparkSession, d: String) =>
      graft.ops.Sssp.tileOccupancy(s, d)),
    // rendezvous sharding + resharding stability; longest-prefix-match join
    "q171_rendezvous" -> ((s: SparkSession, d: String) =>
      graft.ops.Sharding.rendezvous(s, d)),
    "q172_lpm_join" -> ((s: SparkSession, d: String) =>
      graft.ops.Sharding.lpmJoin(s, d)),
    // CUSUM change-point per type via the prefix identity (two windows,
    // no sequential fold)
    "q168_cusum" -> ((s: SparkSession, d: String) =>
      graft.ops.Changepoint.cusum(s, d)),
    // exact Spearman rank correlation (centered doubled mid-ranks)
    "q169_spearman" -> ((s: SparkSession, d: String) =>
      graft.ops.Changepoint.spearman(s, d)),
    // sorted-neighborhood ER blocking over the distributed ranking
    "q165_sorted_neighborhood" -> ((s: SparkSession, d: String) =>
      graft.ops.Blocking.sortedNeighborhood(s, d)),
    // feature-correlation matrix: one-pass integer moments + q154-style FP
    "q166_corr_matrix" -> ((s: SparkSession, d: String) =>
      graft.ops.Corr.corrMatrix(s, d)),
    // inverse-distance-weighted surface: integer weights, one exchange
    "q167_idw_surface" -> ((s: SparkSession, d: String) =>
      graft.spatial.BoxJoin.idwSurface(s, d)),
    // lag-1/lag-7 autocorrelation of daily counts (q166 FP discipline)
    "q188_autocorr" -> ((s: SparkSession, d: String) =>
      graft.ops.Changepoint.autocorr(s, d)),
    // local clustering coefficient (triangles over wedges, exact e6)
    "q187_clustering_coeff" -> ((s: SparkSession, _: String) =>
      graft.ops.Graph.clusteringCoeff(s)),
    // nearest (bidirectional) as-of join via the merged-stream double window
    "q186_nearest_asof" -> ((s: SparkSession, d: String) =>
      graft.ops.NearestAsof.nearestJoin(s, d)),
    // robust stats trio: grouped mode, tail expected shortfall, winsorized
    "q183_grouped_mode" -> ((s: SparkSession, d: String) =>
      graft.ops.Robust.groupedMode(s, d)),
    "q184_tail_shortfall" -> ((s: SparkSession, d: String) =>
      graft.ops.Robust.tailShortfall(s, d)),
    "q185_winsorized" -> ((s: SparkSession, d: String) =>
      graft.ops.Robust.winsorized(s, d)),
    // exact two-sample KS statistic (sup-norm drift, integer throughout)
    "q182_ks_drift" -> ((s: SparkSession, d: String) =>
      graft.ops.Drift.ksDrift(s, d)),
    // snapshot drift monitoring: exact total-variation distance per type
    "q163_tv_drift" -> ((s: SparkSession, d: String) =>
      graft.ops.Drift.tvDrift(s, d)),
    // distributed Gram matrix: per-partition outer-product fold, O(parts*d^2)
    // exchange regardless of row count
    "q164_gram_matrix" -> ((s: SparkSession, d: String) =>
      graft.ann.Gram.gramUpper(s, d)),
    // Douglas-Peucker trajectory simplification, integer-exact split test
    "q162_douglas_peucker" -> ((s: SparkSession, d: String) =>
      graft.spatial.Simplify.douglasPeucker(s, d)),
    // market-basket pair rules: in-basket self-join, support + exact lift
    "q161_basket_rules" -> ((s: SparkSession, d: String) =>
      graft.ops.Baskets.pairRules(s, d)),
    // raster CCL: real union-find flood fill vs the analytic block-graph
    // closure
    "q170_blob_count" -> ((s: SparkSession, _: String) =>
      graft.multimodal.Pyramid.blobCount(s)),
    // per-image pixel histogram from real decode, closed-form gated
    "q158_pixel_histogram" -> ((s: SparkSession, _: String) =>
      graft.multimodal.Pyramid.pixelHistogram(s)),
    // model-eval pair: threshold-sweep confusion metrics + exact integer AUC
    "q159_threshold_sweep" -> ((s: SparkSession, d: String) =>
      graft.ops.MlEval.thresholdSweep(s, d)),
    "q160_auc_exact" -> ((s: SparkSession, d: String) =>
      graft.ops.MlEval.aucExact(s, d)),
    // storage-layer trio: encoding advisor, zone-map skip simulator,
    // Merkle range-digest table diff
    "q155_encoding_advisor" -> ((s: SparkSession, d: String) =>
      graft.ops.Storage.encodingAdvisor(s, d)),
    "q156_zonemap_sim" -> ((s: SparkSession, d: String) =>
      graft.ops.Storage.zoneMapSim(s, d)),
    "q157_merkle_diff" -> ((s: SparkSession, d: String) =>
      graft.ops.Storage.merkleDiff(s, d)),
    // shoelace polygon measures, fully unrolled into codegen arithmetic:
    // exact-integer area/centroid + the FP-disciplined perimeter
    "q154_polygon_measures" -> ((s: SparkSession, d: String) =>
      graft.geo.Polygons.polygonMeasures(s, d)),
    // PBSM segment-intersection join: integer orientation predicates,
    // min-corner duplicate avoidance (no post-join distinct)
    "q153_segment_intersections" -> ((s: SparkSession, d: String) =>
      graft.spatial.SegmentJoin.intersectionCounts(s, d)),
    "q118_stay_segments" -> ((s: SparkSession, d: String) =>
      graft.ops.Sessionize.staySegments(s, d)),
    // time-travel read of the epoch-checkpointed store: as-of filter is a
    // partition-column predicate -> epoch-1 dirs pruned before any scan
    "q119_time_travel" -> ((s: SparkSession, _: String) =>
      graft.pipeline.Checkpoint.timeTravelGate(s)),
    // compaction planning: per-bucket running-size threshold, one exchange
    "q120_compaction_plan" -> ((s: SparkSession, _: String) =>
      graft.ops.Lakehouse.compactionPlan(s)),
    // MERGE-style CDC apply (latest-op-wins; merge-on-read resolution)
    "q121_cdc_merge" -> ((s: SparkSession, _: String) =>
      graft.ops.Lakehouse.mergeApply(s)),
    // SCD2 validity intervals from the CDC stream
    "q122_scd2" -> ((s: SparkSession, _: String) =>
      graft.ops.Lakehouse.scd2(s)),
    // change feed between base and merged snapshots (insert/delete/update)
    "q123_change_feed" -> ((s: SparkSession, _: String) =>
      graft.ops.Lakehouse.changeFeed(s)),
    // word-bigram MLE quality scoring: train once, broadcast the vocab-sized
    // model, score map-side in exact integers
    "q124_bigram_lm" -> ((s: SparkSession, d: String) =>
      TextOps.bigramLm(s, d)),
    // k-core via iterative peeling on the fixed-point driver; loud
    // non-convergence refusal
    "q125_kcore" -> ((s: SparkSession, _: String) =>
      graft.ops.Graph.kCore(s)),
    // inverted-index build + conjunctive AND-query over posting lists
    "q126_inverted_query" -> ((s: SparkSession, d: String) =>
      TextOps.invertedQuery(s, d)),
    // adaptive quadtree: hot coarse tiles refine to the finer level; ONE
    // pass over points, coarse = rollup of fine
    "q127_adaptive_tiles" -> ((s: SparkSession, d: String) =>
      graft.spatial.BoxJoin.adaptiveTiles(s, d)),
    // grouped least-squares trend as exact integer moments + rational slope
    "q128_grouped_trend" -> ((s: SparkSession, d: String) =>
      graft.ops.Analytics.groupedTrend(s, d)),
    // exact set-similarity join via prefix filtering (recall 1 by theorem,
    // proven against the honest all-pairs oracle)
    "q129_prefix_filter_join" -> ((s: SparkSession, d: String) =>
      Dedup.prefixFilterJoin(s, d)),
    // first-order Markov transition matrix, e6 row-normalized
    "q130_markov" -> ((s: SparkSession, d: String) =>
      graft.ops.Analytics.markovTransitions(s, d)),
    // grid-density clustering (grid-DBSCAN): hot tiles + 4-adjacency
    // components via the shared label-propagation engine
    "q131_grid_clusters" -> ((s: SparkSession, d: String) =>
      graft.spatial.BoxJoin.gridClusters(s, d)),
    // term association (lift) in exact e6 integers
    "q132_term_lift" -> ((s: SparkSession, d: String) =>
      TextOps.termLift(s, d)),
    // per-dimension min-max feature scaling with integer checksums
    "q133_minmax_scale" -> ((s: SparkSession, d: String) =>
      graft.ops.ArrayFns.minMaxScale(s, d)),
    // robust MAD anomaly counts per group (exact integer order statistics)
    "q134_mad_anomalies" -> ((s: SparkSession, d: String) =>
      graft.ops.Analytics.madAnomalies(s, d)),
    // TPC-H Q3 shape: broadcast dim, pushed date filters, one fact exchange
    "q135_shipping_priority" -> (CoreQueries.shippingPriority _),
    // TPC-H Q5 shape: local-supplier volume, all dims broadcast
    "q136_local_volume" -> (CoreQueries.localSupplierVolume _),
    // first-touch attribution over 30-min sessions, one user_id exchange
    "q137_attribution" -> ((s: SparkSession, d: String) =>
      graft.ops.Analytics.firstTouchAttribution(s, d)),
    // equi-depth decile binning x class mix via DISTRIBUTED global ranking
    // (range partition + zipWithIndex, never a single-task window)
    "q138_decile_class_mix" -> ((s: SparkSession, d: String) =>
      graft.ops.OrderStats.decileClassMix(s, d)),
    // per-user sequence-pattern counts (MATCH_RECOGNIZE shape, one fold)
    "q139_seq_patterns" -> ((s: SparkSession, d: String) =>
      graft.ops.Analytics.sequencePatterns(s, d)),
    // bitmap-index intersection cardinalities (packed 64-bit words)
    "q140_bitmap_intersect" -> ((s: SparkSession, d: String) =>
      graft.ops.Sketches.bitmapIntersect(s, d)),
    // RFM quintile segmentation via three distributed rankings
    "q141_rfm" -> ((s: SparkSession, d: String) =>
      graft.ops.OrderStats.rfmScores(s, d)),
    // tree depths via pointer jumping: O(log depth) self-join rounds vs
    // the oracle's sequential recursive chase
    "q142_tree_depths" -> ((s: SparkSession, _: String) =>
      graft.ops.Graph.treeDepths(s)),
    // interval coalescing (merge-overlaps, containment-safe running max)
    "q143_interval_merge" -> ((s: SparkSession, d: String) =>
      graft.ops.Sessionize.intervalCoalesce(s, d)),
    // rolling 7-day distinct users via presence replication (distinct is
    // not algebraic; replicate before the shuffle, never rescan per day)
    "q144_rolling_distinct" -> ((s: SparkSession, d: String) =>
      graft.ops.Analytics.rollingDistinct(s, d)),
    // deterministic stratified k-sample (hash-coin reproducible)
    "q145_stratified_sample" -> ((s: SparkSession, d: String) =>
      graft.ops.Analytics.stratifiedSample(s, d)),
    // share-of-total + cumulative Lorenz share over the rollup relation
    "q146_share_of_total" -> ((s: SparkSession, d: String) =>
      graft.ops.Analytics.shareOfTotal(s, d)),
    // temporal validity join: probes matched to the SCD2 version at time t
    "q147_temporal_join" -> ((s: SparkSession, _: String) =>
      graft.ops.Lakehouse.temporalJoin(s)),
    // key-skew profiler (top-k mass / Lorenz stats) via distributed ranking
    "q148_skew_profile" -> ((s: SparkSession, d: String) =>
      graft.ops.OrderStats.skewProfile(s, d)),
    // Gini split statistics (exact rational impurity, no logs, no FP)
    "q149_gini_splits" -> ((s: SparkSession, d: String) =>
      graft.ops.Analytics.giniSplits(s, d)),
    // incident-after-action correlation join (keyed + time-window residual)
    "q150_event_correlation" -> ((s: SparkSession, d: String) =>
      graft.ops.Analytics.eventCorrelation(s, d)),
    // the north-star composition: real pixel decode x broadcast-boundary
    // PIP x per-team rollup, one operator
    "q151_metro_brightness" -> ((s: SparkSession, _: String) =>
      graft.multimodal.MetroBrightness.layer(s)),
    // ANN over embeddings
    "q30_ann_brute" -> ((s: SparkSession, d: String) => Ann.bruteTopK(s, d)),
    // metadata-FILTERED vector search: top-k restricted to label = 3; the
    // predicate reaches the parquet scan (filter-then-search, not post-
    // filtering which can return < k under selective filters)
    "q76_ann_filtered" -> ((s: SparkSession, d: String) => Ann.filteredTopK(s, d)),
    // kNN-graph construction: every vector's exact top-4 neighbors via the
    // q44 triangle block decomposition with per-vector bounded heaps — the
    // exchange after the quadratic is N·blocks·k rows, never N²
    "q77_knn_graph" -> ((s: SparkSession, d: String) => Ann.knnGraph(s, d)),
    // IMAGE near-dup by perceptual hash: pigeonhole segment join + exact
    // bit_count verify over the planted analytic corpus (n scale-coupled to
    // the documents table); the oracle is candidate-free all-pairs, so the
    // hash proves the bucketed path's recall is exactly 1.0 at ham<=3.
    // corpus materialized once — consumed by both sides of the segment join
    "q78_phash_neardup" -> ((s: SparkSession, d: String) => CacheOps.scope(c =>
      graft.multimodal.PhashDedup.phashNearDupPairs(c.checkpoint(
        graft.multimodal.PhashDedup.plantedPhashCorpus(
          s, graft.Session.table(s, d, "documents").count()))))),
    // per-image dedup decision + caption-conflict flag (components over the
    // phash pair graph; conflicts = near-dup images with disagreeing
    // captions — label noise to quarantine, not silently dedup)
    "q79_phash_dup_decisions" -> ((s: SparkSession, d: String) => CacheOps.scope(c =>
      graft.multimodal.PhashDedup.phashDupDecisions(c.checkpoint(
        graft.multimodal.PhashDedup.plantedPhashCorpus(
          s, graft.Session.table(s, d, "documents").count()))))),
    "q31_ann_lsh" -> ((s: SparkSession, d: String) => Ann.lshTopK(s, d)),
    // IVF through its inverted-list plan at FULL probe: every list is
    // scanned, so the relation must equal brute-force exactly (q30's oracle)
    "q55_ann_ivf" -> ((s: SparkSession, d: String) =>
      Ann.ivfTopK(s, d)),
    // embedding-cosine near-dup: dedup-grade exact pair extraction over the
    // embeddings table (block-pair partitioned all-pairs; the LSH prefilter
    // tier and when it applies are documented in Ann.cosineNearDupPairs)
    "q44_embed_neardup" -> ((s: SparkSession, d: String) => Ann.cosineNearDupPairs(s, d)),
    // int8 scalar-quantized exhaustive top-k (the SQ8 memory tier: 64 bytes
    // + 2 doubles per stored vector); the oracle replays quantization,
    // reconstruction and scoring, AnnSpec pins recall vs full precision
    "q66_ann_sq8" -> ((s: SparkSession, d: String) => Ann.sqTopK(s, d)),
    // IVF routing composed over the SQ8 index (the FAISS IVFx,SQ8 family) at
    // FULL probe: every inverted list is scanned, so the relation must equal
    // exhaustive SQ8 search exactly — q66's replica oracle reused verbatim
    // (the q55 plan-equivalence pattern); partial-probe recall is pinned in
    // AnnSparkSpec on planted clusters
    "q69_ann_ivf_sq8" -> ((s: SparkSession, d: String) =>
      Ann.ivfSqTopK(s, d)),
    // product quantization trained on the e6 integer lattice: every Lloyd
    // sum is exact integer arithmetic (merge-order-free at any parallelism),
    // so the ENTIRE pipeline — training included — replays in the oracle
    "q75_ann_pq" -> ((s: SparkSession, d: String) => Ann.pqTopK(s, d)),
    // SemDeDup (cluster-then-dedup over embeddings) at nlist = 1: a single
    // cluster cannot change the answer, so the verdict list must equal exact
    // all-pairs semantic dedup (closure oracle); the clustered path's
    // recall-on-separated-clusters is pinned in AnnSparkSpec
    "q73_semdedup" -> ((s: SparkSession, d: String) => Ann.semDedup(s, d)),
    // the LSH near-dup TIER — the documented scale path of q44 — under
    // PRODUCTION defaults (64-bit sigs, 8x8-bit bands, hot-bucket cap 64) on
    // the planted corpus where θ=0.95 gives LSH certifiable recall; the
    // oracle is exact all-pairs cosine over the replicated corpus, so the
    // hash proves tier == exact (recall 1.0 through the bucketed path)
    // the ~460 KB planted corpus is materialized once: the tier consumes it
    // three times (banding + both sides of the vector join-back), and
    // re-running the generator through every consumer tripled the plan and
    // dominated the gate's wall time (8.2 s -> see PLANS.md r5)
    "q65_ann_neardup_lsh_tier" -> ((s: SparkSession, _: String) => CacheOps.scope(c =>
      Ann.cosineNearDupLshTier(c.checkpoint(Ann.plantedNearDupVecs(s))))),
    // image pipeline (north_rule flagship; input synthesized deterministically)
    "q32_image_tile_pivot" -> ((s: SparkSession, _: String) =>
      ImagePipeline.run(s, ImagePipeline.GateRows, ImagePipeline.GateParts)),
    // the same rollup with teams DISCOVERED dynamically via pivot() over the
    // typed Dataset path — must agree with q32's codegen path and the oracle
    "q38_team_pivot_dynamic" -> ((s: SparkSession, _: String) =>
      ImagePipeline.tileTeamPivotDynamic(PipJoin.join(
        ImagePipeline.features(s, ImagePipeline.GateRows, ImagePipeline.GateParts).toDF(),
        ImagePipeline.metroBoundaries, "lon", "lat"))),
    // the FULL tilePointSummaries measure matrix: tile totals + dynamic
    // per-team km/b/p/e pivot + team_sum rollups (extractor.js:279-313)
    "q45_tile_measure_matrix" -> ((s: SparkSession, _: String) =>
      ImagePipeline.tileMeasureMatrix(s)),
    // userDailyPointSummaries through the typed WeightedCentroid Aggregator
    "q46_centroid_agg" -> ((s: SparkSession, _: String) =>
      ImagePipeline.userDailyCentroidGate(s)),
    // geojsonseq sink: emit real feature lines, parse back, content invariants
    "q47_geojson_sink" -> ((s: SparkSession, d: String) =>
      graft.geo.GeoJson.roundTripSummary(graft.spatial.SpatialQueries.eventPoints(s, d))),
    // LSH recall vs exact brute, measured in-gate (self-certifies q31)
    "q48_ann_lsh_recall" -> ((s: SparkSession, d: String) => Ann.lshRecall(s, d)),
    // per-tile inverse-mercator centers (X9, turf.center of the tile polygon)
    "q56_tile_centers" -> ((s: SparkSession, _: String) =>
      ImagePipeline.tileCenters(s)),
    // teamDailyPointSummaries: the per-(team, day) centroid + e/b/km/p
    // measures layer (extractor.js:241-275) — the last reference rollup layer
    "q60_daily_point_summaries" -> ((s: SparkSession, _: String) =>
      ImagePipeline.dailyPointSummaries(s)),
    // objects layer as per-feature emission with the short-key projection,
    // round-tripped through the REAL geojsonseq sink (extractor.js:164-192)
    "q61_object_features" -> ((s: SparkSession, _: String) =>
      ImagePipeline.objectFeatures(s)),
    // checkpoint lineage manifests (S9): a full checkpointed build into a
    // fresh scratch dir, manifests emitted as rows and hash-verified against
    // the analytic bucket/cell-range/row-count derivation
    "q62_checkpoint_lineage" -> ((s: SparkSession, _: String) =>
      graft.pipeline.Checkpoint.lineageGate(s)),
    // append-only incremental ingestion (epoch-scoped manifests): epoch 0
    // builds [0, 500), the input grows by [500, 800), an incremental run
    // ingests exactly the new epoch and a re-run is a no-op — the emitted
    // (epoch, bucket) manifests hash against the analytic derivation over
    // the full grown domain
    "q64_checkpoint_append" -> ((s: SparkSession, _: String) =>
      graft.pipeline.Checkpoint.appendGate(s)),
    // multi-zoom tile emission (zoom-band layers): bit-shift parent chain
    "q49_multizoom_rollup" -> ((s: SparkSession, _: String) =>
      ImagePipeline.multiZoomRollup(s)),
    "q33_image_validate" -> ((s: SparkSession, _: String) =>
      Validate.summary(ImagePipeline.synthTable(s, ImagePipeline.GateRows,
        ImagePipeline.GateParts).toDF())),
    // full reference classifier over the closed-form synthetic versions table;
    // map columns canonicalized to sorted k=v strings so the ENTIRE classifier
    // output (incl. tag diffs, latch, normalized-equality effects) is oracle-
    // hashable — the DuckDB oracle re-derives every column analytically
    "q34_interactions_versions" -> ((s: SparkSession, _: String) => {
      import org.apache.spark.sql.functions._
      import graft.ops.Interactions
      Interactions.classify(Interactions.synthVersions(s).toDF()).select(
        col("id"), col("etype"), col("v"), col("uid"), col("c"), col("e"),
        col("vs"), col("vu"), col("duid"), col("mv"),
        Interactions.mapToStr(col("a_a")).as("a_a_s"),
        Interactions.modToStr(col("a_m")).as("a_m_s"),
        Interactions.mapToStr(col("a_d")).as("a_d_s"),
        col("sq").isNotNull.as("has_sq"),
        Interactions.mapToStr(col("current_tags")).as("current_tags_s"))
    }),
    // A12 edit-class counters: per-class rollup of the classifier stream
    "q57_edit_class_counts" -> ((s: SparkSession, _: String) => {
      import org.apache.spark.sql.functions._
      graft.ops.Interactions.classify(graft.ops.Interactions.synthVersions(s).toDF())
        .groupBy(col("e"))
        .agg(count(lit(1)).as("n"), countDistinct(col("id")).as("n_entities"))
    }),
    // map-column tag-KEY predicates end-to-end (SURVEY F1: tag filters on map
    // columns): filter the versions table on map_contains_key, roll up by type
    "q39_tag_key_filter" -> ((s: SparkSession, _: String) => {
      import org.apache.spark.sql.functions._
      graft.ops.Interactions.synthVersions(s).toDF()
        .filter(map_contains_key(col("tags"), "restriction") ||
          map_contains_key(col("tags"), "k2"))
        .groupBy(col("etype"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("id")).as("n_entities"),
          max(col("version")).as("max_v"))
    }),
    // roster join with uid-over-handle precedence + per-contributor windows
    "q35_roster_rollup" -> (graft.ops.Roster.rosterRollup _),
    // exact centroid per user over the event point cloud (column algebra;
    // the Aggregator variant is golden-tested in PipelineSpec)
    "q36_centroid" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      SpatialQueries.eventPoints(s, d).groupBy(col("user_id")).agg(
        count(lit(1)).as("n"),
        floor(sum(floor(col("lon") * 1e6 + 0.5).cast("long")) / count(lit(1))).cast("long").as("c_lon_e6"),
        floor(sum(floor(col("lat") * 1e6 + 0.5).cast("long")) / count(lit(1))).cast("long").as("c_lat_e6"))
    }),
    // changesets pipeline over the deterministic fixture (values pinned)
    // enhanced 15-header changeset form: @u_* per-user aggregate columns
    // appear iff the `days` header exists (map-changeset-parser.js:63-70)
    "q40_changesets_enhanced" -> ((s: SparkSession, _: String) => {
      import org.apache.spark.sql.functions._
      graft.ops.Changesets.enhancedFixture(s).select(
        col("cs_id"), col("uid"), col("user"), col("hot"), col("ts"), col("num_changes"),
        col("u_changesets"), col("u_sum_changes"), col("u_first_edit"),
        col("u_latest_edit"), col("u_days_editing"))
    }),
    // F2: case-insensitive tag-KEY resolution via a dictionary LIKE lookup
    // (AdvTagTranslator.java:37-38,60-73): resolve pattern 'K%' against the
    // distinct-key dictionary, then filter/rollup rows by resolved keys
    "q41_key_like_resolution" -> ((s: SparkSession, _: String) => {
      import org.apache.spark.sql.functions._
      val versions = graft.ops.Interactions.synthVersions(s).toDF()
      val dict = versions.select(explode(map_keys(col("tags"))).as("key")).distinct()
      val pattern = "K%".toLowerCase // case-insensitive: both sides lowered
      val resolved = dict.filter(lower(col("key")).like(pattern))
      val exploded = versions.select(explode(map_keys(col("tags"))).as("key"))
      exploded.join(broadcast(resolved), Seq("key"))
        .groupBy(col("key")).agg(count(lit(1)).as("n_rows"))
    }),
    // old-schema temporal interval filters (docs/js/map.js:244-271): the
    // viewer's MV_BEFORE / MV_AFTER / DELETION layers re-expressed — minor
    // edits expand into before/after features with valid-interval bounds,
    // then each layer's range predicate applies
    "q43_interval_filters" -> ((s: SparkSession, _: String) => {
      import org.apache.spark.sql.functions._
      val inter = graft.ops.Interactions.classify(
        graft.ops.Interactions.synthVersions(s).toDF())
      val (start, end) = (graft.ops.Interactions.IntervalStart, graft.ops.Interactions.IntervalEnd)
      val mv = inter.filter(col("e") === "MIV")
      val before = mv.select(lit("MV_BEFORE").as("edit"),
        lit(null).cast("long").as("valid_since"), col("vs").as("valid_until"))
      val after = mv.select(lit("MV_AFTER").as("edit"),
        col("vs").as("valid_since"), col("vu").as("valid_until"))
      val del = inter.filter(col("e") === "DEL").select(lit("DELETION").as("edit"),
        col("vs").as("valid_since"), col("vu").as("valid_until"))
      val feats = before.unionByName(after).unionByName(del)
      feats.filter(
        (col("edit") === "MV_BEFORE" && col("valid_until") > start) ||
        (col("edit") === "MV_AFTER" && col("valid_since") >= start && col("valid_since") < end) ||
        (col("edit") === "DELETION" && col("valid_until") > start && col("valid_until") < end))
        .groupBy(col("edit")).agg(count(lit(1)).as("n"),
          min(col("valid_until")).as("min_until"), max(col("valid_until")).as("max_until"))
    }),
    // J8: changeset↔object join by changeset id — objects enriched with their
    // changeset's aggregate properties (the reference joins QA-tile features
    // to changeset metadata via @c), then rolled up
    "q42_changeset_object_join" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      val ev = graft.Session.table(s, d, "events")
        .withColumn("ts_s", floor(unix_timestamp(col("ts"))).cast("long"))
        .withColumn("day", floor(col("ts_s") / 86400).cast("long"))
        .withColumn("cs", col("user_id") * 100000L + col("day"))
      val cs = ev.groupBy(col("cs")).agg(
        count(lit(1)).as("num_changes"), min(col("ts_s")).as("created_at"))
      ev.join(cs.filter(col("num_changes") >= 5), Seq("cs"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_objects"),
          countDistinct(col("cs")).as("n_big_changesets"),
          min(col("created_at")).as("first_created"))
    }),
    "q37_changesets" -> ((s: SparkSession, _: String) => {
      import org.apache.spark.sql.functions._
      graft.ops.Changesets.fixture(s).select(
        col("cs_id"), col("uid"), col("user"), col("geom_type"), col("hot"),
        size(col("hashtags")).as("n_hashtags"),
        coalesce(get(col("hashtags"), lit(0)), lit("")).as("first_hashtag"),
        col("ts"), col("num_changes"),
        floor(log10(greatest(col("area_km2"), lit(0.001)))).cast("long").as("area_mag"))
    })
  )

  private val tsS = "floor(epoch(ts))::BIGINT"
  private val evWin = "PARTITION BY user_id ORDER BY ts_s, event_id"
  /** Brute-force cosine top-k via DuckDB's own cosine — shared by q30 (the
    * brute plan) and q55 (IVF at full probe), which MUST be the same
    * relation; one definition enforces that by construction. */
  private val bruteTopKOracle =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < ${Ann.Q}),
         d AS (SELECT q.qid, v.vec_id, list_cosine_similarity(q.qe, v.e) AS c FROM v CROSS JOIN q),
         r AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rk FROM d)
         SELECT qid, vec_id, rk::INT AS rank FROM r WHERE rk <= ${Ann.K}"""

  /** q76: the brute oracle restricted to label = 3 candidates (queries stay
    * the global first-5 vectors — the filter constrains CANDIDATES). */
  private val filteredTopKOracle =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < ${Ann.Q}),
         f AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE label = 3),
         d AS (SELECT q.qid, f.vec_id, list_cosine_similarity(q.qe, f.e) AS c FROM f CROSS JOIN q),
         r AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rk FROM d)
         SELECT qid, vec_id, rk::INT AS rank FROM r WHERE rk <= ${Ann.K}"""

  /** q77: all-pairs kNN graph — the q44 left-to-right cosine kernel over
    * every ordered pair (self excluded), top-4 per vector by
    * (cos DESC, nbr). The engine computes the same relation through the
    * triangle block decomposition + per-group bounded heaps. */
  private val knnGraphOracle = {
    def dot(a: String, b: String) =
      s"list_reduce(list_transform(range(1, 65), i -> ($a)[i] * ($b)[i]), (x, y) -> x + y)"
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e, sqrt(${dot("embedding::DOUBLE[]", "embedding::DOUBLE[]")}) AS n FROM embeddings),
       d AS (SELECT l.vec_id, r.vec_id AS nbr, ${dot("l.e", "r.e")} / (l.n * r.n) AS c
             FROM v l JOIN v r ON l.vec_id <> r.vec_id),
       rk AS (SELECT vec_id, nbr, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, nbr) AS rank FROM d)
       SELECT vec_id, nbr, rank::INT AS rank FROM rk WHERE rank <= ${Ann.GraphK}"""
  }

  /** ALL-PAIRS exact Jaccard over string shingles — shared verbatim by q27
    * (uncapped LSH pipeline) and q58 (the same pipeline under the production
    * default caps), which must be the same relation on a benign corpus; one
    * definition enforces that by construction. */
  private val minhashAllPairsOracle =
    s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                  unnest(list_transform(range(1, len(toks)-1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
                FROM t WHERE len(toks) >= 3),
         n AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY 1),
         inter AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*)::BIGINT AS common
                   FROM sh l JOIN sh r ON l.g=r.g AND l.doc_id < r.doc_id
                   GROUP BY 1,2)
         SELECT i.a, i.b, i.common,
           floor(i.common * 10000.0 / (na.n_sh + nb.n_sh - i.common))::BIGINT AS j_bp
         FROM inter i JOIN n na ON i.a=na.doc_id JOIN n nb ON i.b=nb.doc_id
         WHERE floor(i.common * 10000.0 / (na.n_sh + nb.n_sh - i.common)) >= ${Dedup.MinhashMinBp}"""

  /** DuckDB recursive-CTE transitive closure over the exact minhash pair
    * graph — the components oracle shared by q63 (hash-min) and q67
    * (large/small-star), which must be the same relation by definition. */
  private val dupComponentsClosureOracle =
    s"""WITH RECURSIVE pairs AS ($minhashAllPairsOracle),
       e AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs),
       verts AS (SELECT DISTINCT u AS doc_id FROM e),
       reach(doc_id, r) AS (
         SELECT doc_id, doc_id FROM verts
         UNION
         SELECT e.u, reach.r FROM e JOIN reach ON reach.doc_id = e.v
       ),
       lab AS (SELECT doc_id, min(r) AS label FROM reach GROUP BY 1)
       SELECT label AS component, count(*)::BIGINT AS n_docs, max(doc_id)::BIGINT AS max_doc
       FROM lab GROUP BY 1"""

  /** Dedup DECISION oracle (q70): the same recursive-CTE closure as the
    * components oracles, extended to the per-document verdict — every
    * document labeled by its component (own id when unlabeled), the
    * representative elected by (n_tokens DESC, doc_id) per component. The
    * engine computes components by label propagation and the election by a
    * window over dup members only; the oracle re-derives BOTH from scratch
    * (closure + a window over the full table), so agreement pins the
    * decision list end to end. */
  private val dedupDecisionOracle =
    s"""WITH RECURSIVE pairs AS ($minhashAllPairsOracle),
       e AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs),
       verts AS (SELECT DISTINCT u AS doc_id FROM e),
       reach(doc_id, r) AS (
         SELECT doc_id, doc_id FROM verts
         UNION
         SELECT e.u, reach.r FROM e JOIN reach ON reach.doc_id = e.v
       ),
       lab AS (SELECT doc_id, min(r) AS label FROM reach GROUP BY 1),
       d AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents),
       m AS (SELECT d.doc_id, coalesce(lab.label, d.doc_id) AS component, d.n_tokens
             FROM d LEFT JOIN lab ON d.doc_id = lab.doc_id),
       rk AS (SELECT doc_id, component, n_tokens,
                row_number() OVER (PARTITION BY component ORDER BY n_tokens DESC, doc_id) AS r
              FROM m)
       SELECT doc_id, component, n_tokens,
         (CASE WHEN r = 1 THEN 1 ELSE 0 END)::BIGINT AS keep FROM rk"""

  /** Decontamination oracle (q74): the engine's 8-byte shingle hashes are
    * replaced by shingle STRINGS (independent representation, catches 64-bit
    * collisions); short docs (< w tokens) contribute their whole token
    * sequence as their one degenerate shingle, mirroring
    * Dedup.shingleHashes. */
  private val decontaminateOracle =
    s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
       sh AS (SELECT DISTINCT doc_id, unnest(CASE WHEN len(toks) >= 3
                THEN list_transform(range(1, len(toks)-1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                ELSE [array_to_string(toks, ' ')] END) AS g
              FROM t),
       ev AS (SELECT DISTINCT g FROM sh WHERE doc_id < ${Dedup.EvalMax}),
       n AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh WHERE doc_id >= ${Dedup.EvalMax} GROUP BY 1),
       ov AS (SELECT s.doc_id, count(*)::BIGINT AS n_overlap
              FROM sh s JOIN ev ON s.g = ev.g WHERE s.doc_id >= ${Dedup.EvalMax} GROUP BY 1)
       SELECT n.doc_id, n.n_sh, coalesce(ov.n_overlap, 0)::BIGINT AS n_overlap,
         (coalesce(ov.n_overlap, 0) * 10000 // n.n_sh)::BIGINT AS overlap_bp,
         (CASE WHEN coalesce(ov.n_overlap, 0) * 10000 // n.n_sh >= ${Dedup.ContaminatedBp}
               THEN 1 ELSE 0 END)::BIGINT AS contaminated
       FROM n LEFT JOIN ov ON n.doc_id = ov.doc_id"""

  /** Leakage-safe split oracle (q72): closure → component per document →
    * the same salted splitmix basis points ((mix(component+salt) &
    * 0x7FFFFFFF) % 10000, the q53 replica) → split thresholds. Same-split-
    * per-component holds by construction on both sides; the hash pins it. */
  private val leakageSafeSplitOracle = {
    val bp = s"(${OracleSql.mix("(component + 7777777)::UBIGINT")} & 2147483647) % 10000"
    s"""WITH RECURSIVE pairs AS ($minhashAllPairsOracle),
       e AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs),
       verts AS (SELECT DISTINCT u AS doc_id FROM e),
       reach(doc_id, r) AS (
         SELECT doc_id, doc_id FROM verts
         UNION
         SELECT e.u, reach.r FROM e JOIN reach ON reach.doc_id = e.v
       ),
       lab AS (SELECT doc_id, min(r) AS label FROM reach GROUP BY 1),
       m AS (SELECT d.doc_id, coalesce(lab.label, d.doc_id) AS component
             FROM documents d LEFT JOIN lab ON d.doc_id = lab.doc_id),
       h AS (SELECT doc_id, component, ($bp)::BIGINT AS h_bp FROM m)
       SELECT doc_id, component, h_bp,
         CASE WHEN h_bp < 9000 THEN 'train' WHEN h_bp < 9500 THEN 'val'
              ELSE 'test' END AS split
       FROM h"""
  }

  /** Duplicated-span oracle (q71): k-token windows materialized as STRINGS
    * (the engine exchanges only 8-byte hashes — joining the strings here is
    * the independent representation that would catch a 64-bit collision
    * instead of inheriting it), the same document-frequency cap, distinct
    * shared spans counted per pair. */
  private val spanDupOracle = {
    val (k, maxDf) = (Dedup.SpanTokens, Dedup.SpanMaxDf)
    s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
       w AS (SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(toks) - ${k - 2}),
                 p -> array_to_string(list_slice(toks, p, p + ${k - 1}), ' '))) AS span
             FROM t WHERE len(toks) >= $k),
       dfok AS (SELECT span FROM w GROUP BY span HAVING count(*) <= $maxDf),
       wc AS (SELECT doc_id, w.span FROM w JOIN dfok ON w.span = dfok.span)
       SELECT l.doc_id AS a, r.doc_id AS b, count(*)::BIGINT AS n_spans
       FROM wc l JOIN wc r ON l.span = r.span AND l.doc_id < r.doc_id
       GROUP BY 1, 2"""
  }

  /** Full FNV/bit-vote simhash recomputation + all-pairs hamming — shared by
    * q28 (uncapped) and q59 (default caps), same construction as above. */
  private val simhashAllPairsOracle =
    s"""WITH ${OracleSql.simhashCte},
         p AS (SELECT l.doc_id AS a, r.doc_id AS b, bit_count(xor(l.sh, r.sh))::INT AS ham
               FROM sim l JOIN sim r ON l.doc_id < r.doc_id)
         SELECT a, b, ham FROM p WHERE ham <= 3"""

  def oracleSql: Map[String, String] = Map(
    "q01_agg_pushdown" ->
      """SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n,
         sum(floor(l_quantity*100.0+0.5)::BIGINT)::BIGINT AS qty_cents,
         sum(floor(l_extendedprice*100.0+0.5)::BIGINT)::BIGINT AS price_cents
         FROM lineitem WHERE l_quantity > 5.0 GROUP BY 1,2""",
    "q02_join_broadcast" ->
      """SELECT r_name, n_name, count(*)::BIGINT AS n_cust,
         sum(floor(c_acctbal*100.0+0.5)::BIGINT)::BIGINT AS acctbal_cents
         FROM customer JOIN nation ON c_nationkey=n_nationkey JOIN region ON n_regionkey=r_regionkey
         GROUP BY 1,2""",
    "q03_join_multi" ->
      """SELECT c_mktsegment, count(*)::BIGINT AS n_lines,
         sum(floor(l_extendedprice*(1.0-l_discount)*100.0+0.5)::BIGINT)::BIGINT AS revenue_cents
         FROM lineitem JOIN orders ON l_orderkey=o_orderkey JOIN customer ON o_custkey=c_custkey
         GROUP BY 1""",
    "q04_semi_anti" ->
      """SELECT c_nationkey,
         sum(CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_with_orders,
         sum(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_without_orders
         FROM customer c LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o ON c.c_custkey=o.o_custkey
         GROUP BY 1""",
    "q05_window_lead" ->
      s"""WITH e AS (SELECT *, $tsS AS ts_s FROM events)
         SELECT user_id, event_id, ts_s AS vs, lead(ts_s) OVER ($evWin) AS vu FROM e""",
    "q06_lag_pairs" ->
      """WITH l AS (SELECT l_orderkey, l_suppkey,
           lag(l_suppkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_suppkey) AS prev_supp
         FROM lineitem)
         SELECT l_suppkey, prev_supp, count(*)::BIGINT AS n_interactions
         FROM l WHERE prev_supp IS NOT NULL GROUP BY 1,2 HAVING count(*) > 1""",
    "q07_minor_version" ->
      s"""WITH e AS (SELECT *, $tsS AS ts_s FROM events),
         s AS (SELECT user_id, event_id, ts_s,
           sum(CASE WHEN event_type IN ('signup','purchase') THEN 1 ELSE 0 END)
             OVER ($evWin ROWS UNBOUNDED PRECEDING)::BIGINT AS mv_seg
         FROM e)
         SELECT user_id, event_id, mv_seg,
           (row_number() OVER (PARTITION BY user_id, mv_seg ORDER BY ts_s, event_id) - 1)::INT AS mv
         FROM s""",
    "q08_interactions_classify" ->
      s"""WITH e AS (SELECT *, $tsS AS ts_s FROM events),
         w AS (SELECT user_id, event_id, event_type, ts_s,
           row_number() OVER ($evWin) AS rn, lead(ts_s) OVER ($evWin) AS vu_next FROM e)
         SELECT user_id, event_id,
           CASE WHEN rn=1 THEN 'CRE' WHEN event_type='error' THEN 'DEL'
                WHEN event_type IN ('signup','purchase') THEN 'MAV' ELSE 'MIV' END AS e,
           ts_s AS vs,
           CASE WHEN rn<>1 AND event_type='error' THEN ts_s+1 ELSE vu_next END AS vu,
           rn::INT AS v
         FROM w""",
    "q09_daily_rollup" ->
      s"""SELECT floor(floor(epoch(ts))/86400)::BIGINT AS day, count(*)::BIGINT AS n_edits,
         count(DISTINCT user_id)::BIGINT AS n_users,
         round(sum(floor(value*100.0+0.5)::BIGINT)::DOUBLE / count(*) / 100.0, 4) AS mean_value
         FROM events GROUP BY 1""",
    "q10_rolling30" ->
      """WITH d AS (SELECT floor(floor(epoch(ts))/86400)::BIGINT AS day, count(*)::BIGINT AS n
           FROM events GROUP BY 1)
         SELECT day, n, round(avg(n) OVER (ORDER BY day ROWS BETWEEN 29 PRECEDING AND CURRENT ROW), 4) AS rolling30
         FROM d""",
    "q11_cumsum" ->
      """WITH d AS (SELECT floor(floor(epoch(ts))/86400)::BIGINT AS day, count(*)::BIGINT AS n
           FROM events GROUP BY 1)
         SELECT day, n, sum(n) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_n FROM d""",
    "q12_conditional_rollup" ->
      """SELECT floor(floor(epoch(ts))/86400)::BIGINT AS day,
         sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END)::BIGINT AS clicks,
         sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END)::BIGINT AS views,
         sum(CASE WHEN event_type='purchase' THEN floor(value*100.0+0.5)::BIGINT ELSE 0 END)::BIGINT AS purchase_cents,
         count(*)::BIGINT AS edits
         FROM events GROUP BY 1""",
    "q13_layer_union" ->
      """SELECT floor(floor(epoch(ts))/86400)::BIGINT AS key, count(*)::BIGINT AS n, 'daily' AS layer FROM events GROUP BY 1
         UNION ALL
         SELECT user_id AS key, count(*)::BIGINT AS n, 'user' AS layer FROM events GROUP BY 1""",
    "q14_dedup_precedence" ->
      s"""WITH e AS (SELECT *, $tsS AS ts_s FROM events),
         r AS (SELECT user_id, event_id, ts_s, row_number() OVER ($evWin) AS rn FROM e)
         SELECT user_id, event_id AS first_event, ts_s AS first_ts FROM r WHERE rn=1""",
    "q15_token_counts" ->
      """SELECT lower(tok) AS tok, count(*)::BIGINT AS n
         FROM (SELECT unnest(string_split(text,' ')) AS tok FROM documents)
         WHERE length(tok) >= 5 GROUP BY 1 HAVING count(*) > 10""",
    "q16_json_extract" ->
      """SELECT event_type, count(*)::BIGINT AS n,
         sum(CAST(json_extract_string(props,'k') AS INT))::BIGINT AS sum_k,
         max(CAST(json_extract_string(props,'k') AS INT))::INT AS max_k
         FROM events GROUP BY 1""",
    "q17_pip_join" ->
      s"""WITH p AS ($pts),
         t AS (SELECT user_id,
           CASE WHEN lon > -179.505 AND lon < -100.505 AND lat > -89.5 AND lat < -30.5 THEN 'box_a'
                WHEN lon > -60.505 AND lon < 20.495 AND lat > -20.5 AND lat < 30.5 THEN 'box_b'
                WHEN lon > 60.495 AND lon < 169.495 AND lat > 35.5 AND lat < 60.5 THEN 'box_c'
                WHEN lon > 30.25 AND lat > -80.5 AND lat < -80.5 - (2.0/7.0)*(lon-170.25) THEN 'tri_d'
                ELSE NULL END AS boundary_id
         FROM p)
         SELECT boundary_id, count(*)::BIGINT AS n_points, count(DISTINCT user_id)::BIGINT AS n_users
         FROM t WHERE boundary_id IS NOT NULL GROUP BY 1""",
    // q50 must reproduce q17's relation exactly through the other plan
    "q50_pip_cell_join" ->
      s"""WITH p AS ($pts),
         t AS (SELECT user_id,
           CASE WHEN lon > -179.505 AND lon < -100.505 AND lat > -89.5 AND lat < -30.5 THEN 'box_a'
                WHEN lon > -60.505 AND lon < 20.495 AND lat > -20.5 AND lat < 30.5 THEN 'box_b'
                WHEN lon > 60.495 AND lon < 169.495 AND lat > 35.5 AND lat < 60.5 THEN 'box_c'
                WHEN lon > 30.25 AND lat > -80.5 AND lat < -80.5 - (2.0/7.0)*(lon-170.25) THEN 'tri_d'
                ELSE NULL END AS boundary_id
         FROM p)
         SELECT boundary_id, count(*)::BIGINT AS n_points, count(DISTINCT user_id)::BIGINT AS n_users
         FROM t WHERE boundary_id IS NOT NULL GROUP BY 1""",
    "q18_tile_rollup" ->
      s"""WITH p AS ($pts)
         SELECT least(63, greatest(0, floor((lon+180.0)/360.0*64)::INT))::INT AS tx,
                least(63, greatest(0, floor((90.0-lat)/180.0*64)::INT))::INT AS ty,
           sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END)::BIGINT AS n_click,
           sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END)::BIGINT AS n_view,
           sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchase,
           count(*)::BIGINT AS n_total
         FROM p GROUP BY 1,2""",
    "q19_knn_hexring" ->
      s"""WITH p AS ($pts),
         q(qid, qlon, qlat) AS (VALUES (1,-120.0,-60.0),(2,0.0,0.0),(3,100.0,40.0),(4,-30.0,10.0),(5,160.0,-70.0)),
         d AS (SELECT q.qid, p.event_id AS pid,
                 (p.lon-q.qlon)*(p.lon-q.qlon)+(p.lat-q.qlat)*(p.lat-q.qlat) AS d2
               FROM p CROSS JOIN q),
         r AS (SELECT qid, pid, row_number() OVER (PARTITION BY qid ORDER BY d2, pid) AS rk FROM d)
         SELECT qid::BIGINT AS qid, pid, rk::INT AS rank FROM r WHERE rk <= 5""",
    "q20_haversine_tracks" ->
      s"""WITH p AS ($pts),
         l AS (SELECT user_id, lon, lat, lag(lon) OVER w AS plon, lag(lat) OVER w AS plat
               FROM p WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
         s AS (SELECT user_id,
           2*6371.0088*asin(least(1.0, sqrt(
             sin(((lat-plat)/180.0)*pi()/2)*sin(((lat-plat)/180.0)*pi()/2) +
             cos((plat/180.0)*pi())*cos((lat/180.0)*pi()) *
             sin(((lon-plon)/180.0)*pi()/2)*sin(((lon-plon)/180.0)*pi()/2)))) AS seg_km
           FROM l WHERE plon IS NOT NULL)
         SELECT user_id, count(*)::BIGINT AS n_segs,
           round(sum(floor(seg_km*1000.0)::BIGINT)::DOUBLE/1000.0, 3) AS track_km
         FROM s GROUP BY 1""",
    "q21_bbox_areas" ->
      s"""WITH p AS ($pts),
         b AS (SELECT user_id, min(lon) AS w, max(lon) AS e, min(lat) AS s, max(lat) AS n
               FROM p GROUP BY 1),
         a AS (SELECT user_id, w, e, s, n,
           abs((
             ((e/180.0)*pi() - (w/180.0)*pi()) * (2.0 + sin((s/180.0)*pi()) + sin((s/180.0)*pi())) +
             ((e/180.0)*pi() - (e/180.0)*pi()) * (2.0 + sin((s/180.0)*pi()) + sin((n/180.0)*pi())) +
             ((w/180.0)*pi() - (e/180.0)*pi()) * (2.0 + sin((n/180.0)*pi()) + sin((n/180.0)*pi())) +
             ((w/180.0)*pi() - (w/180.0)*pi()) * (2.0 + sin((n/180.0)*pi()) + sin((s/180.0)*pi())) +
             0.0
           ) * 6378137.0 * 6378137.0 / 2.0) / 1e6 AS area_km2
           FROM b)
         SELECT user_id,
           floor(w*1000000.0+0.5)::BIGINT AS min_lon_e6, floor(e*1000000.0+0.5)::BIGINT AS max_lon_e6,
           s::BIGINT AS min_lat, n::BIGINT AS max_lat,
           floor(log10(greatest(area_km2, 1.0)))::BIGINT AS area_mag
         FROM a""",
    "q22_quality" ->
      """WITH t AS (SELECT doc_id, text, string_split(text,' ') AS toks FROM documents)
         SELECT doc_id, length(text)::INT AS n_chars, len(toks)::INT AS n_tokens,
           len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at','by')))::INT AS n_stopwords,
           floor((length(text) - len(toks) + 1) * 100.0 / len(toks))::BIGINT AS mean_tok_len_c,
           floor(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at','by'))) * 10000.0 / len(toks))::BIGINT AS stop_bp,
           len(list_filter(toks, x -> length(x) >= 8))::INT AS n_long_tokens
         FROM t""",
    "q23_token_stats" ->
      """SELECT doc_id, len(string_split(text,' '))::INT AS ws_tokens,
         ceil(length(text)/4.0)::BIGINT AS bpe_est,
         len(list_distinct(string_split(text,' ')))::INT AS distinct_tokens
         FROM documents""",
    "q54_mix_allocation" ->
      """WITH p AS (SELECT source, count(*)::BIGINT AS n_docs,
           sum(len(string_split(text,' ')))::BIGINT AS src_tokens
         FROM documents GROUP BY 1),
         t AS (SELECT *, (SELECT sum(src_tokens) FROM p)::BIGINT AS total_tokens,
                 (SELECT count(*) FROM p)::BIGINT AS n_sources FROM p)
         SELECT source, n_docs, src_tokens,
           ((total_tokens // 2) // n_sources)::BIGINT AS budget_share,
           least(10000, (((total_tokens // 2) // n_sources) * 10000) // src_tokens)::BIGINT AS rate_bp
         FROM t""",
    "q53_mix_sample" ->
      s"""WITH d AS (SELECT source, doc_id::UBIGINT AS x FROM documents),
         h AS (SELECT source, (${OracleSql.mix("x")} & 2147483647) % 10000 AS h_bp,
                 10000 - CAST(substr(source, 4) AS BIGINT) * 450 AS rate_bp
               FROM d)
         SELECT source, count(*)::BIGINT AS n_kept, min(rate_bp)::BIGINT AS rate_bp,
           max(h_bp)::BIGINT AS max_h_bp
         FROM h WHERE h_bp < rate_bp GROUP BY 1""",
    "q52_quality_band_filter" ->
      """WITH t AS (SELECT lang, doc_id, source, string_split(text,' ') AS toks FROM documents),
         b AS (SELECT lang, doc_id, source,
           floor(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at','by'))) * 10000.0 / len(toks))::BIGINT AS stop_bp
         FROM t),
         th AS (SELECT lang,
           floor(quantile_cont(stop_bp, 0.1) * 1000000.0 + 0.5)::BIGINT AS p10_e6,
           floor(quantile_cont(stop_bp, 0.9) * 1000000.0 + 0.5)::BIGINT AS p90_e6
         FROM b GROUP BY 1)
         SELECT b.lang, count(*)::BIGINT AS n_kept, count(DISTINCT b.source)::BIGINT AS n_sources,
           min(b.stop_bp)::BIGINT AS min_bp, max(b.stop_bp)::BIGINT AS max_bp
         FROM b JOIN th ON b.lang = th.lang
         WHERE b.stop_bp * 1000000 >= th.p10_e6 AND b.stop_bp * 1000000 <= th.p90_e6
         GROUP BY 1""",
    "q51_quality_percentiles" ->
      """WITH t AS (SELECT lang, string_split(text,' ') AS toks FROM documents),
         b AS (SELECT lang,
           floor(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at','by'))) * 10000.0 / len(toks))::BIGINT AS stop_bp
         FROM t)
         SELECT lang, count(*)::BIGINT AS n_docs,
           floor(quantile_cont(stop_bp, 0.1) * 1000000.0 + 0.5)::BIGINT AS p10_e6,
           floor(quantile_cont(stop_bp, 0.5) * 1000000.0 + 0.5)::BIGINT AS p50_e6,
           floor(quantile_cont(stop_bp, 0.9) * 1000000.0 + 0.5)::BIGINT AS p90_e6
         FROM b GROUP BY 1""",
    "q24_lang_id" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text,' ') AS toks FROM documents),
         h AS (SELECT doc_id, lang AS true_lang,
           len(list_filter(toks, x -> lower(x) IN ('der','die','das','und','ist','ein')))::INT AS hits_de,
           len(list_filter(toks, x -> lower(x) IN ('the','and','of','to','is','with')))::INT AS hits_en,
           len(list_filter(toks, x -> lower(x) IN ('el','la','los','y','de','es')))::INT AS hits_es,
           len(list_filter(toks, x -> lower(x) IN ('le','la','les','et','de','un')))::INT AS hits_fr
         FROM t)
         SELECT doc_id, true_lang,
           CASE WHEN greatest(hits_de,hits_en,hits_es,hits_fr)=0 THEN 'und'
                WHEN hits_de=greatest(hits_de,hits_en,hits_es,hits_fr) THEN 'de'
                WHEN hits_en=greatest(hits_de,hits_en,hits_es,hits_fr) THEN 'en'
                WHEN hits_es=greatest(hits_de,hits_en,hits_es,hits_fr) THEN 'es'
                ELSE 'fr' END AS pred_lang,
           hits_de, hits_en, hits_es, hits_fr
         FROM h""",
    // mode count via unnest+GROUP BY — a different algorithm family from the
    // engine's sorted run-length fold, so agreement is evidence, not echo
    "q68_repetition_filter" ->
      """WITH t AS (SELECT doc_id, text, string_split(text,' ') AS toks FROM documents),
         b AS (SELECT doc_id,
                 CASE WHEN len(toks) < 2 THEN [text]
                      ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END AS bg
               FROM t),
         m AS (SELECT doc_id, len(bg)::BIGINT AS n_bigrams,
                 len(list_distinct(bg))::BIGINT AS n_distinct_bigrams FROM b),
         tc AS (SELECT doc_id, tok, count(*)::BIGINT AS c
                FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2),
         md AS (SELECT doc_id, max(c)::BIGINT AS mode_c FROM tc GROUP BY 1),
         nt AS (SELECT doc_id, len(toks)::BIGINT AS n FROM t)
         SELECT m.doc_id, m.n_bigrams, m.n_distinct_bigrams,
           floor((m.n_bigrams - m.n_distinct_bigrams) * 10000.0 / m.n_bigrams)::BIGINT AS dup_bigram_bp,
           floor(md.mode_c * 10000.0 / nt.n)::BIGINT AS top_token_bp,
           floor((m.n_bigrams - m.n_distinct_bigrams) * 10000.0 / m.n_bigrams) < 3000 AS kept
         FROM m JOIN md ON m.doc_id = md.doc_id JOIN nt ON m.doc_id = nt.doc_id""",
    "q25_exact_dedup" ->
      """WITH k AS (SELECT doc_id, md5(substr(lower(text),1,24)) AS k FROM documents),
         g AS (SELECT k, count(*)::BIGINT AS n FROM k GROUP BY 1)
         SELECT count(*)::BIGINT AS n_groups,
           sum(CASE WHEN n > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_groups,
           sum(CASE WHEN n > 1 THEN n ELSE 0 END)::BIGINT AS n_dup_docs,
           max(n)::BIGINT AS max_group
         FROM g""",
    "q26_ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id, source, string_split(text,' ') AS toks FROM documents),
         sh AS (SELECT DISTINCT doc_id, source,
                  unnest(list_transform(range(1, len(toks)-1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
                FROM t WHERE len(toks) >= 3),
         dfok AS (SELECT g FROM (SELECT g, count(*) AS df FROM sh GROUP BY 1) WHERE df <= ${Dedup.NgramMaxDf}),
         shc AS (SELECT sh.* FROM sh JOIN dfok USING (g)),
         n AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM shc GROUP BY 1),
         inter AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*)::BIGINT AS common
                   FROM shc l JOIN shc r ON l.source=r.source AND l.g=r.g AND l.doc_id < r.doc_id
                   GROUP BY 1,2)
         SELECT i.a, i.b, i.common,
           floor(i.common * 10000.0 / (na.n_sh + nb.n_sh - i.common))::BIGINT AS j_bp
         FROM inter i JOIN n na ON i.a=na.doc_id JOIN n nb ON i.b=nb.doc_id
         WHERE floor(i.common * 10000.0 / (na.n_sh + nb.n_sh - i.common)) >= ${Dedup.NgramMinBp}""",
    // q27's oracle is ALL-PAIRS exact Jaccard (no LSH, no df cap): matching it
    // proves both the exact-verify stage AND that LSH recall is 1.0 at this
    // threshold on this corpus
    "q27_minhash_lsh" -> minhashAllPairsOracle,
    // the capped-path gates share the exact oracles by construction: on this
    // corpus the default caps must not engage, so capped == uncapped == exact
    "q58_minhash_capped" -> minhashAllPairsOracle,
    "q59_simhash_capped" -> simhashAllPairsOracle,
    // transitive closure of the same exact pair graph via a recursive CTE —
    // fully independent of BOTH engine implementations (hash-min
    // propagation q63, large/small-star contraction q67); one definition,
    // two algorithm families proven equal to it
    "q63_dup_components" -> dupComponentsClosureOracle,
    "q67_dup_components_stars" -> dupComponentsClosureOracle,
    "q70_dedup_decision" -> dedupDecisionOracle,
    "q72_leakage_safe_split" -> leakageSafeSplitOracle,
    "q74_decontaminate" -> decontaminateOracle,
    "q71_span_dedup" -> spanDupOracle,
    "q55_ann_ivf" -> bruteTopKOracle,
    "q30_ann_brute" -> bruteTopKOracle,
    "q60_daily_point_summaries" -> OracleSql.q60,
    "q61_object_features" -> OracleSql.q61,
    "q62_checkpoint_lineage" -> OracleSql.q62,
    "q64_checkpoint_append" -> OracleSql.q64,
    // q31's oracle replicates the WHOLE LSH pipeline in SQL (inlined plane
    // constants, signatures, banding, dedup, exact rerank) — see OracleSql.q31
    "q31_ann_lsh" -> OracleSql.q31,
    "q44_embed_neardup" -> OracleSql.q44,
    "q66_ann_sq8" -> OracleSql.q66,
    // IVF+SQ8 at full probe ≡ exhaustive SQ8 — same relation by definition
    "q69_ann_ivf_sq8" -> OracleSql.q66,
    "q75_ann_pq" -> OracleSql.q75,
    "q76_ann_filtered" -> filteredTopKOracle,
    "q77_knn_graph" -> knnGraphOracle,
    "q78_phash_neardup" -> OracleSql.q78,
    "q79_phash_dup_decisions" -> OracleSql.q79,
    "q80_bm25_top_terms" -> OracleSql.q80,
    // bucketing is invisible to the relation — the oracle joins raw parquet
    "q81_bucketed_join" ->
      """SELECT o_orderpriority,
            count(*) AS n_items,
            sum(floor(l_extendedprice * 100.0 + 0.5)::BIGINT)::BIGINT AS revenue_cents,
            sum(floor(l_quantity * 100.0 + 0.5)::BIGINT)::BIGINT AS qty_cents
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          GROUP BY 1""",
    // DuckDB's native ASOF JOIN (specialized partitioned sort-merge) vs the
    // engine's union-tag window — inclusive (>=) on both sides
    "q82_asof_join" ->
      """SELECT e.event_id, e.event_type, p.event_id AS p_event_id,
            epoch_us(e.ts) - epoch_us(p.ts) AS gap_us,
            floor(p.value * 100.0 + 0.5)::BIGINT AS p_value_cents
          FROM events e ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
            ON e.user_id = p.user_id AND e.ts >= p.ts""",
    "q83_kmv_distinct" -> OracleSql.q83,
    "q87_hll_distinct" -> OracleSql.q87,
    // honest all-pairs distance join; `a.lat = b.lat` is a lattice fact
    // (integer-degree lats, sigma*R >= |dlat|*111.19 km > 15 km for any
    // cross-lat pair), NOT a copy of the engine's tile scheme
    "q86_spatial_pairs" ->
      s"""WITH p AS ($pts),
          f AS (SELECT event_id, lon, lat FROM p WHERE abs(lat) <= 84.0),
          c AS (SELECT a.event_id AS a_id, b.event_id AS b_id,
              2*6371.0088*asin(least(1.0, sqrt(
                sin(((b.lat - a.lat)/180.0)*pi()/2)*sin(((b.lat - a.lat)/180.0)*pi()/2) +
                cos((a.lat/180.0)*pi())*cos((b.lat/180.0)*pi()) *
                sin(((b.lon - a.lon)/180.0)*pi()/2)*sin(((b.lon - a.lon)/180.0)*pi()/2)))) AS km
            FROM f a JOIN f b ON a.lat = b.lat AND a.event_id < b.event_id)
          SELECT a_id, b_id, floor(km * 1000000.0)::BIGINT AS dist_mm
          FROM c WHERE km < 15.0""",
    // the honest inequality join (IEJoin) vs the engine's binned equi-join
    "q84_range_join_binned" ->
      """SELECT e.event_id, count(*) AS n_prior,
            sum(floor(p.value * 100.0 + 0.5)::BIGINT)::BIGINT AS prior_value_cents
          FROM events e JOIN events p
            ON p.user_id = e.user_id
            AND epoch_us(p.ts) >= epoch_us(e.ts) - 86400000000
            AND epoch_us(p.ts) < epoch_us(e.ts)
          WHERE e.event_type = 'error'
          GROUP BY 1""",
    // plain join — the salt must be invisible to the relation
    "q85_salted_join" ->
      """SELECT p_type, count(*) AS n_items,
            sum(floor(l_extendedprice * 100.0 + 0.5)::BIGINT)::BIGINT AS revenue_cents
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY 1""",
    // plain join — Bloom pruning must be invisible to the relation (false
    // positives die in the join, false negatives are impossible)
    "q88_bloom_join" ->
      """SELECT l_returnflag, count(*) AS n_items,
            sum(floor(l_extendedprice * 100.0 + 0.5)::BIGINT)::BIGINT AS revenue_cents
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderpriority = '1-URGENT'
          GROUP BY 1""",
    // DuckDB's native CUBE vs the engine's Expand+single-agg plan; GROUPING()
    // uses the same leftmost-is-MSB convention as Spark's grouping_id()
    "q89_cube_rollup" ->
      """SELECT l_returnflag, l_linestatus,
            GROUPING(l_returnflag, l_linestatus)::BIGINT AS gid,
            count(*)::BIGINT AS n_items,
            sum(floor(l_quantity * 100.0 + 0.5)::BIGINT)::BIGINT AS qty_cents,
            sum(floor(l_extendedprice * 100.0 + 0.5)::BIGINT)::BIGINT AS revenue_cents
          FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    // bit-for-bit replay of the literal-shift interleave (integer terms)
    "q91_zorder" -> OracleSql.q91,
    // the window form of per-group top-k (the engine runs bounded heaps)
    "q92_topk_group" ->
      """WITH r AS (SELECT c_mktsegment, c_custkey,
              floor(c_acctbal * 100.0 + 0.5)::BIGINT AS bal_cents,
              row_number() OVER (PARTITION BY c_mktsegment
                ORDER BY floor(c_acctbal * 100.0 + 0.5)::BIGINT DESC, c_custkey)
                AS rank
            FROM customer)
          SELECT c_mktsegment, rank::BIGINT AS rank, c_custkey, bal_cents
          FROM r WHERE rank <= 3""",
    // ordered list aggregation vs the engine's sorted-partition single pass
    "q93_sorted_groups" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
          a AS (SELECT user_id, count(*)::BIGINT AS n_events,
              max(us)::BIGINT AS last_us,
              list(event_type ORDER BY us) AS types
            FROM e GROUP BY 1)
          SELECT user_id, n_events, array_to_string(types[1:5], ',') AS first5,
            last_us
          FROM a""",
    // full geohash encode replayed in SQL (scaled ints + interleave + base32)
    "q94_geohash" -> OracleSql.q94,
    // the entire histogram sketch replayed: bins, cumulative ranks, estimates
    "q95_hist_quantile" -> graft.ops.HistQuantile.oracle,
    // per-side sketches, union sketch, rho, and both estimates replayed
    "q96_kmv_intersect" -> OracleSql.q96,
    // the full d×w counter matrix + min-over-rows estimates replayed
    "q97_countmin" -> OracleSql.q97,
    // fmt coin + analytic pixels + tile assignment replayed in SQL
    "q98_tile_mosaic" -> OracleSql.q98,
    // grouped register file + HUGEINT estimate per event_type
    "q99_hll_per_group" -> OracleSql.q99,
    // DIRECT full recompute — merged partials must equal it as a relation
    "q103_incremental_rollup" -> OracleSql.q103,
    // the honest all-pairs levenshtein join (DuckDB's DP kernel)
    "q104_editdist_join" ->
      """WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 3000)
          SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
            levenshtein(a.c_name, b.c_name)::INT AS dist
          FROM c a JOIN c b ON a.c_custkey < b.c_custkey
          WHERE levenshtein(a.c_name, b.c_name) <= 1""",
    // list_filter/list_position + explicit left-to-right list_reduce folds
    "q105_array_fns" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS d FROM embeddings)
          SELECT vec_id,
            len(list_filter(d, x -> x > 0))::BIGINT AS n_pos,
            list_position(d, list_max(d))::BIGINT AS max_idx,
            floor(list_reduce(list_prepend(0.0::DOUBLE,
                list_transform(d, x -> x * x)), (a, b) -> a + b)
              * 1000000.0 + 0.5)::BIGINT AS ssq_e6,
            floor(list_reduce(list_prepend(0.0::DOUBLE,
                list_transform(list_zip(d, list_reverse(d)),
                  s -> struct_extract(s, 1) * struct_extract(s, 2))), (a, b) -> a + b)
              * 1000000.0 + 0.5)::BIGINT AS revdot_e6
          FROM v""",
    "q106_cohort_retention" -> OracleSql.q106,
    "q107_funnel" -> OracleSql.q107,
    "q108_triangles" -> OracleSql.q108,
    "q109_pagerank" -> OracleSql.q109,
    "q110_ema" -> OracleSql.q110,
    "q111_pii_scrub" -> OracleSql.q111,
    "q112_bbox_overlap" -> OracleSql.q112,
    "q113_tile_density" -> OracleSql.q113,
    "q114_grouped_median" -> OracleSql.q114,
    "q115_skyline" -> OracleSql.q115,
    "q116_image_integral" -> OracleSql.q116,
    "q117_pyramid" -> OracleSql.q117,
    "q118_stay_segments" -> OracleSql.q118,
    "q119_time_travel" -> OracleSql.q119,
    "q120_compaction_plan" -> OracleSql.q120,
    "q121_cdc_merge" -> OracleSql.q121,
    "q122_scd2" -> OracleSql.q122,
    "q123_change_feed" -> OracleSql.q123,
    "q124_bigram_lm" -> OracleSql.q124,
    "q125_kcore" -> OracleSql.q125,
    "q126_inverted_query" -> OracleSql.q126,
    "q127_adaptive_tiles" -> OracleSql.q127,
    "q128_grouped_trend" -> OracleSql.q128,
    "q129_prefix_filter_join" -> OracleSql.q129,
    "q130_markov" -> OracleSql.q130,
    "q131_grid_clusters" -> OracleSql.q131,
    "q132_term_lift" -> OracleSql.q132,
    "q133_minmax_scale" -> OracleSql.q133,
    "q134_mad_anomalies" -> OracleSql.q134,
    "q135_shipping_priority" -> OracleSql.q135,
    "q136_local_volume" -> OracleSql.q136,
    "q137_attribution" -> OracleSql.q137,
    "q138_decile_class_mix" -> OracleSql.q138,
    "q139_seq_patterns" -> OracleSql.q139,
    "q140_bitmap_intersect" -> OracleSql.q140,
    "q141_rfm" -> OracleSql.q141,
    "q142_tree_depths" -> OracleSql.q142,
    "q143_interval_merge" -> OracleSql.q143,
    "q144_rolling_distinct" -> OracleSql.q144,
    "q145_stratified_sample" -> OracleSql.q145,
    "q146_share_of_total" -> OracleSql.q146,
    "q147_temporal_join" -> OracleSql.q147,
    "q148_skew_profile" -> OracleSql.q148,
    "q149_gini_splits" -> OracleSql.q149,
    "q150_event_correlation" -> OracleSql.q150,
    "q151_metro_brightness" -> OracleSql.q151,
    "q152_image_tv" -> OracleSql.q152,
    "q153_segment_intersections" -> OracleSql.q153,
    "q154_polygon_measures" -> OracleSql.q154,
    "q155_encoding_advisor" -> OracleSql.q155,
    "q156_zonemap_sim" -> OracleSql.q156,
    "q157_merkle_diff" -> OracleSql.q157,
    "q158_pixel_histogram" -> OracleSql.q158,
    "q159_threshold_sweep" -> OracleSql.q159,
    "q160_auc_exact" -> OracleSql.q160,
    "q161_basket_rules" -> OracleSql.q161,
    "q162_douglas_peucker" -> OracleSql.q162,
    "q163_tv_drift" -> OracleSql.q163,
    "q164_gram_matrix" -> OracleSql.q164,
    "q165_sorted_neighborhood" -> OracleSql.q165,
    "q166_corr_matrix" -> OracleSql.q166,
    "q167_idw_surface" -> OracleSql.q167,
    "q168_cusum" -> OracleSql.q168,
    "q169_spearman" -> OracleSql.q169,
    "q170_blob_count" -> OracleSql.q170,
    "q171_rendezvous" -> OracleSql.q171,
    "q172_lpm_join" -> OracleSql.q172,
    "q173_sssp" -> OracleSql.q173,
    "q174_twap" -> OracleSql.q174,
    "q175_tile_occupancy" -> OracleSql.q175,
    "q176_watermark_audit" -> OracleSql.q176,
    "q177_topn_others" -> OracleSql.q177,
    "q178_weighted_median" -> OracleSql.q178,
    "q179_equalization_lut" -> OracleSql.q179,
    "q180_z_outliers" -> OracleSql.q180,
    "q181_star_pip" -> OracleSql.q181,
    "q182_ks_drift" -> OracleSql.q182,
    "q183_grouped_mode" -> OracleSql.q183,
    "q184_tail_shortfall" -> OracleSql.q184,
    "q185_winsorized" -> OracleSql.q185,
    "q186_nearest_asof" -> OracleSql.q186,
    "q187_clustering_coeff" -> OracleSql.q187,
    "q188_autocorr" -> OracleSql.q188,
    // both outer null sides hashed row-for-row
    "q100_outer_join" ->
      """SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey, c.c_name,
            o.n_big_orders
          FROM (SELECT c_custkey, c_name FROM customer
                WHERE c_acctbal > 7000.0) c
          FULL OUTER JOIN (SELECT o_custkey, count(*)::BIGINT AS n_big_orders
                FROM orders WHERE o_totalprice > 280000.0 GROUP BY 1) o
            ON c.c_custkey = o.o_custkey""",
    // the plain long-form relation — pivot∘unpivot must reproduce it
    "q101_pivot_roundtrip" ->
      "SELECT user_id, event_type, count(*)::BIGINT AS n FROM events GROUP BY 1, 2",
    // grid + left join + IGNORE NULLS forward fill through DuckDB's window
    "q102_resample_ffill" ->
      """WITH e AS (SELECT user_id, floor(floor(epoch(ts)) / 86400)::BIGINT AS day,
              floor(value * 100.0 + 0.5)::BIGINT AS vc FROM events),
          d AS (SELECT user_id, day, count(*)::BIGINT AS n_events,
              sum(vc)::BIGINT AS day_cents FROM e GROUP BY 1, 2),
          sp AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM d GROUP BY 1),
          grid AS (SELECT user_id, unnest(range(d0, d1 + 1)) AS day FROM sp),
          j AS (SELECT g.user_id, g.day, coalesce(d.n_events, 0)::BIGINT AS n_events,
              d.day_cents FROM grid g
            LEFT JOIN d ON d.user_id = g.user_id AND d.day = g.day)
          SELECT user_id, day, n_events,
            last_value(day_cents IGNORE NULLS) OVER (PARTITION BY user_id
              ORDER BY day ROWS UNBOUNDED PRECEDING) AS carried_cents
          FROM j""",
    // same gap logic through DuckDB's window engine ((user_id, ts) unique —
    // AsofSpec — so the frames are deterministic)
    "q90_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us,
              floor(value * 100.0 + 0.5)::BIGINT AS vc FROM events),
          f AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
                OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS ns
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
          s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY us
                ROWS UNBOUNDED PRECEDING) AS sid FROM f)
          SELECT user_id, sid::BIGINT AS sid, min(us)::BIGINT AS start_us,
            max(us)::BIGINT AS end_us, count(*)::BIGINT AS n_events,
            sum(vc)::BIGINT AS value_cents
          FROM s GROUP BY 1, 2""",
    "q65_ann_neardup_lsh_tier" -> OracleSql.q65,
    "q73_semdedup" -> OracleSql.q73,
    // sketch queries verified by a REAL oracle: OracleSql reproduces the
    // engine's from-scratch 64-bit hashing (FNV-1a, rotl, splitmix64) in
    // DuckDB via wrap-around 32-bit-half multiplication
    "q28_simhash" -> simhashAllPairsOracle,
    "q29_fingerprint" ->
      s"""WITH f AS (SELECT doc_id, ${OracleSql.fingerprint("text")} AS fp FROM documents)
         SELECT (fp % 64)::BIGINT AS fp_bucket, count(*)::BIGINT AS n FROM f GROUP BY 1""",
    // the full image pipeline re-derived in SQL: splitmix64 + geotag + web-
    // mercator + PIP, bit-exact (see OracleSql.pipelineCtes). q38's dynamic
    // pivot must produce the identical relation (column order differs only)
    "q32_image_tile_pivot" -> OracleSql.q32(ImagePipeline.GateRows),
    "q38_team_pivot_dynamic" -> OracleSql.q32(ImagePipeline.GateRows),
    "q45_tile_measure_matrix" -> OracleSql.q45,
    "q46_centroid_agg" -> OracleSql.q46,
    // the sink round-trip invariants recomputed straight from the raw rows
    "q47_geojson_sink" ->
      s"""WITH p AS ($pts)
         SELECT count(*)::BIGINT AS n_features, count(*)::BIGINT AS n_wellformed,
           sum(floor(lon * 1000000.0 + 0.5)::BIGINT)::BIGINT AS sum_lon_e6,
           sum(floor(lat * 1000000.0 + 0.5)::BIGINT)::BIGINT AS sum_lat_e6,
           sum(event_id)::BIGINT AS sum_event_id,
           count(DISTINCT event_type)::BIGINT AS n_types,
           sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS value_cents
         FROM p""",
    "q48_ann_lsh_recall" -> OracleSql.q48,
    "q49_multizoom_rollup" -> OracleSql.q49,
    "q56_tile_centers" -> OracleSql.q56,
    // the classifier's output is re-derived ANALYTICALLY from the generator
    // formulas — fully independent of the Spark window-algebra implementation
    "q34_interactions_versions" -> OracleSql.q34,
    // group the FULL q34 analytic relation by edit class
    "q57_edit_class_counts" ->
      s"""SELECT e, count(*)::BIGINT AS n, count(DISTINCT id)::BIGINT AS n_entities
         FROM (${OracleSql.q34}) t GROUP BY 1""",
    "q39_tag_key_filter" -> OracleSql.q39,
    "q43_interval_filters" -> OracleSql.q43,
    "q35_roster_rollup" -> graft.ops.Roster.rosterRollupOracle,
    "q36_centroid" ->
      s"""WITH p AS ($pts)
         SELECT user_id, count(*)::BIGINT AS n,
           floor(sum(floor(lon*1000000.0+0.5)::BIGINT)::DOUBLE / count(*))::BIGINT AS c_lon_e6,
           floor(sum(floor(lat*1000000.0+0.5)::BIGINT)::DOUBLE / count(*))::BIGINT AS c_lat_e6
         FROM p GROUP BY 1""",
    "q37_changesets" ->
      """SELECT * FROM (VALUES
           (1::BIGINT, 7::BIGINT, 'alice', 'Polygon', true, 2, '#hotosm-task-123', 1579898055::BIGINT, 40, 2::BIGINT),
           (2::BIGINT, 8::BIGINT, 'bob', 'Point', false, 0, '', 1579939200::BIGINT, 1, (-3)::BIGINT),
           (4::BIGINT, 10::BIGINT, 'dave', 'Polygon', false, 0, '', 1580635800::BIGINT, 12, 2::BIGINT)
         ) AS t(cs_id, uid, "user", geom_type, hot, n_hashtags, first_hashtag, ts, num_changes, area_mag)""",
    "q40_changesets_enhanced" ->
      """SELECT * FROM (VALUES
           (1::BIGINT, 7::BIGINT, 'alice', true, 1579898055::BIGINT, 40::INT,
            120::BIGINT, 4520::BIGINT, 1393660800::BIGINT, 1579898055::BIGINT, 210::INT),
           (2::BIGINT, 8::BIGINT, 'bob', false, 1579939200::BIGINT, 1::INT,
            3::BIGINT, 17::BIGINT, 1575196200::BIGINT, 1579939200::BIGINT, 3::INT)
         ) AS t(cs_id, uid, "user", hot, ts, num_changes, u_changesets,
                u_sum_changes, u_first_edit, u_latest_edit, u_days_editing)""",
    "q42_changeset_object_join" ->
      """WITH e AS (SELECT *, floor(epoch(ts))::BIGINT AS ts_s,
           floor(floor(epoch(ts))/86400)::BIGINT AS day FROM events),
         ec AS (SELECT *, user_id*100000 + day AS cs FROM e),
         c AS (SELECT cs, count(*)::BIGINT AS num_changes, min(ts_s)::BIGINT AS created_at
               FROM ec GROUP BY 1)
         SELECT day, count(*)::BIGINT AS n_objects,
           count(DISTINCT ec.cs)::BIGINT AS n_big_changesets,
           min(created_at)::BIGINT AS first_created
         FROM ec JOIN c ON ec.cs = c.cs AND c.num_changes >= 5
         GROUP BY 1""",
    // analytic: key kJ exists on rows k >= J of entities whose kind(J) = 3
    "q41_key_like_resolution" ->
      s"""WITH ev AS (
           SELECT t.id, r.k FROM range(0, ${graft.ops.Interactions.GateEntities}) t(id), range(0, 6) r(k)
           WHERE r.k < 2 + (t.id*7+3)%5),
         x AS (SELECT id, k, j FROM ev, range(1, 6) s(j)
               WHERE j <= k AND (id*13 + j*37)%10 = 3)
         SELECT 'k' || j AS key, count(*)::BIGINT AS n_rows FROM x GROUP BY 1""",
    // analytic (round-4): the row total comes from the generator domain and
    // the per-format verdict split re-derives mix(seed^5) bit 0 in SQL —
    // no more pinned constants (see OracleSql.q33)
    "q33_image_validate" -> OracleSql.q33,
    // q31_ann_lsh: LSH-bucketed ANN — candidates reranked exactly; see queries.
  )
}
