package graft.examples

import java.nio.file.{Files, Paths}
import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

import graft.{Bench, SparkEntry}

/** The plan tool. Every key runs through its frame's OWN QueryExecution
  * (`toRdd`, drained where it runs, so no result rows reach the driver) and
  * the explained plan is the AQE-final one; a noop write would run a
  * separate QueryExecution and leave this one's plan pre-AQE. Two modes:
  *
  *   sbt "runMain graft.examples.DumpPlans [sfDir]"
  *     rewrites PLANS.md: one row per registered key with the fingerprint
  *     of its normalized plan and its annotation.
  *   sbt "runMain graft.examples.DumpPlans <sfDir> <outDir> <key,...>"
  *     writes each listed key's normalized plan — the text the fingerprint
  *     hashes — to `<outDir>/<key>.txt`; PLANS.md is left alone.
  *
  * `sfDir` defaults to /root/testdata/sf0.001, the scale PLANS.md records.
  * The session is [[graft.Bench.localSession]]'s (`SPARK_GRAFT_CPUS` cores
  * and shuffle partitions, 4 by default — the count PLANS.md records).
  */
object DumpPlans {
  /** What to look for in a key's plan; `PlanSpec` asserts these in CI. */
  private val notes = Map(
    "q07_ts_range_filter" -> "range predicate in PushedFilters; 3-column ReadSchema",
    "q11_inner_equijoin" -> "fact-fact equi-join, two-phase agg above it",
    "q12_anti_join_dedup" -> "LeftAnti (broadcast at this size), no per-row probes",
    "q17_topk_groups" -> "TakeOrderedAndProject instead of global sort",
    "q34_sentiment_udf" -> "lexicon BroadcastHashJoin; only (doc_id, tenths) shuffles",
    "q43_exact_dedup" -> "exchange carries sha2 hash + id, never text",
    "q45_cosine_topk" -> "corpus scanned once, query side broadcast; two-phase top-k (MapPartitions k-heap, no Window)",
    "q44_minhash_neardup" -> "band self-join on short CSV keys; signatures, never text, in the exchanges",
    "q54_embed_neardup" -> "LSH candidates + exact re-score; NO CartesianProduct anywhere",
    "q55_ann_lsh" -> "one-pass signatures (broadcast plane row), zero shuffles before the bucket join",
    "q60_vader" -> "window lags for negation scope; lexicon BroadcastHashJoin; no UDF",
    "q61_asof_join" -> "as-of = union + ONE window sort on (key, ts); no range join",
    "q62_range_join" -> "interval join shuffles on time bins, then exact filter",
    "q74_unified_pipeline" -> "3-source union + anti-join + lexicon broadcast; one final tiny agg",
    "q76_curation_chain" -> "all annotations in one scan; dedup exchange carries (sha2, id) only",
    "q78_tfidf_topk" -> "one TF exchange; DF and corpus-size joined as broadcasts; per-doc window",
    "q80_moving_average" -> "RANGE frame over per-day aggregate rows, never raw events",
    "q82_hopping_window" -> "4-windows-per-event Expand happens map-side, before the shuffle",
    "q65_percentiles" -> "value-histogram CDF, all HashAggregate — no whole-group percentile buffer, no SortAggregate",
    "q91_sequence_packing" -> "two-phase prefix sum: every Window partitioned by __bin, offsets broadcast — no single-partition window",
    "q96_decile_stats" -> "exact ntile via two-phase global rank + map-side allocation; no global window",
    "q100_bigram_freq" -> "adjacent-pair zip map-side; two-phase hash agg; TakeOrderedAndProject top-k",
    "q102_contamination" -> "eval shingle set on the broadcast side; corpus never shuffles for the probe",
    "q103_token_zipf" -> "rank/cumsum windows AFTER the top-k limit — window input bounded by k",
    "q104_prefix_dedup" -> "one windowed pass on sha2(prefix); text never enters the exchange",
    "q107_profile" -> "split passes: distinct Expand stays HashAggregate; global string min/max agg sorts nothing",
    "q108_sliding_distinct" -> "distinct (day,user) then map-side day fan-out; no range join, no count-distinct window",
    "q110_multimodal_features" -> "per-partition decoder seam; scan → mapPartitions → sort, no shuffle before the fingerprint",
    "q111_incremental_agg" -> "base and delta each partially aggregated, ONE full-outer merge join on the key",
    "q116_pq_encode" -> "codebook broadcast; corpus explodes m-way and reduces straight back — nothing wider than a subvector shuffles",
    "q117_rare_tokens" -> "one token pass; vocabulary-sized frequency table broadcast back — the corpus never shuffles on term",
    "q119_bloom_prune" -> "bloom_might_contain Filter directly over the fact scan, BEFORE the exchange; semi join rechecks exactly",
    "q120_copurchase_rank" -> "edge self-join keyed on the order; each iteration one join + one hash agg on short keys (iteration shape asserted separately in PlanSpec — the lazy checkpoint hides it here)",
    "q125_triangle_count" -> "wedge closing against BROADCAST adjacency, one codegen span; single post-closing exchange (partial+final agg)",
    "q139_video_frames" -> "per-partition container walk in one MapPartitions stage; fan-out map-side before the sort",
    "q140_token_entropy" -> "explode + (id, token) two-phase agg; ordered-fold entropy inside the per-doc aggregate, no window",
    "q141_incremental_neardup" -> "index side is a checkpointed scan; probe joins on the packed 8-byte band key, no self-join",
    "q142_asof_forward" -> "union + ONE forward-frame window on (key, ts, side) — no range join, single shuffle",
    "q144_expectations" -> "all rules in one global aggregate (partial+final, no Expand); explode emits the per-rule rows",
    "q128_doc_chunking" -> "scan → project → Generate: the window fan-out is entirely map-side, the only exchange is the output orderBy",
    "q129_forward_fill" -> "ONE hashpartitioning(user_id) exchange for the fill window — never an empty partition spec",
    "q131_attribution" -> "two hash aggs co-partitioned on user_id; struct min/max carry the tie-breaks — no window anywhere",
    "q134_embed_centroids" -> "posexplode map-side; one hash agg with partial/final split on (label, pos) — integer sums commute",
    "q137_budget_select" -> "global quality-ordered cumsum via TwoPhase: every Window partitioned by __bin, offsets broadcast — no single-partition window",
    "q145_weighted_sample" -> "exponential-race key map-side; global top-n is TakeOrderedAndProject (per-partition heap), no full sort",
    "q146_rolling_median" -> "bounded collect_list frame inside the key-partitioned window; the only exchange is the key hash",
    "q147_mad_outliers" -> "two grouped exact percentiles; med/mad stat frames re-join as BroadcastHashJoin — the daily frame never reshuffles",
    "q148_unigram_logprob" -> "one (id, token) exchange; cf and N broadcast back; ordered fold inside the per-doc aggregate",
    "q151_transition_matrix" -> "one user-hash lead window; share window over the |states|²-row aggregated matrix, never events",
    "q152_winsorize" -> "one grouped percentile_disc pass; cut frame re-joins as BroadcastHashJoin — the fact side never reshuffles",
    "q153_journey_trigrams" -> "both leads in ONE user-hash window stage; TakeOrderedAndProject top-k; rank after the limit",
    "q154_interevent_gaps" -> "one lag window on the user hash, then a two-phase agg per event type — nothing global",
    "q158_psi_drift" -> "one (group, bin) two-phase count agg; bin spine joins the metadata-sized counts, totals broadcast; fold over ≤ bins terms per group",
    "q159_group_corr" -> "a single grouped aggregate with six exact numeric buffers — no window, no second scan, |groups| output rows",
    "q161_pmi_bigrams" -> "checkpointed token arrays feed two count shuffles; unigram vocab and 1-row totals re-join as BroadcastHashJoins",
    "q162_resample" -> "per-key sequence spine is a map-side explode; LOCF window partitions by key over the bounded spine, never raw events",
    "q164_skyline" -> "min-per-x two-phase agg collapses the input BEFORE the frontier window — the single partition sorts |x-domain| rows, not raw data",
    "q165_timed_funnel" -> "user-keyed entry agg, user-keyed interval join, then a day-sized cohort agg — no global window anywhere",
    "q166_skew_profile" -> "per column: two-phase count agg then a 1-row summary over the count table; columns are independent branches of one union job",
    "q167_mutual_info" -> "one checkpointed cell-count shuffle; margins and totals re-join as BroadcastHashJoins; fold bounded by the category domains",
    "q168_gini" -> "the (group, value) count agg collapses input to the value domain before the cumulative window — the window sorts ≤ |domain| rows per group",
    "q170_changepoint" -> "time-domain-bounded per-group window on the aggregated series; totals and peaks re-join as broadcasts, argmax without collect",
    "q171_assoc_rules" -> "pairs explode map-side AFTER the per-basket set agg (no row self-join); item margins and the basket total re-join as broadcasts",
    "q172_golden_record" -> "fill and latest-rank windows share ONE key-hash exchange; no join anywhere",
    "q173_rank_normalize" -> "two-phase global rank: no single-partition window — per-bin local sorts plus a driver prefix over bin totals",
    "q174_rfm" -> "entity aggregate + one global percentile pass; six cut values broadcast back, scoring is map-side — no window at all",
    "q176_autocorr" -> "both lags share ONE Window operator (one sort per group); the union feeds a single grouped power-sum aggregate",
    "q178_bm25" -> "tf shuffle carries only query-term postings; df and corpus stats re-join as broadcasts; TakeOrderedAndProject then a k-row rank",
    "q179_bollinger" -> "rolling-frame window on the AGGREGATED daily series (constant-size frame state); breakout decided in exact decimal integers",
    "q183_cohort_retention" -> "raw stream collapses to distinct (user, week) first; user-keyed min + co-partitioned join; cohort sizes re-join as a broadcast of the matrix's own offset-0 slice",
    "q185_clustering_coeff" -> "triangleCounts' oriented adjacency does the closing; degrees from the canonical pair list; final join keys on |nodes|-row frames",
    "q186_audience_overlap" -> "membership dedups BEFORE pairing (per-user fan-out bounded by segment domain); sizes re-join as broadcasts",
    "q187_pivot" -> "explicit value list → ONE aggregate pass, schema fixed at plan time; no hidden distinct-collect job before the pivot",
    "q189_rrf_fusion" -> "upstream top-k lists do the heavy lifting; the fusion joins and single-partition rank window run on ≤ N·k metadata rows",
    "q191_kcore" -> "per round one degree count + two semi-joins, all node-keyed; the pair list only shrinks, checkpoints keep lineage flat",
    "q193_max_concurrency" -> "±1 sweep is 2 rows per SESSION; the global running sum is the two-phase rewrite — range bins + broadcast offsets, no single-partition window",
    "q194_theil" -> "group stats broadcast back to members; member folds bounded per group, cross-group folds over |nations| metadata rows",
    "q195_weighted_median" -> "global cumulative weight via two-phase prefix sum; the pick is a 1-row TakeOrdered over the qualifying suffix",
    "q196_lorenz" -> "two-phase exact ntile (no single-partition window over entities); the only global windows run on the 10-row decile frame",
    "q199_streak" -> "distinct (user, day) BEFORE any window; islands, lengths, and maxima all share the user key-hash — per-user state is its day list",
    "q201_bfs_hops" -> "per hop one frontier semi-join through the checkpointed edge list + one anti-join vs visited; frames are |reached nodes|, never edges",
    "q203_entity_resolution" -> "blocked equi-join pairs (no cartesian) feed min-label propagation; singleton entities via left-join coalesce, sizes key-hash joined",
    "q204_bigram_lm" -> "bigrams derive map-side from the token array (positional transform, no self-join); unigram margins broadcast, bigram vocab joins key-hash",
    "q207_ks_drift" -> "cumulative arm counts via TwoPhase over the distinct-units frame — no SinglePartition window; one global max reduce",
    "q208_auc" -> "score histogram + one TwoPhase prefix; U accumulates in one hash aggregate, no rank window over raw rows",
    "q209_silhouette" -> "sample side broadcast (BroadcastNestedLoopJoin); corpus scanned once, reduce is |sample|x|labels| rows",
    "q210_chi2_assoc" -> "cells localCheckpointed then marginals broadcast back — raw rows aggregated exactly once",
    "q211_calibration" -> "single hash aggregate with map-side combine; no join, no window",
    "q212_recall_at_k" -> "both rankings broadcast-probe the corpus scan (BroadcastNestedLoopJoin); the recall join itself is key-hash on (query, neighbor)",
    "q213_mann_kendall" -> "pair self-join on the aggregated (event_type, day) frame — metadata rows, never raw events; no cartesian",
    "q214_readability" -> "one projection over one scan; the only exchange is the output order",
    "q215_log_odds_terms" -> "group margins broadcast; term totals key-hash; the rank window partitions by source over the aggregated term frame",
    "q216_curation_funnel" -> "one conditional-count hash aggregate + stack unpivot; no join, no window",
    "q218_lm_buckets" -> "q204's score plan feeds TwoPhase.globalRank — no SinglePartition window; bucket stats are one hash aggregate",
    "q219_pettitt" -> "pair join + interval-add prefix over the aggregated (event_type, day) frame; no cartesian, group-partitioned windows only",
    "q220_cross_corr" -> "lag dimension broadcasts (BroadcastNestedLoopJoin over 4 rows); the shift join is key-hash on the calendar day",
    "q221_group_ks" -> "group dim broadcasts onto the unit frame; every prefix window partitions by group; raw rows aggregated once (checkpointed)",
    "q257_ivf_train" -> "micro-Lloyd: centroid metadata broadcast per round; d2 + centroid aggregates both partial/final hash aggs (per-round shape — the checkpoint hides earlier rounds here)",
    "q260_sequence_pack" -> "token prefix sum via TwoPhase: every Window partitioned by __bin, offsets broadcast — no single-partition window; one final 1-row agg",
    "q262_dup_spans" -> "positional shingles map-side; frequency agg + verdict join both key the 8-byte Karp-Rabin fingerprint, never span text",
    "q264_hard_negatives" -> "anchors broadcast (BroadcastNestedLoopJoin), label filter map-side on the scored frame; two-phase k-heap ranking — no window over the scored set",
    "q246_ivfpq_search" -> "IVF cell equi-join bounds candidates; codebook/LUT broadcast; ADC sums on exact longs",
    "q250_modularity" -> "edges from the materialized component index scan; degree joins hash-keyed",
    "q254_lsh_curve" -> "per-leg banded self-joins on bucket keys; no cartesian at any band count",
    "q255_dedup_funnel" -> "every gate reads the SHARED materialized pair/component scans; final agg is metadata-sized",
    "q256_ivfpq_recall" -> "truth and approx legs both candidate-bounded; recall join on (query, neighbor) ids only",
    "q258_ivf_train_recall" -> "seed and trained legs share the corpus scan shape; centroid frames broadcast",
    "q261_mixture_plan" -> "one token aggregate to the |sources|-row metadata frame; weights a literal CASE",
    "q265_incremental_components" -> "historical side = stored pair/band index scans (pushed id predicate); probe and inner joins band-keyed — plan-asserted in PlanSpec (final explain is checkpoint-truncated)",
    "q268_ivfpq_curve" -> "four nprobe legs, each candidate-bounded with broadcast metadata; union of 1-row aggregates",
    "q269_pq_codebook_curve" -> "four codebook legs; LUT broadcast per leg; ADC sums exact longs",
    "q270_cluster_sizes" -> "two metadata aggregates over the persisted (node, component) scan",
    "q271_source_dup_matrix" -> "stored pair list + two narrow id-keyed source joins; never text",
    "q272_pq_rerank" -> "ADC shortlist bounds exact scoring to |queries|*20 rows; every join broadcast",
    "q273_semdedup" -> "within-cell pair join keyed on cell; centroids broadcast; no corpus cross join",
    "q274_knn_label" -> "exact top-5 chain + label gather; vote window on the |queries|*5 frame",
    "q275_dsir" -> "64-row bucket log-ratio frame broadcast onto the token frame; per-doc exact long sums",
    "q276_editdist_confirm" -> "stored candidate pairs + id-keyed text gathers; levenshtein inside codegen",
    "q277_ndcg" -> "relevance/discounts on the |queries|*5 frame; IDCG via self-join of the same metadata",
    "q278_lsh_precision" -> "stored pairs + text gathers; decile aggregate map-side combined",
    "q279_langid_confusion" -> "expression-native langid, one |langs|^2-bounded aggregate",
    "q280_curation_matrix" -> "LM-score scan + component-index scan + one token pass; two id-keyed joins",
    "q281_gopher_repetition" -> "bigram explode + two map-side-combined per-doc aggregates; no window, no join",
    "q282_residual_pq" -> "per-(query, probed-cell) residual LUTs broadcast; candidates cell-keyed; exact tenth-bp long ADC sums",
    "q283_ivf_balance" -> "one broadcast-centroid assignment pass; |cells|-sized occupancy aggregate; 1-row total broadcast back",
    "q284_sq8_search" -> "dim-stats frame broadcast; affine 0..255 encode map-side; exact long L2; two-phase k-heap",
    "q285_shard_merge" -> "per-shard assignment union is a cell-keyed append; search scans only probed cells of the merged set",
    "q286_mrr" -> "first-hit ranks on the |queries|*5 frame; reciprocal ranks exact micro-unit divisions",
    "q287_scene_cuts" -> "real GIF decode fans out map-side; lag window partitions by doc over <=9 frames",
    "q288_embed_covariance" -> "outer product via chained posexplodes (zero joins); one map-side-combined aggregate to 136 rows",
    "q289_index_delete" -> "tombstone id-set applies as a broadcast anti join at read; quantizer untouched",
    "q290_image_resize" -> "ImageIO decode + 2x2 integer box filter entirely map-side; pixels never shuffle",
    "q291_temperature_mix" -> "one token-count aggregate to the |sources| frame; sqrt(n) micro-quantized; integer-div allocations",
    "q293_source_sketch" -> "one shingle pass to 16-long per-source sketches (min-merge); |sources|^2 pairing on metadata",
    "q294_tfidf_pairs" -> "df-capped token equi-join bounds pairs; exact milli-nat weights; long dot/norm sums",
    "q295_power_iteration" -> "one corpus moment pass; 8 integer iterations on the checkpointed 16x16 frame",
    "q296_lpa_communities" -> "4 rounds x (edge-scan join + (node,label) count + per-node window); edges from the materialized index",
    "q297_assortativity" -> "degree pass + two id-keyed endpoint joins; six exact long moments; one float combine",
    "q298_average_precision" -> "top-5 chain + label joins broadcast; precision@r integer-div on the |queries|*5 frame",
    "q299_abtt_outliers" -> "direction + dim-sums broadcast onto one corpus scan; exact long projection; TakeOrdered top-20",
    "q300_matryoshka_curve" -> "four prefix-width broadcast-queries scans; intersections broadcast on |queries|*5 frames",
    "q301_spearman" -> "per-user aggregate; two two-phase global ranks (bin-partitioned windows); six exact rank moments",
    "q302_filtered_ann" -> "label predicate pushed to the corpus parquet scan; probed-cell equi-join; post-filter count broadcast back",
    "q303_freshness_decay" -> "1-row anchor broadcast; dyadic long scaling map-side; one user aggregate; TakeOrdered top-20",
    "q304_colbert_maxsim" -> "normalize-once subvectors; 16 dots + fixed fold per row; ZERO shuffle upstream of the k-heap",
    "q305_vocab_coverage" -> "one token pass; two-phase vocab rank; three cutoff aggregates + 1-row total broadcast",
    "q306_vacuum_retention" -> "snapshot-log metadata joins only; retained-snapshot read after reclaim",
    "q307_filtered_recall" -> "three selectivity legs: cell-keyed IVF candidates vs broadcast-queries exact truth; broadcast intersections",
    "q308_k_anonymity" -> "one QI groupBy (domain-bounded frame); 3-row k sweep broadcast-crossed on metadata",
    "q309_bloom_dedup" -> "bloom_might_contain filter MAP-SIDE before any exchange; exact-confirm key join removes FPs",
    "q310_pit_features" -> "one user exchange; a single strictly-earlier range window shared by all features; no join anywhere",
    "q311_url_canonical" -> "map-side regex + higher-order array ops; ONE groupBy on the canonical key",
    "q312_diverse_topk" -> "top-10 shortlist via k-heap; shortlist broadcasts for its label join-back; rank windows partition by query",
    "q313_image_neardup" -> "real decode map-side; 7 row-band equi-join bounds candidates; bit_count verify — no cartesian",
    "q314_rouge_overlap" -> "clipped counts meet on the (pair, token) equi-join; totals joins pair-keyed",
    "q315_span_corruption" -> "pure map-side array transform — zero joins, zero aggregates, no explode; only the output sort exchanges",
    "q316_binary_embedding" -> "sign words built map-side; queries and float-truth broadcast; integer-hamming k-heap",
    "q317_cdc_apply" -> "union + ONE max(struct) key aggregate (partial/final around one exchange); no window, no join",
    "q318_hits" -> "bounded rounds checkpointed; per half-step node-keyed join + sum + broadcast 1-row max (plan-asserted via hitsHalfStep)",
    "q319_audio_downsample" -> "real WAV parse + decimation per partition; samples never shuffle; only the output sort exchanges",
    "q320_fixed_width" -> "render/write/read/parse map-side; one segment aggregate",
    "q321_corrupt_quarantine" -> "PERMISSIVE parse + quarantine classification on the scan; one global aggregate",
    "q322_decimal_agg" -> "Decimal128 sums map-side combined; one segment exchange",
    "q323_nucleus_mass" -> "keyed two-phase prefix sum: (lang, bin) windows, |langs|*bins offset table broadcast",
    "q324_two_hop_reach" -> "relative degree cap broadcast; path join node-keyed through allowed intermediates only",
    "q325_burstiness" -> "one token pass to vocabulary moments; dispersion exact-integer; top-20 TakeOrdered",
    "q326_equidepth_hist" -> "two-phase global rank + closed-form ntile; never a single-partition window",
    "q327_strip_accents" -> "codegen'd strip_accents expression inside WholeStageCodegen; map-side only",
    "q328_robots_filter" -> "registered-domain extraction map-side; blocklist broadcast",
    "q329_vector_norm_audit" -> "micro-square norms map-side; median/MAD by two-phase rank; 1-row stats broadcast back",
    "q330_feature_hashing" -> "vocabulary-free: hash+sign map-side, one bucket aggregate, no join at all",
    "q331_count_min" -> "192-cell sketch broadcast for readback; top-20 truth TakeOrdered",
    "q332_gzip_text" -> "transparent-codec read; parse + one global aggregate; parallelism = one task per gzip file",
    "q333_partition_overwrite" -> "dynamic-mode single-partition rewrite; day aggregate on read-back",
    "q334_dynamic_pruning" -> "dynamicpruning subquery in the fact scan's PartitionFilters; day dim broadcast",
    "q335_code_switch" -> "two expression-native langid scans per row, map-side; no joins",
    "q336_temporal_split" -> "map-side CASE split tags; distinct-user frames; broadcast overlap join",
    "q337_template_dedup" -> "normalization regex chain map-side; one groupBy on the template key",
    "q338_cross_modal_audit" -> "stored MinHash pairs + dHash-group pairs; full-outer join on id pairs only",
    "q339_stream_cdc_apply" -> "per batch one anti join + union onto the prior batch-keyed state snapshot; final snapshot scan",
    "q340_padding_waste" -> "integer tier ladder map-side; one tier aggregate",
    "q341_rendezvous_shards" -> "HRW argmax as a per-row array fold (no explode); three shard aggregates",
    "q342_pattern_match" -> "two leads in one user-partitioned frame; map-side pattern predicate",
    "q343_missing_partitions" -> "calendar = sequence explode of a 1-row aggregate; anti join on day frames",
    "q344_watermark_sizing" -> "one per-user running-max frame; 3-row delay frame broadcast",
    "q345_prefix_cache" -> "broadcast N frame; map-side prefix slices; count+distinct per N",
    "q346_draft_acceptance" -> "map-side bigram fan-out; vocab-keyed argmax aggregate; one scoring join",
    "q347_retrieval_overlap" -> "corpus scanned once for top-5; overlap pair join on the metadata frame",
    "q348_lsh_cost_plan" -> "two aggregates over the stored band-index scan; no joins, no text",
    "q349_oov_drift" -> "TakeOrdered frozen vocab broadcast onto one new-half token pass",
    "q350_grouped_rank_normalize" -> "keyed two-phase ranks; per-source counts broadcast",
    "q351_quality_survivorship" -> "stored component map scan; keeper via max(struct), no window",
    "q352_dup_weighting" -> "component map + sizes broadcast onto one corpus scan",
    "q353_shard_checksum" -> "order-invariant shard sums; 16-row broadcast compare, no row join",
    "q354_bitext_margin" -> "both direction scores broadcast queries; margins broadcast back",
    "q355_bucketed_batching" -> "keyed two-phase tier offsets; batch id map-side",
    "q356_bottomk_sample" -> "two-phase k-heap per source; |sources| key map broadcast",
    "q357_heaps_law" -> "one token pass; 4-row checkpoints broadcast onto summaries",
    "q358_neighborhood_jaccard" -> "stored edge index; focal wedges; degrees broadcast; anti join shares the pair exchange",
    "q359_ab_ztest" -> "one scan one aggregate; pooled z on the |metrics| frame",
    "q360_wilson_rank" -> "exact counts to |parts| rows; TakeOrdered on the rounded bound",
    "q361_ks_time_drift" -> "domain-sized CDF windows per metric; exact cross-multiplied sup",
    "q362_conformal_bound" -> "keyed two-phase order statistic; means broadcast",
    "q363_chi_square" -> "one corpus aggregate; zero-cell completion on broadcast metadata",
    "q364_stationary_dist" -> "one lead pass; scaled-long power iteration on metadata",
    "q365_stickiness" -> "three bounded day fan-outs; |days| series join broadcast",
    "q366_l_diversity" -> "one QI aggregate; 3-row l sweep broadcast",
    "q367_slo_burn_rate" -> "one aggregate to |days|; trailing frame on metadata",
    "q368_hll_mergeability" -> "per-day partial sketches union-merged vs one direct pass",
    "q369_csv_multiline" -> "write->multiLine readback; real csv scan",
    "q370_png_chunk_walk" -> "header-only chunk walk per partition; no decode",
    "q371_mahalanobis" -> "one exact moment aggregate broadcast; fixed-order double score; heap top-20",
    "q372_preference_pairs" -> "one aggregate; chosen/rejected via max/min(struct)",
    "q373_source_exclusive_vocab" -> "one token pass; joins on the vocab-sized frame",
    "q374_isotonic_calibration" -> "bins in one aggregate; minimax PAV on broadcast metadata",
    "q375_jackknife_ratio" -> "totals broadcast; micro-quantized pseudo-values; exact fold",
    "q376_erasure_audit" -> "tombstones broadcast; semi/anti membership per artifact",
    "q377_epoch_shuffle" -> "seeded hash order via two-phase global rank; batch = rank div B",
    "q378_schema_compat" -> "footer-only schema diff; |fields|-row metadata ledger",
    "q379_pseudonymize" -> "map-side peppered token expression; one aggregate",
    "q380_embedding_drift" -> "map-side 16-dim fan-out; exact cross-multiplied gaps",
    "q381_join_ivm" -> "delta-join algebra: 4 terms union, O(|delta|) shuffles",
    "q382_cdc_chunking" -> "map-side chunk fan-out + fingerprints; one ledger aggregate",
    "q383_join_size_estimate" -> "two 192-cell CM sketches; inner-product estimate",
    "q384_worst_slices" -> "one slice aggregate; heap worst-10",
    "q385_variant_shred" -> "parse_json once; variant_get binary walk; one aggregate",
    "q387_pipe_sql" -> "|> program == nested SQL plan, bit for bit",
    "q388_collated_group" -> "UTF8_LCASE hashing inside the aggregate",
    "q389_markov_attribution" -> "one lead pass to metadata tallies; chain solved exactly; local consumer",
    "q390_restatement_ledger" -> "one scan, two conditional sums per day",
    "q03_json_explode" -> "two generate (explode) stages run map-side in one scan; no shuffle before the final sort",
    "q04_table_sink_append" -> "append sink round-trip: the cost is the table write+read I/O, not an exchange",
    "q13_composite_key_anti" -> "LeftAnti on the composite key (broadcast at this size); no pre-distinct",
    "q48_simhash" -> "64 per-bit sums in ONE hash aggregate; exchange carries (doc_id, bit sums), never text",
    "q75_stateful_sessions" -> "flatMapGroupsWithState replay; outer plan is the result scan — the state machine runs inside the stream",
    "q81_stream_stream_join" -> "watermarked stream-stream join replay; outer plan is the result scan",
    "q88_bucketed_join" -> "bucket layout co-locates the join: SortMergeJoin with NO Exchange on either side",
    "q93_vocab_encode" -> "vocabulary broadcast back onto the token stream; ids from the two-phase rank — no single-partition window",
    "q99_partitioned_layout" -> "hive-partitioned write, then a pruned read: the scan lists only matching partition dirs",
    "q112_image_decode" -> "per-partition ImageIO decode seam (mapPartitions); no shuffle before the feature aggregate",
    "q114_stream_outer_join" -> "watermarked LEFT OUTER stream-stream replay; outer plan is the result scan",
    "q122_binary_ingest" -> "binaryFile source scan + sha2 projection; fingerprint agg is the only exchange",
    "q127_fuzzy_join" -> "block-key equi-join bounds candidates; levenshtein runs post-join — no cartesian",
    "q132_manifest_prune" -> "manifest consulted on the driver: the scan's file list is only the overlapping files; exact predicate re-applied",
    "q133_compaction" -> "the file rewrite IS the operator: read → repartition → write, one exchange by design",
    "q149_time_travel" -> "txn-log snapshot resolved driver-side; the scan reads exactly the snapshot's files",
    "q150_snapshot_diff" -> "change-feed read: only the chosen commit's added files are scanned",
    "q192_clamped_balance" -> "max-plus two-phase: (key,bin) running-sum window + a bins-row per-key window; NO collect_list history buffer",
    "q217_neardup_rate" -> "reads the shared component index; one id join + per-source agg — the pair graph is never re-derived",
    "q223_bpe_merges" -> "k bounded merge rounds, each one hash agg over adjacent pairs; per-round checkpoint keeps lineage flat",
    "q224_pq_search" -> "codebook distances broadcast (ADC); corpus codes scanned once, top-k via heap",
    "q225_pq_recall" -> "PQ shortlist vs exact truth on the |queries|-sized frames only; corpus scanned once per side",
    "q226_link_predict" -> "common-neighbor join through degree-capped adjacency; RA scores aggregate map-side",
    "q227_bpe_encode" -> "learned merges broadcast; encoding is a map-side pass + one token aggregate",
    "q228_image_dhash" -> "per-partition decode + dHash; the exchange carries 56-bit fingerprints, never pixels",
    "q229_negative_sample" -> "deterministic hash-pick negatives; one join against broadcast positives — no rand()",
    "q230_nb_classify" -> "token-likelihood table broadcast; train and score are two hash aggs over one token pass",
    "q233_minhash_recall" -> "planted pairs broadcast as truth; recall join runs over banded candidates only",
    "q234_bpe_fertility" -> "learned merges broadcast; per-language token/word sums in one corpus pass",
    "q235_centroid_classify" -> "|labels| centroids broadcast; the confusion matrix is one aggregate over the corpus scan",
    "q237_personalized_pr" -> "seeded rank iterations over the materialized adjacency; node-keyed joins, checkpointed lineage",
    "q238_kappa_agreement" -> "both classifiers evaluated in one scan; kappa from the |labels|² contingency aggregate",
    "q240_textrank" -> "per-doc collocation graph; rank rounds are node-keyed joins; top-k via heap",
    "q241_emd_drift" -> "per-segment value histograms once; EMD = CDF-gap sum over bin rows, raw values never re-scanned",
    "q243_stream_quota" -> "custom-state quota replay; outer plan is the result scan",
    "q245_bh_fdr" -> "the q221 drift family feeds a |segments|-row BH sweep — the only window runs over metadata-sized rows",
    "q247_best_threshold" -> "per-threshold confusion counts from one cumulative pass; argmax over |thresholds| rows",
    "q248_stream_trending" -> "watermarked leaderboard replay; outer plan is the result scan",
    "q249_bpe_curve" -> "the four merge depths share the learned-merge lineage; per-depth fertility aggs",
    "q251_fk_audit" -> "per-FK orphan counts via anti joins; every dim side broadcast",
    "q266_stream_neardup" -> "banded-batch replay vs the accumulated index; outer plan is the result scan (probe join asserted in ProbeStreamIndex: batch side broadcasts, index never reshuffles)",
    "q267_stream_psi" -> "per-batch PSI replay vs the pinned reference; outer plan is the result scan",
    "q292_stream_vector_ingest" -> "micro-batch IVF cell assignment replay; outer plan is the per-cell aggregate over the written slices",
    "q391_aqe_skew_join" -> "AQE splits the 90%-hot key at runtime: skew=true on the sort-merge join under scoped thresholds",
    "q121_line_dedup" -> "pseudo-line explode map-side; the frequency table is vocabulary-sized and re-joins broadcast — rebuild never shuffles text",
    "q177_survival" -> "entry/hit frames co-partitioned on user_id; horizon is a 1-row broadcast; KM fold over the day-sized risk table, no event-level window",
    "q236_audio_segments" -> "WAV synth + RIFF/PCM scan in ONE MapPartitions stage (one codec instance per task); only (doc_id, seg bounds) reach the exchange",
    "q239_label_outliers" -> "centroid stats are a |labels|-row aggregate broadcast back; the corpus scores map-side — no self-join, no window over vectors",
    "q395_winnowing" -> "packed (hash, pos) key makes rightmost-min a plain bounded window min — no argmin self-join; per-doc windows only",
    "q404_theta_sketch" -> "per-segment bottom-32 via window top-k (TwoPhase heap at scale); union/intersect algebra on the ≤5·32-row retained frame",
    "q405_borda_kendall" -> "each ranker's top-20 is TakeOrderedAndProject, never a global sort of part; Borda/Kendall on ≤60-row metadata",
    "q409_skipgram_pairs" -> "window leads per doc (no position self-join); both directions union BEFORE one count agg; TakeOrdered head",
    "q411_haar_wavelet" -> "calendar densify from a 1-row min/max broadcast; 3 bounded idx-div-2 aggregates — integer-exact, no per-level window",
    "q412_mutual_knn" -> "both directions broadcast-queries/one-corpus-scan (requireQueryBatch-guarded); backward pass scores ONLY forward hits — no pool×pool cartesian",
    "q416_set_cover" -> "anti-join of the covered broadcast sits BELOW the per-round aggregate; argmax is a 1-row collect; pair index checkpointed once",
    "q417_mutual_knn_ivf" -> "all eight direction passes are probed-cell equi-joins on the broadcast centroid assignment — never a full cross score; exact truth computed once and checkpointed",
    "q419_shapley_attribution" -> "ONE corpus-wide user aggregate; the 32-coalition lattice and both v() joins are broadcasts over a localCheckpoint'd <=32-row frame",
    "q421_cusum_control" -> "two windows (prefix sum, running min) over the per-day frame partitioned by type; baseline is a broadcast 1-row-per-type join — raw events never re-sort",
    "q424_bleu" -> "pair join keys on text equality once, checkpointed; each n-gram pass explodes ONLY the paired 5% slice, grouped counts both sides before the bounded join",
    "q425_sort_for_compression" -> "three independent bucketed windows partitioned by (key, orderkey div 4096) — no low-cardinality key ever owns a global window task",
    "q426_hierarchy_paths" -> "two pointer-jump self-joins on the ancestor key (horizon 4 >= depth 3); path concat rides the join, no per-level scan of the table",
    "q428_merkle_ranges" -> "both trees are 3 bounded hash aggregates (collect_list capped by fanout); the diff is one full-outer join on (level, node) carrying 32-char hashes only",
    "q429_mannwhitney_u" -> "rank window runs over the (type, cents) HISTOGRAM, not rows; the corpus pays one hash aggregate, U and the effect are integer algebra on 5 rows",
    "q430_kcenter_seeds" -> "emitted frame is the driver-built 8-row seed list (LocalTableScan here); the load-bearing per-round probe plan (centers broadcast-crossed, min per point, no point-point matrix) is asserted in PlanSpec",
    "q434_theilsen_slope" -> "pairs self-join the 31-row-per-type daily frame (broadcast at this size); the median rank window runs over 465 rows per type, events pay one rollup",
    "q435_delta_method_ci" -> "two hash aggregates (user totals, then moments); squares ride decimal(38) in the partial agg — the corpus shuffles user totals only",
    "q436_mips_transform" -> "both scoring paths are broadcast-queries over one corpus scan (native DotProduct, norms precomputed); the augmented side reuses the q45 two-phase k-heap — no matrix anywhere",
    "q437_simpson_flags" -> "customer-orders LEFT join then one customer-grain aggregate; stratum and pooled moments from the SAME frame, pooled is a 1-row broadcast",
    "q438_lof" -> "three staged knnL2 batches, each broadcast-queries over one corpus scan with per-partition k-heaps (no Window on the scored set); lrd/LOF are bounded folds over 5-row neighbor lists",
    "q440_levene_bf" -> "group medians from the (type, arm, cents) histogram window (value-domain sized); the deviation pass joins the broadcast 10-row median frame — rows never sort",
    "q38_stream_dedup" -> "dropDuplicatesWithinWatermark state keyed on user_id only (4 state partitions); the exchange carries (user_id, ts), eviction by the 30-day watermark",
    "q42_session_window" -> "complete-mode tumbling day agg: partial agg BEFORE the state-store exchange, state rows = |days|, not events",
    "q442_silhouette_scaled" -> "q209 with |sample| pinned ~128 by a count-derived mod: sample side BROADCASTS (BroadcastNestedLoopJoin), corpus scanned once — work is 128·n at every SF",
    "q443_semdedup_lsh" -> "one-pass 16-plane signature (broadcast plane row), cell = sig % pow2Above(n/32); within-cell join occupancy ~32-64 by construction — the quadratic is capped by the knob, not the data",
    "q444_range_count_rank" -> "NO join at all: two-phase prefix sum (every Window partitioned by __bin, offsets broadcast) — q62's count without enumerating one candidate pair",
    "q445_name_group_join" -> "dedup-before-block: groupBy(name) first, deletion variants explode map-side, candidate join on the variant key; exchanges carry (variant, gid) — members never replicate",
    "q446_er_groups" -> "q445's group pairs into min-label components; closure runs on |distinct names| nodes (driver holds round metadata only)",
    "q447_confirm_pruned" -> "est>=0.5 gate PUSHED into the stored pair index's parquet scan (PushedFilters); gated pairs broadcast against streamed texts; DP once per row behind a checkpoint barrier (project collapse re-ran it 4x without it)",
    "q448_radius_scaled" -> "q394's halo join with cell/radius from density: equi-join on (cx, cy), per-cell occupancy ~34 constant by the r² = C/n knob — candidates 300·n, never n²",
    "q449_ann_serving" -> "IVF assignment + PQ codes written bucketed on cell (Storage.writeBucketed); the search joins the CATALOG table — the stored side feeds the join from its buckets with no Exchange (PlanSpec walks the join subtree)",
    "q450_ivf_train_readout" -> "k=16 micro-Lloyd: per iteration one broadcast-centroid d2 aggregate + one (cell, dim) mean — never driver-side vectors; readout = 2 rows of exact integer distortion sums + recall hits",
    "q451_adc_search" -> "ADC over the stored codes: per-query LUT broadcasts (BroadcastHashJoin), the serving-table scan reads cell+id+codes with the embedding column PRUNED (ReadSchema), candidates score as 4 integer lookups summed map-side",
    "q452_stream_ttl_dedup" -> "dropDuplicatesWithinWatermark under the span/6 horizon; state keyed on user_id over day-truncated event times — eviction by the lag-2 watermark re-emits eras (the TTL contract the gate pins); ~30 one-day micro-batches, so wall time is batch-count x fixed replay cost",
    "q453_graph_ann" -> "graph build: cell-keyed self-join (occupancy bounded by the q443 knob) + per-src top-4 window; each beam hop is an id-keyed edges join + id-keyed corpus point-lookup join with the query batch broadcast — the corpus is never scanned on the search path",
    "q455_late_data_audit" -> "per-day replay with the %17 stream delayed 3 batches; the watermarked dedup passes survivors through, the ledger joins delivered counts back to batch totals; ~33 micro-batches x fixed replay cost dominates",
    "q456_audio_fingerprint" -> "synth + javax.sound parse + 6-stage WHT all inside one mapPartitions seam; only (doc_id, fp) shuffles — the group join keys on the 64-bit fingerprint",
    "q457_quantile_merge" -> "per-shard CDF windows partitioned by shard over the value-domain histogram; the 256-row summary union is metadata; the exact side is a TwoPhase prefix sum (no single-partition window over data)",
    "q458_adaptive_nprobe" -> "per-leg probed cell joins widen with the derived nprobe (broadcast centroids, two-phase top-k); the truth side is the eval's exact scan — the serving path itself never exceeds the probed cells; selectivity estimate = one histogram aggregate",
    "q459_histogram_selectivity" -> "TwoPhase global rank builds the 32-row histogram (range-binned parallel windows, never a single-partition sort); estimation is a 32x5 broadcast fold; the exact side one conditional pass with map-side combine",
    "q460_ivf_cell_split" -> "one broadcast-centroid assignment pass (checkpointed, read by count + argmax + split); the split ranks only the hot cell's members — a |cell|-row window, not a corpus one"
  )

  // Dumped plans are NORMALIZED so a no-plan-change commit regenerates the
  // same text: exprIds renumbered by first appearance, volatile
  // ids/statistics/paths canonicalized. Real plan changes still read as
  // real diffs, and the fingerprint table turns "did any plan move?" into a
  // one-line diff per changed key.
  //
  // Expand operators are generated from expression-set traversals whose
  // order tracks the RAW exprId values, so identical code prints them
  // differently run to run — and the first-appearance renumbering then
  // cascades that one reordered line through every later id in the plan.
  // [[canonExpandArgs]] puts every Expand in a canonical form before
  // renumbering.

  /** Top-level comma split of a bracketed list's inside. */
  private def splitTop(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var depth = 0; var start = 0; var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '[' | '(' => depth += 1
        case ']' | ')' => depth -= 1
        case ',' if depth == 0 =>
          out += s.substring(start, i).trim; start = i + 1
        case _ => ()
      }
      i += 1
    }
    out += s.substring(start).trim
    out.toSeq
  }

  private def unbracket(s: String): Seq[String] = splitTop(s.drop(1).dropRight(1))

  private def stripIds(s: String): String = s.replaceAll("#\\d+", "#")

  private val NodeHeader = "^\\(\\d+\\) ([A-Za-z]+)".r

  /** Canonical Expand text. Every Expand's projections are sorted by their
    * id-stripped text (ties keep input order). The distinct-aggregate
    * rewrite's Expand (output `…, gid#n, …`) also numbers its distinct
    * groups, and orders their columns, by hash-map iteration over raw
    * exprIds, so two builds of one query can permute those columns and gid
    * literals through every later list and `FILTER (WHERE (gid#n = k))`;
    * [[distinctGroups]] ranks them by text instead. */
  private[graft] def canonExpandArgs(plan: String): String = {
    var inExpand = false
    val expandArgs = plan.split("\n", -1).filter { line =>
      NodeHeader.findFirstMatchIn(line).foreach(h => inExpand = h.group(1) == "Expand")
      inExpand && line.startsWith("Arguments: [[")
    }
    expandArgs.distinct.foldLeft(plan) { (text, line) =>
      splitTop(line.stripPrefix("Arguments: ")) match {
        case Seq(projList, outList) =>
          val projs = unbracket(projList)
          val (canonProjs, canonOut, rewrite) =
            distinctGroups(projs.map(unbracket), unbracket(outList))
              .getOrElse((projs, outList, identity[String] _))
          val canon = "Arguments: [" + canonProjs.sortBy(stripIds).mkString(", ") + "], " + canonOut
          text.split("\n", -1).map(l => if (l == line) canon else rewrite(l)).mkString("\n")
        case _ => text
      }
    }
  }

  /** For a distinct-aggregate Expand: its projections and output list with
    * the group columns and gids in rank order (groups ranked by their
    * columns' id-stripped text), and the rewrite that carries that order
    * into every other line. None for any other Expand. */
  private def distinctGroups(projs: Seq[Seq[String]], out: Seq[String])
      : Option[(Seq[String], String, String => String)] = {
    val gi = out.indexWhere(_.matches("gid#\\d+"))
    // group columns: before gid and null in some projection (the group-by
    // keys before them never are)
    val cols = (0 until math.max(gi, 0)).filter(c => projs.exists(_(c) == "null"))
    if (gi < 0 || cols.isEmpty || cols != (cols.head to cols.last) ||
        projs.exists(p => p.size != out.size || !p(gi).matches("\\d+"))) None
    else {
      def own(p: Seq[String]) = cols.filter(p(_) != "null").sortBy(c => stripIds(p(c)))
      val ranked = projs.filter(own(_).nonEmpty)
        .sortBy(p => own(p).map(c => stripIds(p(c))).mkString(","))
      val gid = ranked.map(_(gi)).zip(ranked.map(_(gi)).sortBy(_.toInt)).toMap
      val order = ranked.flatMap(own).distinct
      val perm = out.indices.map(c => if (cols.contains(c)) order(cols.indexOf(c)) else c)
      val seq = ("(?<![\\w#])" + Pattern.quote(cols.map(out).mkString(", ")) + "(?![\\w#])").r
      val newSeq = Matcher.quoteReplacement(order.map(out).mkString(", "))
      val gidRef = ("\\(" + Pattern.quote(out(gi)) + " = (\\d+)\\)").r
      Some((
        projs.map(p => perm.map(p).updated(gi, gid.getOrElse(p(gi), p(gi))).mkString("[", ", ", "]")),
        perm.map(out).mkString("[", ", ", "]"),
        l => gidRef.replaceAllIn(seq.replaceAllIn(l, newSeq), m =>
          Matcher.quoteReplacement(s"(${out(gi)} = ${gid.getOrElse(m.group(1), m.group(1))})"))))
    }
  }

  private[graft] def normalize(plan: String): String = {
    val ids = scala.collection.mutable.HashMap[String, Int]()
    val idRe = "#(\\d+)".r
    val renumbered = idRe.replaceAllIn(canonExpandArgs(plan),
      m => "#" + ids.getOrElseUpdate(m.group(1), ids.size + 1))
    renumbered
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("\\[id=#?\\d+\\]", "[id=x]")
      .replaceAll("Statistics\\([^)]*\\)", "Statistics(x)")
      .replaceAll("file:[^\\s,\\)\\]]+", "<path>")
      .replaceAll("\\(\\d+ paths?\\)", "(x paths)")
      .replaceAll("graft_stream_\\d+", "graft_stream_x")
      .replaceAll("MapPartitionsRDD\\[\\d+\\]", "MapPartitionsRDD[x]")
      .replaceAll("rdd_\\d+_\\d+", "rdd_x")
      // call sites of checkpoints (`localCheckpoint at Dedup.scala:637`):
      // an edit above the call moves the line, not the plan
      .replaceAll("\\.scala:\\d+", ".scala:x")
      // JVM identity leaks: byte-array/bloom toStrings, lambda classes
      .replaceAll("@[0-9a-f]{4,}", "@x")
      .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda\\$x/0xx")
      // codegen STAGE numbering depends on subquery scheduling order and
      // varies run-to-run on an identical tree — the spans themselves
      // (which operators fuse) are what matters and they stay visible
      .replaceAll("codegen id : \\d+", "codegen id : x")
      .replaceAll("WholeStageCodegen \\(\\d+\\)", "WholeStageCodegen (x)")
      // a whole-line bare integer Arguments is a WholeStageCodegen's
      // stage id (real argument lists are never a lone number)
      .replaceAll("(?m)^Arguments: \\d+$", "Arguments: x")
  }

  /** sha256-48 of a normalized plan: the PLANS.md fingerprint. */
  private[graft] def fp(normalized: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(normalized.getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString

  /** Executes `df` through its own QueryExecution and returns the formatted
    * AQE-final plan, raw. */
  private[graft] def finalPlan(df: DataFrame): String = {
    df.queryExecution.toRdd.foreach(_ => ())
    df.queryExecution.explainString(ExplainMode.fromString("formatted")).trim
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Bench.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    def plan(key: String): String =
      try normalize(finalPlan(SparkEntry.queries(key)(spark, dir)))
      finally spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    args.drop(1) match {
      case Array(outDir, keyList) =>
        Files.createDirectories(Paths.get(outDir))
        keyList.split(",").map(_.trim).filter(_.nonEmpty).foreach { key =>
          Files.writeString(Paths.get(outDir, s"$key.txt"), plan(key) + "\n")
          println(s"[dumpplans] wrote $outDir/$key.txt")
        }
      case Array() =>
        val sb = new StringBuilder
        sb.append(s"# PLANS — executed physical plan fingerprints (${Paths.get(dir).getFileName}, AQE-final)\n\n")
        sb.append("Generated by `graft.examples.DumpPlans`: one row per registered key,\n")
        sb.append("the sha256-48 of its normalized executed plan and what to look for in\n")
        sb.append("it (`PlanSpec` asserts these properties in CI). A changed hash = a\n")
        sb.append("changed physical plan (exprIds/statistics/paths/codegen-stage\n")
        sb.append("numbering/JVM identities canonicalized). Caveat: ~10 keys sit on\n")
        sb.append("AQE decision boundaries (runtime shuffle coalescing / exchange\n")
        sb.append("reuse), so their FINAL plans genuinely vary run-to-run. The full\n")
        sb.append("normalized text a row hashes comes from\n")
        sb.append("`DumpPlans <sfDir> <outDir> <key,...>`.\n\n")
        sb.append("| key | plan fp | what to look for |\n|---|---|---|\n")
        SparkEntry.queries.keys.toSeq.sorted.foreach { key =>
          val note = notes.getOrElse(key, "").replace("|", "\\|")
          sb.append(s"| $key | `${fp(plan(key))}` | $note |\n")
        }
        Files.writeString(Paths.get("PLANS.md"), sb.toString)
        println(s"wrote PLANS.md (${sb.length} chars)")
      case _ =>
        sys.error("usage: DumpPlans [sfDir] | DumpPlans <sfDir> <outDir> <key,...>")
    }
    spark.stop()
  }
}
