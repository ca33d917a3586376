"""All driver-contract query registrations, grouped by SURVEY.md §2 area.

One `register(...)` call per implemented operator demonstration. This file
is the single auditable map from the §2 inventory to runnable queries.

ORDERING CONTRACT: the driver's correctness gate samples the FIRST 50
registered queries in registration order. Every query that is NEW or
MATERIALLY CHANGED in the current round MUST sit inside that window
(CLAUDE.md rule; round-4 verdict "What's wrong" #2 flagged the two
round-4 newcomers registered past it).

Round-14 window: NEW rows lang_top_docs (the grouped_topk oracle gate —
round-13 verdict Next #6; melt_wide96_chunked ceded, r11..r13-green and
unchanged), ann_index_two_level_residual (the composed two-level ×
residual store — round-13 verdict Next #2; quantile_sketch_values
ceded, long-green and unchanged, its incremental twin stays in-window),
and ann_topk_same_lang (filtered vector search — the attribute equality
composed into the candidate join key; ewma_event_forecast ceded,
r12-green and unchanged); CHANGED rows — the whole PQ serving family
(ann_topk_ivfpq, ann_topk_spilled, ann_topk_residual_spilled,
ann_index_spilled, ann_index_residual, ann_index_two_level_pq,
ann_topk_incremental, ann_index_two_level: ext/similarity._pq_rank is
now the shared pipeline with a mode-conditional gather — a helper
change the fn-source hash cannot see, kept in-window per the CLAUDE.md
manual rule) and url_manifest_fetch_melt (docstring local-mode note —
comment-only but the hash sees it).

Round-13 window: NEW rows ann_index_two_level_pq (the two-level ×
trained-plain-PQ composition) and url_manifest_fetch_melt (the S1
fleet-scale fetch path under the value gate); CHANGED rows — the six
global_topk migrations (bm25_top_docs, weighted_sample_docs,
pagerank_top_parties, zipf_fit_tokens, bigram_pmi_collocations,
trending_tokens — round-12 verdict Next #2; the last five rotated back
in from TIER 2, five long-green unchanged rows ceding:
fuzzy_name_matches, scd2_event_type_intervals, data_quality_report,
winnow_overlap_pairs, unigram_nll_scores), spatial_knn_multires (gains
provably_exact), and the whole ann_index_* family + ann_topk_incremental
+ ann_topk_residual_spilled (ext/ann_index.py: _pq_rank pre-gathers
corpus codes per cell — the serving-leg trim; knob validation; two-level
retrain reads a codebook — helper changes the fn-source hash cannot see,
kept in-window per the CLAUDE.md manual rule). video_decode_stats and
adpcm_roundtrip_stats slid just past the window (both r12-green,
unchanged in r13).
`tests/test_registry_order.py` enforces the rule mechanically against a
committed source-hash manifest; close every rotation with
`python tools/round_close.py` (runs the refresh + the ordering test).
"""

from __future__ import annotations

from scripts_toolkit_spark.contract import register
from scripts_toolkit_spark.plans import analytics

# ============================================================================
# TIER 1 — round-5 NEW or materially CHANGED (must be driver-sampled).
# ============================================================================
from scripts_toolkit_spark.plans import corpus_demos as cd
from scripts_toolkit_spark.plans import ext_demos as xd

# NEW (r5 wave 3): scalable statistics (plans/analytics6.py) — partial
# top-k (operators/topk.py), one-pass OLS trend / correlation matrix from
# exact decimal sufficient statistics, MAD robust outliers
from scripts_toolkit_spark.plans import analytics6 as a6

# NEW (r5 wave 4): perceptual image dedup — decoded-pixel dHash paired via
# the simhash64 multi-block combination machinery
from scripts_toolkit_spark.plans import ext_demos2 as _x2img

# (r7 rotation: image_dhash_near_dups and name_graph_triangles ceded
# their window seats to the NEW ann_index_health / ann_index_retrain —
# both r6-green in CORRECTNESS_r06 and unchanged in r7; parked in TIER 2.)
# NEW (r7): cluster-operator toolkit (plans/scale_demos.py) — key-skew
# profile, join-cardinality probe without executing the join, distributed-
# prefix-sum token-budget selection, z-order data-skipping stats. Four
# unchanged r6-green rows (purchase_asof_next_click,
# bigram_pmi_collocations, hll_set_ops, trending_tokens) ceded their
# seats and sit in TIER 2.
from scripts_toolkit_spark.plans import scale_demos as sd
from scripts_toolkit_spark.plans import taxonomy as _tax15

# Helper-change rotation: `normalize_vectors` now folds each vector's norm
# once per row and `quantize_embeddings` takes each row's int8 scale once
# (ext/similarity.py; bit-identical outputs, pinned by
# tests/test_vector_row_constants.py) — a helper change the fn-source hash
# cannot see, so every registered caller sits in the window per the
# CLAUDE.md rule. The other callers (the ANN store rows, whose verbs also
# read store files with footer schemas, and image_dhash_near_dups) were
# already in-window. Thirteen unchanged rows that reach neither helper
# ceded their seats and register just past the window.
from scripts_toolkit_spark.plans import ext_demos2 as x2
from scripts_toolkit_spark.plans import media_demos as md

register("ann_two_level_assign", xd.ann_two_level_assign, xd.ANN_TWO_LEVEL_ASSIGN_SQL)
register("ann_threshold_cells", xd.ann_threshold_cells, xd.ANN_THRESHOLD_CELLS_SQL)
register("ann_topk_int8", xd.ann_topk_int8, xd.ANN_TOPK_INT8_SQL)
register(
    "embedding_quantization_stats",
    x2.embedding_quantization_stats,
    x2.EMBEDDING_QUANTIZATION_STATS_SQL,
)
register(
    "audio_fingerprint_near_dups",
    x2.audio_fingerprint_near_dups,
    x2.AUDIO_FINGERPRINT_NEAR_DUPS_SQL,
)
register("video_decode_stats", md.video_decode_stats, md.VIDEO_DECODE_STATS_SQL)
register("adpcm_roundtrip_stats", md.adpcm_roundtrip_stats, md.ADPCM_ROUNDTRIP_STATS_SQL)
register(
    "video_frame_sample_stats",
    md.video_frame_sample_stats,
    md.VIDEO_FRAME_SAMPLE_STATS_SQL,
)
register("video_scene_cuts", md.video_scene_cuts, md.VIDEO_SCENE_CUTS_SQL)
register("image_decode_stats", xd.image_decode_stats, xd.IMAGE_DECODE_STATS_SQL)
register("audio_decode_stats", xd.audio_decode_stats, xd.AUDIO_DECODE_STATS_SQL)
register("image_resize_stats", xd.image_resize_stats, xd.IMAGE_RESIZE_STATS_SQL)
register("audio_resample_stats", xd.audio_resample_stats, xd.AUDIO_RESAMPLE_STATS_SQL)

# r15 rotation: the hierarchy trio returns to the window — their fn
# bodies CHANGED this round (edge-frame materialization cut the 4x-
# inlined union subtree / ~2 s plan compile; results identical, tri-SF
# oracle green). join_key_skew_report, join_size_probe and
# zorder_layout_stats ceded (r4/r5-green, scale_demos.py untouched this
# round; parked in TIER 2).
register("hierarchy_paths", _tax15.hierarchy_paths, _tax15.HIERARCHY_PATHS_SQL)
register("hierarchy_paths_deep", _tax15.hierarchy_paths_deep, _tax15.HIERARCHY_PATHS_DEEP_SQL)
register("hierarchy_classify", _tax15.hierarchy_classify, _tax15.HIERARCHY_CLASSIFY_SQL)
register("token_budget_sample", sd.token_budget_sample, sd.TOKEN_BUDGET_SAMPLE_SQL)
# NEW (r11 wave 2): runtime Bloom-filter semijoin reduction — the
# pre-shuffle fact-table prune (128 KB md5-deterministic bitmap folded from
# the build keys, map-side candidate drop, exact join over survivors);
# the oracle replays the bitmap bit-for-bit, false positives included
# (cdc_latest_state ceded its seat — r5-green, unchanged; parked in
# TIER 2).
register("bloom_semijoin_prune", sd.bloom_semijoin_prune, sd.BLOOM_SEMIJOIN_PRUNE_SQL)
# NEW (r11 wave 2): grid-bucketed spatial radius join — the all-pairs-free
# spatial join family (operators/spatial.py): radius-sized cells, 9-cell
# neighbor explode, cell EQUI-join candidates, planar-squared refine
# (no libm trig — cross-engine exact). bpe_merge_table ceded its seat —
# long-green, unchanged; parked in TIER 2.
from scripts_toolkit_spark.plans import spatial_demos as spd

# NEW (r11 wave 2): bounded kNN for a 64-query md5 cap — ST_DWithin +
# rank semantics, two-stage global_topk query pick, 9-cell candidate
# equi-join, per-query rank over the density-bounded candidate set
# (semantic_dedup_drops ceded its seat — r5-green, unchanged; its r8
# threshold twin keeps a seat; parked in TIER 2).
# NEW (r12): unbounded-in-practice kNN — the fixed-ring multi-resolution
# grid (round-11 verdict "What's missing" #3: grid_knn's radius bound was
# the documented gap; the 4-level doubling pyramid stops each query at
# the first level whose 3×3 block provably holds its true top-k)
# (minhash_near_dups ceded its seat — r11-changed but r11-green and
# ext/dedup.py unchanged this round; parked just past the window).
# NEW (r11 wave 2): batch twin of the 10th streaming store
# (streaming/bloom_stream.py) — incremental Bloom membership: per-batch
# word partials merge by bit_or (associative + commutative + IDEMPOTENT,
# so merged == one-shot bit-exact and duplicate batches cannot corrupt
# state); probe flags urgent (always true — no false negatives) vs high
# keys (deterministic md5 FPs only). document_chunks_bpe ceded its seat —
# long-green, unchanged; parked in TIER 2.
register(
    "incremental_bloom_members",
    sd.incremental_bloom_members,
    sd.INCREMENTAL_BLOOM_MEMBERS_SQL,
)
# NEW (r6): IVF n_probe tuning report — one ranked assignment pass sliced
# per ladder level, candidate cost vs bounded-exact recall@3 (the sweep
# the round-5 verdict asked for; audio_fingerprint_near_dups ceded its
# window seat — r5-green, unchanged materially)
register("ann_probe_sweep", xd.ann_probe_sweep, xd.ANN_PROBE_SWEEP_SQL)
# NEW (r5 wave 4): entity-resolution capstone (fuzzy pairs → components →
# golden record) + distribution window functions (ntile/percent_rank/cume)
from scripts_toolkit_spark.plans import retrieval_demos as rv

register("entity_golden_records", rv.entity_golden_records, rv.ENTITY_GOLDEN_RECORDS_SQL)
# NEW (r6): hybrid lexical+dense retrieval fused by reciprocal-rank fusion
# (banded char-ngram Jaccard leg + bounded exact-cosine leg;
# order_value_deciles ceded its window seat — r5-green, unchanged)
register("hybrid_rrf_search", rv.hybrid_rrf_search, rv.HYBRID_RRF_SEARCH_SQL)
from scripts_toolkit_spark.plans import join_demos as _jd5

# CHANGED (r7): open-vocab / large-strata rankings switched to the
# two-stage partial top-k (operators/topk.global_topk / grouped_topk —
# round-6 verdict Next #4); event_pattern_matches + markov_transitions
# ceded their seats (r6-green, unchanged) and sit in TIER 2.
from scripts_toolkit_spark.plans import analytics2 as a2
from scripts_toolkit_spark.plans import events_demos as ed

register("token_frequencies", cd.token_frequencies, cd.TOKEN_FREQUENCIES_SQL)
# NEW (r14): the oracle gate for operators/topk.grouped_topk (round-13
# verdict Next #6 — the per-group two-stage ranker was pytest-only):
# per-language top-10 docs by token count over the 5-language corpus
# whose `en` group holds ~44% of rows — the skewed few-large-groups case
# the operator exists for. melt_wide96_chunked ceded its seat (#50 → #51
# by this insertion — r11..r13-green, unchanged; parked just past the
# window).
register("lang_top_docs", cd.lang_top_docs, cd.LANG_TOP_DOCS_SQL)
register("stratified_sample_by_lang", a2.stratified_sample_by_lang, a2.STRATIFIED_SAMPLE_BY_LANG_SQL)
# NEW (r7): CCNet-style head/middle/tail perplexity bucketing — unigram
# avg-NLL scores cut at per-lang exact interpolated tertiles
# (time_to_first_purchase ceded its seat — r6-green, unchanged).
register("perplexity_buckets", cd.perplexity_buckets, cd.PERPLEXITY_BUCKETS_SQL)
# NEW (r11): sketch-thresholded twin (round-10 verdict Next #8) — the
# exact per-lang interpolated tertile was the one remaining per-group
# full-buffer aggregate at 100 TB; the bottom-k (k=256) rank-sample cut
# is bounded-state + mergeable, and the row REPORTS the per-lang
# bucket-agreement rate vs the exact cut (pytest floor 0.875 = the
# two-threshold rank-error bound). perplexity_buckets itself is CHANGED
# (scoring factored into _doc_avg_nll, shared by both rows) — it keeps
# its in-window seat (mixture_sample_rates ceded — long-green,
# unchanged; parked in TIER 2).
register(
    "perplexity_buckets_sketch",
    cd.perplexity_buckets_sketch,
    cd.PERPLEXITY_BUCKETS_SKETCH_SQL,
)
# NEW (r11): DSIR-style data selection (public: Xie et al. 2023) —
# hashed-ngram importance weights between the lang='en' target slice and
# the raw corpus (B=1024 md5 buckets, add-1 smoothing, exact-decimal
# per-doc Σ c·λ), global top-200 through the two-stage partial top-k.
# The classifier-free curation selector beside quality scoring and the
# mixture sampler (near_dup_clusters left the window — green since r3,
# unchanged, judge re-verified in r10; parked position unchanged).
register(
    "dsir_importance_weights",
    cd.dsir_importance_weights,
    cd.DSIR_IMPORTANCE_WEIGHTS_SQL,
)
# NEW (r12): the corpus-prep capstone composed with the r11 selection
# stack (round-11 verdict Next #6) — quality → canonical dedup → gate →
# DSIR importance ACCEPTANCE (u < logistic(weight/2), the deterministic
# Bernoulli form of importance resampling) → token-budget prefix-sum
# cut; every stage an oracle-proven fragment
# (incremental_dedup_pairs ceded its seat — green since r3, ext/dedup.py
# unchanged this round; parked just past the window).
register("corpus_prep_dsir", cd.corpus_prep_dsir, cd.CORPUS_PREP_DSIR_SQL)
# NEW (r12): the sequence PACKER itself — packing_efficiency_report
# prices the strategies, this op materializes the shard-packed
# assignment (doc → global seq_id / token offset / sequences spanned)
# via the two-level prefix-sum machinery; all-integer, bit-replayable
# (video_scene_cuts ceded its seat — r11-green, media_demos.py oracle
# unchanged for it this round; parked just past the window).
register(
    "sequence_pack_assignments",
    cd.sequence_pack_assignments,
    cd.SEQUENCE_PACK_ASSIGNMENTS_SQL,
)
# NEW (r14): FILTERED vector search — attribute-constrained ANN (the
# FAISS IDSelector / pgvector WHERE+ORDER BY shape): same-language
# top-3 with the language EQUALITY composed into the candidate join key
# (cell_id, lang) — pruned before the shuffle, never a post-filter.
# Exhaustive-probe == brute-force-restricted pinned in pytest.
# (ewma_event_forecast ceded its seat — r12-green, unchanged since;
# parked just past the window.)
register("ann_topk_same_lang", xd.ann_topk_same_lang, xd.ANN_TOPK_SAME_LANG_SQL)
# r15 rotation: near_dup_clusters + embedding_dup_clusters rotate IN —
# their shared operator changed this round (connected_components:
# observe()-fused convergence probe + coalesced_tiny_shuffles scope; a
# helper change the fn-source hash cannot see, rotated manually per the
# CLAUDE.md rule; tri-SF oracle green). winsorized_value_stats and
# ab_test_value_ttest ceded (r5-green, analytics6.py untouched this
# round; parked in TIER 2).
from scripts_toolkit_spark.plans import ext_demos2 as _x2cc

# r14 rotation: chisq_event_type_bucket + ab_test_ks_stat ceded their
# seats (r5..r13-green, analytics6.py untouched this round; parked in
# TIER 2) for the two near-dup rows whose bodies changed in the r14
# optimization pass: winnow_overlap_pairs (materialization boundary
# moved to the exploded fingerprints) and image_dhash_near_dups (corpus
# repartition hoisted above the quantize projection).
register(
    "image_dhash_near_dups", _x2img.image_dhash_near_dups, _x2img.IMAGE_DHASH_NEAR_DUPS_SQL
)
# NEW (r10): residual encoding × spilled assignment — the best-recall
# IVF-PQ configuration (0.965 trained / pytest floor 0.9), in its seeded
# deterministic form so the RESIDUAL code path gains its first full SQL
# oracle: per-(vector, cell) residual codes + per-cell residual LUTs +
# ADC + DISTINCT + rerank all replayed in SQL (incremental_cms_hitters
# ceded its seat — r7..r9-green, unchanged; parked in TIER 2).
register(
    "ann_topk_residual_spilled",
    xd.ann_topk_residual_spilled,
    xd.ANN_TOPK_RESIDUAL_SPILLED_SQL,
)
# NEW (r10): batch twin of the streaming bottom-k quantile monitor
# (streaming/quantile_stream.py) — per-batch sample partials merged by
# union + re-prune; merged state == one-shot sketch, so the oracle is
# the one-shot replay (packing_efficiency_report ceded its seat —
# r5..r9-green, unchanged; parked in TIER 2).
# NEW (r5 wave 2): sparse retrieval (ext/retrieval.py) — BM25 ranking +
# inverted-index posting lists; blocked edit-distance record linkage
# (operators/linkage.py); A-ES weighted sampling without replacement
from scripts_toolkit_spark.plans import retrieval_demos as rv

# r13 rotation: the five other bare-global-window queries migrated to
# operators/topk.global_topk this round (round-12 verdict Next #2 /
# "What's wrong" #2) hold in-window seats with bm25_top_docs; five
# long-green unchanged rows ceded (fuzzy_name_matches,
# scd2_event_type_intervals, data_quality_report, winnow_overlap_pairs,
# unigram_nll_scores — all parked in TIER 2).
from scripts_toolkit_spark.plans import ext_demos2 as _x2pr

# NEW (r5 wave 2): temporal/CDC shapes (operators/spans.py) — SCD2 interval
# build + changelog latest-wins apply (the MERGE INTO plan)
from scripts_toolkit_spark.plans import events_demos as ed

# (r13: scd2_event_type_intervals / data_quality_report ceded — parked in
# TIER 2 with the other three.)
# NEW (r5 wave 2): Deequ-style one-scan constraint suite (operators/checks.py)
from scripts_toolkit_spark.plans import dq_demos as dq

# NEW (r5 wave 2): SemDeDup-style semantic dedup over √N IVF cells
from scripts_toolkit_spark.plans import ext_demos2 as _x2sem

# (r11 wave 2: semantic_dedup_drops ceded its seat — r5-green, unchanged;
# parked in TIER 2 — to make room for spatial_knn.)
# NEW (r8): the forced-threshold-pick twin — the extreme-N branch
# (distributed pick, no driver collect) under its own full SQL oracle.
register(
    "semantic_dedup_threshold_drops",
    _x2sem.semantic_dedup_threshold_drops,
    _x2sem.SEMANTIC_DEDUP_THRESHOLD_DROPS_SQL,
)

# NEW: BPE subword tokenization (ext/bpe.py) — merge-table training +
# subword-chunked twin of document_chunks
# (r11 wave 2: bpe_merge_table and document_chunks_bpe ceded their seats
# — long-green, unchanged; parked in TIER 2 — to make room for
# spatial_radius_pairs and incremental_bloom_members.)
# NEW: winnowing substring-overlap dedup (MOSS fingerprints) + unigram-LM
# quality scoring + Bloom-filter decontamination pre-pass
register("bloom_decontamination", cd.bloom_decontamination, cd.BLOOM_DECONTAMINATION_SQL)
# NEW: iterative fixed-point PageRank (operators/graph.py) — the
# join→aggregate-per-round algorithm shape under the exact oracle gate
from scripts_toolkit_spark.plans import ext_demos2 as x2

# (r11 rotation: pagerank_top_parties, charngram_lang_id and
# mixture_sample_rates ceded their seats — all long-green and unchanged
# in r11; parked in TIER 2 — to make room for ann_index_residual,
# melt_wide96_chunked and perplexity_buckets_sketch.)
# NEW: batch twin of the streaming winnowing dedup (wave attribution)
register("incremental_winnow_pairs", xd.incremental_winnow_pairs, xd.INCREMENTAL_WINNOW_PAIRS_SQL)
# (r11: containment_dup_pairs ceded its seat too — r4..r10-green,
# unchanged — so the hierarchy trio stays fully in-window after
# dsir_importance_weights took a seat; parked in TIER 2.)
# CHANGED: multi-block combination pairing (ext/dedup.simhash64_candidates)
register("simhash64_near_dups", xd.simhash64_near_dups, xd.SIMHASH64_NEAR_DUPS_SQL)
# CHANGED (r6): per-(query, probed cell) ADC shortlists + union rerank
register("ann_topk_ivfpq", xd.ann_topk_ivfpq, xd.ANN_TOPK_IVFPQ_SQL)
# NEW (r9): spilled corpus assignment (FAISS multiple-assignment / ScaNN
# SOAR) — the candidate-bound seeded-recall fix; recall 0.62 → 0.82 at
# the pytest config (near_dup_clusters ceded its window seat — green
# since r3, unchanged)
register("ann_topk_spilled", xd.ann_topk_spilled, xd.ANN_TOPK_SPILLED_SQL)
register("ann_topk_ivf", xd.ann_topk_ivf, xd.ANN_TOPK_IVF_SQL)
# NEW (r6): persistent ANN index — train-once parquet store (round-trip
# checked: the summary reads BACK from the store) + assign-only late-batch
# ingestion with base-trained centroids (ext/ann_index.py)
register("ann_index_build", xd.ann_index_build, xd.ANN_INDEX_BUILD_SQL)
register("ann_topk_incremental", xd.ann_topk_incremental, xd.ANN_TOPK_INCREMENTAL_SQL)
# NEW (r10): spilled assignment ported into the PERSISTENT index (round-9
# verdict Next #1): n_home=2 build persists the width in {path}/meta, the
# late-batch append reads it back (no caller re-threading), and the IVF
# search probes ALL stored copies with a pair dedup. The whole r10
# ext/ann_index.py store-schema change (probe_rank column, home-only
# query/rerank legs) also materially touches the four rows above — all
# in-window (ann_two_level_assign ceded its seat — r7..r9-green,
# similarity.py unchanged this round).
register("ann_index_spilled", xd.ann_index_spilled, xd.ANN_INDEX_SPILLED_SQL)
# NEW (r11): RESIDUAL encoding ported into the PERSISTENT index (round-10
# verdict Next #1 — the direct sequel to the r10 spill port): residual is
# an index property in {path}/meta beside n_home; build self-constructs
# the seeded residual codebook (the exact ivfpq_topk construction, shared
# via seeded_residual_codebook_rows), /codes holds PER-COPY residual
# codes, append residual-encodes late batches with the stored model, and
# search(use_pq=True) builds one residual LUT per (query, probed cell).
# Stored-search == ad-hoc ivfpq_topk(residual=True, n_home=2)
# bit-identical and trained recall >= 0.9 pytest-pinned
# (pagerank_top_parties ceded its seat — r5..r10-green, unchanged;
# parked in TIER 2).
register("ann_index_residual", xd.ann_index_residual, xd.ANN_INDEX_RESIDUAL_SQL)
# NEW (r7): ANN index lifecycle (round-6 verdict Next #3) — staleness
# report (occupancy skew + appended-since-train fraction, one hash-agg
# scan) and in-place retrain (re-pick + re-assign; == fresh build, so the
# oracle is the full-corpus build replay). The store itself gained
# batch_id partitioning + PQ-codes append parity (round-6 ADVICE #1/#2).
register("ann_index_health", xd.ann_index_health, xd.ANN_INDEX_HEALTH_SQL)
register("ann_index_retrain", xd.ann_index_retrain, xd.ANN_INDEX_RETRAIN_SQL)
# NEW (r12): the extreme-N assignment chain reaches the PERSISTENT store
# (round-11 verdict "What's missing" #1 / Next #2): build_ann_index(
# two_level=True) picks by the distributed md5 threshold, assigns
# coarse-to-fine, records the routing in {path}/meta; search/append/
# retrain read it back — no store verb collects √N centroids anymore
# (hierarchy_paths ceded its seat — green since r4, operators/graph.py
# unchanged this round; parked in TIER 2).
register("ann_index_two_level", xd.ann_index_two_level, xd.ANN_INDEX_TWO_LEVEL_SQL)
# NEW (r13): compressed-domain search on a TWO-LEVEL store (round-12
# verdict Next #3 / "What's missing" #1): the two_level × plain-PQ
# exclusion is lifted for FIXED-SIZE codebooks (n_codes independent of N
# — the model collect is KB at any corpus size; the seeded-residual
# construction keeps its exclusion since its n_codes ∝ √N). The oracle
# replays threshold pick → super routing → two-level assignment → PQ
# encode → per-(query, cell) ADC top-24 → cosine rerank in SQL.
register(
    "ann_index_two_level_pq", xd.ann_index_two_level_pq, xd.ANN_INDEX_TWO_LEVEL_PQ_SQL
)
# NEW (r14): RESIDUAL codes on the two-level store (round-13 verdict Next
# #2 — the r13 exclusion closed): per-copy residual encode + per-(query,
# cell) residual LUT search resolve centroids by EQUI-JOIN against the
# centroid frame (attach_pq_lut centroid_col / _encode_codes_residual
# distributed=True) — no O(n_cells) collect; caller-provided fixed-size
# codebook (seeds' residuals wrt the threshold centroids, frame-built).
# quantile_sketch_values ceded seat #50 by this insertion (r10..r13-
# green, unchanged; its incremental twin keeps its in-window seat).
register(
    "ann_index_two_level_residual",
    xd.ann_index_two_level_residual,
    xd.ANN_INDEX_TWO_LEVEL_RESIDUAL_SQL,
)
# NEW (r13): the S1 fleet-scale fetch path under the value gate (round-12
# verdict Next #5 — fetch_manifest was pytest-only): file:// manifest →
# Arrow-batched per-partition fetch → bytes parsed back with column
# expressions; the missing-file row value-gates the failure-as-row
# contract. Oracle replays contents/byte lengths/aggregates from nation.
from scripts_toolkit_spark.plans import source_demos as srcd

register(
    "url_manifest_fetch_melt",
    srcd.url_manifest_fetch_melt,
    srcd.URL_MANIFEST_FETCH_MELT_SQL,
)
# Ceded to the helper-change rotation above (all unchanged, reaching
# neither normalize_vectors nor quantize_embeddings): the spatial trio,
# the near-dup cluster/winnow rows, the incremental quantile sketch and
# the r13 global_topk migrations.
register("spatial_radius_pairs", spd.spatial_radius_pairs, spd.SPATIAL_RADIUS_PAIRS_SQL)
register("spatial_knn", spd.spatial_knn, spd.SPATIAL_KNN_SQL)
register("spatial_knn_multires", spd.spatial_knn_multires, spd.SPATIAL_KNN_MULTIRES_SQL)
register("near_dup_clusters", xd.near_dup_clusters, xd.NEAR_DUP_CLUSTERS_SQL)
register("embedding_dup_clusters", _x2cc.embedding_dup_clusters, _x2cc.EMBEDDING_DUP_CLUSTERS_SQL)
register("winnow_overlap_pairs", xd.winnow_overlap_pairs, xd.WINNOW_OVERLAP_PAIRS_SQL)
register(
    "incremental_quantile_sketch",
    a6.incremental_quantile_sketch,
    a6.INCREMENTAL_QUANTILE_SKETCH_SQL,
)
register("bm25_top_docs", rv.bm25_top_docs, rv.BM25_TOP_DOCS_SQL)
register("weighted_sample_docs", rv.weighted_sample_docs, rv.WEIGHTED_SAMPLE_DOCS_SQL)
register("pagerank_top_parties", _x2pr.pagerank_top_parties, _x2pr.PAGERANK_TOP_PARTIES_SQL)
register("zipf_fit_tokens", a6.zipf_fit_tokens, a6.ZIPF_FIT_TOKENS_SQL)
register(
    "bigram_pmi_collocations", cd.bigram_pmi_collocations, cd.BIGRAM_PMI_COLLOCATIONS_SQL
)
register("trending_tokens", cd.trending_tokens, cd.TRENDING_TOKENS_SQL)
# NEW (r10): mergeable bottom-k quantile sketch (ext/quantiles.py) — the
# third oracle-replayable sketch beside the md5 HLL and the CMS monitor:
# k=256 md5-priority uniform sample per group through the two-stage
# grouped_topk (no per-group single-task window), estimates = the
# sample's own order statistics (exact stored doubles — bit-replayable),
# merge == one-shot pinned by tests/test_quantiles.py
# (ann_threshold_cells ceded its seat — r7..r9-green, similarity.py
# unchanged this round; parked in TIER 2).
register("quantile_sketch_values", a6.quantile_sketch_values, a6.QUANTILE_SKETCH_VALUES_SQL)
# NEW (r11): the first oracle-backed melt PAST the 64-column unpivot
# chunk cap (round-10 verdict "What's wrong" #3): a 96-column wide frame
# through melt_to_eav exercises the union-of-chunk-unpivots plan under
# the DuckDB value gate (96 generated UNION ALL branches), not just the
# pytest chunk==single equivalence (charngram_lang_id ceded its seat —
# long-green, unchanged; parked in TIER 2).
from scripts_toolkit_spark.plans import wide_demos as _wdm1

register(
    "melt_wide96_chunked", _wdm1.melt_wide96_chunked, _wdm1.MELT_WIDE96_CHUNKED_SQL
)
# (r12): exponential-smoothing forecast — closed-form recurrence (exact
# integer weights, one decimal dot product, one final double division);
# ceded its window seat in r14 to ann_topk_same_lang (r12-green,
# unchanged since).
register("ewma_event_forecast", a6.ewma_event_forecast, a6.EWMA_EVENT_FORECAST_SQL)
# (The media-decode rows — real AVI video and IMA-ADPCM audio decode,
# frame sampling, scene cuts — register in the helper-change rotation
# block at the top of TIER 1.)
# CHANGED: empty-shingle-set exclusion before LSH banding (ext/dedup.py,
# streaming/dedup_stream.py) — NULL-vs-NaN oracle divergence fix
register("minhash_near_dups", xd.minhash_near_dups, xd.MINHASH_NEAR_DUPS_SQL)
register("incremental_dedup_pairs", xd.incremental_dedup_pairs, xd.INCREMENTAL_DEDUP_PAIRS_SQL)
# CHANGED (r6): expand_paths fused its convergence probe into the
# checkpoint job via observe(); CHANGED again (r7): two hops per
# iteration on the broadcast path (E⋈E ∪ to-root one-hop step table,
# one materialization job) — both operators/graph.py helper changes the
# fn-source hash cannot see, kept in-window per the CLAUDE.md manual rule
from scripts_toolkit_spark.plans import taxonomy as _tax

# CHANGED (r9): the whole trio routes through expand_paths' new
# driver-side suffix closure (operators/graph.py — a helper change the
# fn-source hash cannot see, so the trio is rotated in-window manually
# per the CLAUDE.md rule; near_dup_clusters ceded its seat — green since
# r3, unchanged). r12: the whole trio ceded (operators/graph.py
# unchanged in r12, all three r11-green) — ann_index_two_level took one
# seat and the trio now sits just past the window.
# r15: the hierarchy trio moved back INTO the window (fn bodies changed
# — edge-frame materialization); registered at the top of TIER 1.
register("winsorized_value_stats", a6.winsorized_value_stats, a6.WINSORIZED_VALUE_STATS_SQL)
register("ab_test_value_ttest", a6.ab_test_value_ttest, a6.AB_TEST_VALUE_TTEST_SQL)

# ============================================================================
# TIER 2 — the r4 window rows (driver evidence: CORRECTNESS_r04 only;
# keep them sampled while the window has room).
# ============================================================================

# r11 wave-2 rotation: parked from the window (all long-green, unchanged)
# to make room for the media-decode newcomers (video_decode_stats,
# video_frame_sample_stats, adpcm_roundtrip_stats). near_dup_clusters is
# green since r3 (judge re-verified r10); embedding_near_dup_pairs was the
# r6 materialize-swap representative, long since green and physically
# identical in default mode (test_materialize_modes); weighted_sample_docs
# r5-green, unchanged.
# r15: near_dup_clusters moved INTO the window (connected_components
# helper change); join_key_skew_report + join_size_probe parked here.
register("join_key_skew_report", sd.join_key_skew_report, sd.JOIN_KEY_SKEW_REPORT_SQL)
register("join_size_probe", sd.join_size_probe, sd.JOIN_SIZE_PROBE_SQL)
register("embedding_near_dup_pairs", _x2img.embedding_near_dup_pairs, _x2img.EMBEDDING_NEAR_DUP_PAIRS_SQL)
register("inverted_index_postings", rv.inverted_index_postings, rv.INVERTED_INDEX_POSTINGS_SQL)
# r13 rotation: parked from the window (all long-green, unchanged in r13)
# to make room for the five global_topk-migrated queries now in TIER 1.
register("fuzzy_name_matches", rv.fuzzy_name_matches, rv.FUZZY_NAME_MATCHES_SQL)
register(
    "scd2_event_type_intervals", ed.scd2_event_type_intervals, ed.SCD2_EVENT_TYPE_INTERVALS_SQL
)
register("data_quality_report", dq.data_quality_report, dq.DATA_QUALITY_REPORT_SQL)
# r14 rotation: parked from the window (r5..r13-green, unchanged) to
# make room for the two r14-optimized near-dup rows.
register("chisq_event_type_bucket", a6.chisq_event_type_bucket, a6.CHISQ_EVENT_TYPE_BUCKET_SQL)
register("unigram_nll_scores", cd.unigram_nll_scores, cd.UNIGRAM_NLL_SCORES_SQL)
register("cdc_latest_state", ed.cdc_latest_state, ed.CDC_LATEST_STATE_SQL)
register("bpe_merge_table", cd.bpe_merge_table, cd.BPE_MERGE_TABLE_SQL)
register("document_chunks_bpe", cd.document_chunks_bpe, cd.DOCUMENT_CHUNKS_BPE_SQL)
register("semantic_dedup_drops", _x2sem.semantic_dedup_drops, _x2sem.SEMANTIC_DEDUP_DROPS_SQL)

# r11 rotation: parked from the window (all long-green, unchanged in
# r11) to make room for the r11 newcomers (ann_index_residual,
# melt_wide96_chunked, perplexity_buckets_sketch,
# dsir_importance_weights).
register("charngram_lang_id", cd.charngram_lang_id, cd.CHARNGRAM_LANG_ID_SQL)
register("mixture_sample_rates", cd.mixture_sample_rates, cd.MIXTURE_SAMPLE_RATES_SQL)
register("containment_dup_pairs", xd.containment_dup_pairs, xd.CONTAINMENT_DUP_PAIRS_SQL)

# r10 rotation: parked from the window (green since r5, unchanged) to
# make room for incremental_quantile_sketch.
register(
    "packing_efficiency_report",
    cd.packing_efficiency_report,
    cd.PACKING_EFFICIENCY_REPORT_SQL,
)

# r10 rotation: parked from the window (green r7..r9, unchanged) to make
# room for ann_topk_residual_spilled.
# NEW (r7): batch twin of the streaming Count-Min heavy-hitter monitor
# (streaming/cms_stream.py) — merged per-batch cells == one-shot sketch,
# proven by the one-shot oracle.
register("incremental_cms_hitters", cd.incremental_cms_hitters, cd.INCREMENTAL_CMS_HITTERS_SQL)

# r10 rotation: parked from the window (green r7..r9, unchanged in r10 —
# similarity.py untouched this round) to make room for ann_index_spilled
# and quantile_sketch_values.
# (ann_two_level_assign — the coarse-to-fine two-level IVF assignment —
# and ann_threshold_cells — the distributed md5-threshold centroid pick
# feeding it — register in the helper-change rotation block at the top
# of TIER 1.)

# r7 rotation: parked from the window (r6-green in CORRECTNESS_r06,
# unchanged in r7) to make room for the ANN index lifecycle rows.
# r14 rotation: parked from the window (r5..r13-green, unchanged) to
# make room for the two r14-optimized near-dup rows.
register("ab_test_ks_stat", a6.ab_test_ks_stat, a6.AB_TEST_KS_STAT_SQL)
register("name_graph_triangles", rv.name_graph_triangles, rv.NAME_GRAPH_TRIANGLES_SQL)

# r7 rotation: parked from the window (r6-green in CORRECTNESS_r06,
# unchanged in r7) to make room for the scale_demos toolkit rows.
register(
    "purchase_asof_next_click", _jd5.purchase_asof_next_click, _jd5.PURCHASE_ASOF_NEXT_CLICK_SQL
)
register("hll_set_ops", _x2img.hll_set_ops, _x2img.HLL_SET_OPS_SQL)
register("time_to_first_purchase", ed.time_to_first_purchase, ed.TIME_TO_FIRST_PURCHASE_SQL)
register("windowed_topk_values", ed.windowed_topk_values, ed.WINDOWED_TOPK_VALUES_SQL)
register(
    "user_event_feature_vectors",
    ed.user_event_feature_vectors,
    ed.USER_EVENT_FEATURE_VECTORS_SQL,
)
register("dedup_threshold_sweep", xd.dedup_threshold_sweep, xd.DEDUP_THRESHOLD_SWEEP_SQL)

# r5-new statistics rows displaced from the window by the r6 rotation —
# UNCHANGED since their green CORRECTNESS_r05 samples.
register("order_value_deciles", a6.order_value_deciles, a6.ORDER_VALUE_DECILES_SQL)
register("top_events_by_value", a6.top_events_by_value, a6.TOP_EVENTS_BY_VALUE_SQL)
register(
    "value_trend_by_event_type", a6.value_trend_by_event_type, a6.VALUE_TREND_BY_EVENT_TYPE_SQL
)
register(
    "mad_outliers_by_event_type", a6.mad_outliers_by_event_type, a6.MAD_OUTLIERS_BY_EVENT_TYPE_SQL
)
register("corr_matrix_lineitem", a6.corr_matrix_lineitem, a6.CORR_MATRIX_LINEITEM_SQL)
register(
    "resampled_event_timeline", a6.resampled_event_timeline, a6.RESAMPLED_EVENT_TIMELINE_SQL
)

# ---- correlated/distinct shapes, sampling, grouped-map applyInPandas -------
from scripts_toolkit_spark.plans import analytics2 as a2

register("brand_supplier_counts", a2.brand_supplier_counts, a2.BRAND_SUPPLIER_COUNTS_SQL)
register("rich_inactive_customers", a2.rich_inactive_customers, a2.RICH_INACTIVE_CUSTOMERS_SQL)
register("top_value_nations", a2.top_value_nations, a2.TOP_VALUE_NATIONS_SQL)
register("hash_sample_documents", a2.hash_sample_documents, a2.HASH_SAMPLE_DOCUMENTS_SQL)
register("zscore_by_event_type", a2.zscore_by_event_type, a2.ZSCORE_BY_EVENT_TYPE_SQL)
# r7 rotation: parked from the window (r6-green, unchanged in r7) for the
# two-stage top-k rows now in TIER 1.
register("event_pattern_matches", ed.event_pattern_matches, ed.EVENT_PATTERN_MATCHES_SQL)
register("markov_transitions", ed.markov_transitions, ed.MARKOV_TRANSITIONS_SQL)

# ---- embedding near-dup, char-ngram jaccard, percentiles, grouping sets ----
from scripts_toolkit_spark.plans import ext_demos2 as x2

register("char_ngram_jaccard", x2.char_ngram_jaccard, x2.CHAR_NGRAM_JACCARD_SQL)
register("value_percentiles", x2.value_percentiles, x2.VALUE_PERCENTILES_SQL)
register("hll_distinct_users", x2.hll_distinct_users, x2.HLL_DISTINCT_USERS_SQL)
register("grouping_sets_revenue", x2.grouping_sets_revenue, x2.GROUPING_SETS_REVENUE_SQL)

# ---- event analytics: cohorts + funnel -------------------------------------
from scripts_toolkit_spark.plans import events_demos as ed

register("user_retention_cohorts", ed.user_retention_cohorts, ed.USER_RETENTION_COHORTS_SQL)
register("conversion_funnel", ed.conversion_funnel, ed.CONVERSION_FUNNEL_SQL)

# ---- F9 date parsing + sentinel semantics ----------------------------------
from scripts_toolkit_spark.plans import date_demos as dd2

register("mdrm_date_roundtrip", dd2.mdrm_date_roundtrip, dd2.MDRM_DATE_ROUNDTRIP_SQL)
register("quarter_extract_checks", dd2.quarter_extract_checks, dd2.QUARTER_EXTRACT_CHECKS_SQL)

# ---- correlated TPC-H shapes + one-pass column statistics ------------------
from scripts_toolkit_spark.plans import analytics3 as a3

register("small_quantity_revenue", a3.small_quantity_revenue, a3.SMALL_QUANTITY_REVENUE_SQL)
register("top_revenue_suppliers", a3.top_revenue_suppliers, a3.TOP_REVENUE_SUPPLIERS_SQL)
register(
    "min_balance_supplier_per_nation",
    a3.min_balance_supplier_per_nation,
    a3.MIN_BALANCE_SUPPLIER_PER_NATION_SQL,
)
register("bulk_shippers", a3.bulk_shippers, a3.BULK_SHIPPERS_SQL)
register("lineitem_column_stats", a3.lineitem_column_stats, a3.LINEITEM_COLUMN_STATS_SQL)

# ---- wide-matrix stress (60-column melt, programmatic oracle) --------------
from scripts_toolkit_spark.plans import wide_demos as wdm

register("melt_wide60", wdm.melt_wide60, wdm.MELT_WIDE60_SQL)

# ---- corpus hygiene: canonical dedup, redaction, vocabulary stats ----------
register("canonical_text_dedup", cd.canonical_text_dedup, cd.CANONICAL_TEXT_DEDUP_SQL)
register("corpus_prep_pipeline", cd.corpus_prep_pipeline, cd.CORPUS_PREP_PIPELINE_SQL)
register("redact_text", cd.redact_text, cd.REDACT_TEXT_SQL)
# (token_frequencies rotated to TIER 1 in r7 — two-stage global_topk)
register("document_chunks", cd.document_chunks, cd.DOCUMENT_CHUNKS_SQL)
register("corpus_split_counts", cd.corpus_split_counts, cd.CORPUS_SPLIT_COUNTS_SQL)
register("train_eval_overlap", cd.train_eval_overlap, cd.TRAIN_EVAL_OVERLAP_SQL)

# ---- remaining classic TPC-H shapes (Q7/Q8/Q9/Q10/Q12/Q19 analogs) ---------
from scripts_toolkit_spark.plans import analytics4 as a4

register("cross_nation_volume", a4.cross_nation_volume, a4.CROSS_NATION_VOLUME_SQL)

# ---- final classic TPC-H shapes (Q6/Q14/Q18/Q21 analogs) -------------------
from scripts_toolkit_spark.plans import analytics5 as a5

register("forecast_revenue", a5.forecast_revenue, a5.FORECAST_REVENUE_SQL)
register("promo_revenue_percent", a5.promo_revenue_percent, a5.PROMO_REVENUE_PERCENT_SQL)
register("large_volume_customers", a5.large_volume_customers, a5.LARGE_VOLUME_CUSTOMERS_SQL)
register("waiting_suppliers", a5.waiting_suppliers, a5.WAITING_SUPPLIERS_SQL)
register("nation_market_share", a4.nation_market_share, a4.NATION_MARKET_SHARE_SQL)
register("yearly_brand_profit", a4.yearly_brand_profit, a4.YEARLY_BRAND_PROFIT_SQL)
register("returned_item_report", a4.returned_item_report, a4.RETURNED_ITEM_REPORT_SQL)
register("linestatus_priority_counts", a4.linestatus_priority_counts, a4.LINESTATUS_PRIORITY_COUNTS_SQL)
register("disjunctive_promo_revenue", a4.disjunctive_promo_revenue, a4.DISJUNCTIVE_PROMO_REVENUE_SQL)

# ---- round-4 additions (64-bit SimHash fingerprints, corpus quality,
# sketches; the near-dup/ANN siblings that changed in r5 sit in TIER 1) ------
# 64-bit SimHash fingerprint projection (unchanged since r4 — the r5
# pairing rework is entirely in simhash64_candidates/simhash64_pairs)
register("simhash64_fingerprints", xd.simhash64_fingerprints, xd.SIMHASH64_FINGERPRINTS_SQL)
register("gopher_repetition_stats", cd.gopher_repetition_stats, cd.GOPHER_REPETITION_STATS_SQL)
register("boilerplate_shingles", cd.boilerplate_shingles, cd.BOILERPLATE_SHINGLES_SQL)
register(
    "pack_training_sequences", cd.pack_training_sequences, cd.PACK_TRAINING_SEQUENCES_SQL
)
register("tfidf_top_terms", cd.tfidf_top_terms, cd.TFIDF_TOP_TERMS_SQL)
register("cms_heavy_hitters", cd.cms_heavy_hitters, cd.CMS_HEAVY_HITTERS_SQL)
# r15: embedding_dup_clusters moved INTO the window (connected_components
# helper change); zorder_layout_stats parked here.
register("zorder_layout_stats", sd.zorder_layout_stats, sd.ZORDER_LAYOUT_STATS_SQL)
register("histogram_quantiles", x2.histogram_quantiles, x2.HISTOGRAM_QUANTILES_SQL)

# ============================================================================
# TIER 3 — long-green tier (driver rows in CORRECTNESS_r01-r03, all green;
# still fully covered by tools/verify_local.py every round).
# ============================================================================

# ---- headline join/aggregate queries (J1/J4 broadcast enrichment, A5-ish
# grouped aggregation, §2.7/§2.4) -------------------------------------------
register("pricing_summary", analytics.pricing_summary, analytics.PRICING_SUMMARY_SQL)
register("revenue_by_nation", analytics.revenue_by_nation, analytics.REVENUE_BY_NATION_SQL)
register("top_unshipped_orders", analytics.top_unshipped_orders, analytics.TOP_UNSHIPPED_ORDERS_SQL)
register("order_priority_counts", analytics.order_priority_counts, analytics.ORDER_PRIORITY_COUNTS_SQL)

# ---- scalar functions F1-F16 + MDRM pipeline (§2.3, §3.1) ------------------
from scripts_toolkit_spark.plans import function_demos as fd

register("clean_text_chain", fd.clean_text_chain, fd.CLEAN_TEXT_CHAIN_SQL)
register("derive_fields", fd.derive_fields, fd.DERIVE_FIELDS_SQL)
register("split_explode_tokens", fd.split_explode_tokens, fd.SPLIT_EXPLODE_TOKENS_SQL)
register("json_extract_props", fd.json_extract_props, fd.JSON_EXTRACT_PROPS_SQL)
register("nan_null_normalize", fd.nan_null_normalize, fd.NAN_NULL_NORMALIZE_SQL)
register("mdrm_pipeline_demo", fd.mdrm_pipeline_demo, fd.MDRM_PIPELINE_DEMO_SQL)

# ---- type profiler + melt/pivot long EAV store (§2.4 A1-A3, §2.5 R1-R4) ----
from scripts_toolkit_spark.plans import reshape_demos as rd

register("type_profile", rd.type_profile, rd.TYPE_PROFILE_SQL)
register("melt_wide_to_eav", rd.melt_wide_to_eav, rd.MELT_WIDE_TO_EAV_SQL)
register("pivot_eav_to_wide", rd.pivot_eav_to_wide, rd.PIVOT_EAV_TO_WIDE_SQL)

# ---- joins: broadcast/anti/range/as-of/prefix-key (§2.7 J1-J7, §2.6 D3) ----
from scripts_toolkit_spark.plans import join_demos as jd

register("eav_dictionary_enrich", jd.eav_dictionary_enrich, jd.EAV_DICTIONARY_ENRICH_SQL)
register("customers_without_orders", jd.customers_without_orders, jd.CUSTOMERS_WITHOUT_ORDERS_SQL)
register("value_band_join", jd.value_band_join, jd.VALUE_BAND_JOIN_SQL)
register("purchase_asof_click", jd.purchase_asof_click, jd.PURCHASE_ASOF_CLICK_SQL)
register(
    "purchase_asof_click_tolerance",
    jd.purchase_asof_click_tolerance,
    jd.PURCHASE_ASOF_CLICK_TOLERANCE_SQL,
)
register("part_first_word_join", jd.part_first_word_join, jd.PART_FIRST_WORD_JOIN_SQL)

# ---- hierarchy/graph: leaf discovery, path expansion, classification (§2.8) -
from scripts_toolkit_spark.plans import taxonomy as tx

# (hierarchy_paths / hierarchy_paths_deep / hierarchy_classify rotated to
# tier 1 in r6 — expand_paths' fused convergence probe)

# ---- ordered/stateful + windows (§2.9 T1-T4, §2.10) ------------------------
from scripts_toolkit_spark.plans import stateful_demos as sd

register("fill_forward_signup_value", sd.fill_forward_signup_value, sd.FILL_FORWARD_SIGNUP_VALUE_SQL)
register("user_sessions", sd.user_sessions, sd.USER_SESSIONS_SQL)
register("tumbling_event_counts", sd.tumbling_event_counts, sd.TUMBLING_EVENT_COUNTS_SQL)
register("session_window_stats", sd.session_window_stats, sd.SESSION_WINDOW_STATS_SQL)

# ---- training-data-pipeline extensions (§2.12): dedup, similarity, text,
# multimodal (near-dup/ANN rows changed in r5 live in TIER 1) ----------------
register("exact_dup_groups", xd.exact_dup_groups, xd.EXACT_DUP_GROUPS_SQL)
register("simhash_fingerprints", xd.simhash_fingerprints, xd.SIMHASH_FINGERPRINTS_SQL)
register("simhash_near_dups", xd.simhash_near_dups, xd.SIMHASH_NEAR_DUPS_SQL)
register("ann_topk_cosine", xd.ann_topk_cosine, xd.ANN_TOPK_COSINE_SQL)
# approximate BUT deterministic: oracle replays the identical bucketing /
# quantization in SQL; recall vs brute force additionally tested in pytest
register("ann_topk_lsh", xd.ann_topk_lsh, xd.ANN_TOPK_LSH_SQL)
register("text_stats", xd.text_stats, xd.TEXT_STATS_SQL)
register("media_features", xd.media_features, xd.MEDIA_FEATURES_SQL)

# ---- rollup/cube, window functions, set ops, validity windows, SMJ
# (§2.4 A7, §2.10, §2.6 D4-D5, §2.7 J7) --------------------------------------
from scripts_toolkit_spark.plans import window_demos as wd

register("rollup_revenue", wd.rollup_revenue, wd.ROLLUP_REVENUE_SQL)
register("cube_lineitem_stats", wd.cube_lineitem_stats, wd.CUBE_LINEITEM_STATS_SQL)
register("customer_order_ranks", wd.customer_order_ranks, wd.CUSTOMER_ORDER_RANKS_SQL)
register("running_revenue_frame", wd.running_revenue_frame, wd.RUNNING_REVENUE_FRAME_SQL)
register("segment_set_ops", wd.segment_set_ops, wd.SEGMENT_SET_OPS_SQL)
register("validity_window_lookup", wd.validity_window_lookup, wd.VALIDITY_WINDOW_LOOKUP_SQL)
register("supplier_part_volumes", wd.supplier_part_volumes, wd.SUPPLIER_PART_VOLUMES_SQL)

register("order_count_distribution", a2.order_count_distribution, a2.ORDER_COUNT_DISTRIBUTION_SQL)
