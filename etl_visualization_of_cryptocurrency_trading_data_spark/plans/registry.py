"""Query + oracle registry: the driver-facing correctness surface.

Every implemented operator from SURVEY §2 appears here as a named query
(builder taking ``(spark, sf_dir)``) with, where SQL-expressible, a
DuckDB oracle computing the identical result from the same parquet
fixtures. Column names/aliases are pinned identical on both sides
(the driver hashes values under a by-name column sort).

The EMA family (ema_20 / macd) is oracle-checked via the closed form of
``ewm(adjust=False)``:  with w = 1 - 2/(span+1),

    e_t = w^t * p_0 + (1-w) * sum_{i=1..t} w^(t-i) * p_i
        = w^t * (p_0 + alpha * (S_t - p_0)),   S_t = sum_{i<=t} w^(-i) p_i

S_t is a plain prefix-sum window, so DuckDB can express the recursion
exactly (numerically safe at oracle scale: groups are ~10^2 rows at
sf0.01, so w^(-i) stays far below double overflow).

Layout (r11, verdict item #2): the builders, shared oracle CTE
fragments, and per-domain ORACLE_SQL dicts live in the
``plans/oracles/`` package (serving / indicators / relational / text /
similarity / media / streaming / graph / io_plans / dedup / corpus);
this module is the assembler and facade — it re-exports every name,
holds the QUERIES registration literal + driver-window rotation, and
restores the ORACLES registration order. The split is pinned as a pure
refactor by tests/fixtures/registry_snapshot.json. New registrations
add the builder + ORACLE_SQL entry in the owning domain module, then
append to QUERIES and _ORACLE_REGISTRATION_ORDER here and regenerate
the snapshot (scripts/snapshot_registry.py) in the same commit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .oracles.common import (  # noqa: F401
    _documents,
)
from .oracles.serving import (  # noqa: F401
    PRICE_DATA_CTE,
    COINS_CTE,
    OHLC_CTE,
    INDICATORS_CTE,
    LATEST_CTES,
    _with,
    _events,
    q_coins,
    q_price_data,
    q_ohlc,
    q_indicators,
    q_market_cap,
    q_price_chart,
    q_price_chart_stored,
    q_ohlc_chart,
    q_indicator_chart,
    q_market_cap_chart,
    q_coin_table,
    q_coin_display,
    _decoded,
    q_envelope_price,
    q_envelope_coins,
    q_envelope_ohlc,
    q_envelope_mcap,
    _price_base,
    _price_base_tb,
    PRICE_BASE_SQL,
    PRICE_BASE_TB_SQL,
    ENVELOPE_TICK_OHLC_SQL,
    ENVELOPE_MCAP_SQL,
)
from .oracles.indicators import (  # noqa: F401
    q_vwap_hourly,
    q_bollinger_bands,
    q_max_drawdown,
    q_atr_14,
    q_obv,
    q_stochastic,
    q_donchian,
    q_ichimoku,
    q_keltner_channels,
    q_candlestick_patterns,
    q_ohlc_daily_rollup,
    q_lead_lag_corr,
    q_rolling_sharpe,
    q_market_regime,
    q_heikin_ashi,
    q_rolling_beta,
    q_cross_exchange_spread,
    q_momentum_ranks,
    q_price_correlation,
    q_price_resample_1h,
    q_forecast_backtest,
    q_volume_profile,
    q_price_anomalies,
)
from .oracles.relational import (  # noqa: F401
    q_exchange_cardinality,
    q_exchange_cardinality_approx,
    q_coin_indicators_left,
    q_asof_price_candle,
    _cutoff_days,
    q_active_coins_semi,
    q_stale_coins_anti,
    q_union_price_feeds,
    q_top_coins_by_volume,
    q_volume_rollup,
    EXCHANGES,
    q_volume_cube,
    q_close_pivot,
    q_cms_frequencies,
    q_zorder_profile,
    q_event_bigrams,
    q_shipping_priority,
    q_event_props_variant,
    q_activity_reconciliation,
    q_pricing_summary,
    q_rolling_active_coins,
    q_exchange_hll_rollup,
    q_coin_volume_percentile,
    q_volume_grouping_sets,
    q_funnel_conversion,
    q_scd2_volume_tiers,
    q_revenue_by_nation,
    q_top_suppliers,
    q_event_props_stats,
    q_user_retention,
    q_trading_sessions,
    q_session_range_join,
    q_salted_join_skew,
    q_large_volume_customers,
    q_bucketed_join_audit,
)
from .oracles.text import (  # noqa: F401
    q_text_stats,
    q_quality_score,
    q_token_counts,
    q_lang_id,
    q_doc_fingerprint,
    q_bigram_logprob,
    q_repetition_stats,
    q_tfidf_top_terms,
    q_doc_length_quantiles,
    q_doc_length_quantiles_approx,
    q_corpus_quality_report,
    q_vocab_coverage,
    WORDS_SQL,
    NORM_TEXT_SQL,
    STOPWORDS_SQL,
    TEXT_STATS_SQL,
    _bpe_parts,
    _bpe_sql,
    _bpe_encode_ctes,
    _bpe_encode_sql,
    LANGS_SQL,
    _GREATEST,
    TOP_TERMS_K,
    q_top_terms,
    q_redact_pii,
    q_documents_profile,
    q_gopher_rules,
    q_bpe_merges,
    q_bpe_vocab_k,
    q_bpe_encode,
    q_bm25_scores,
    q_host_cap,
    q_quality_auc,
    q_lm_perplexity_buckets,
    q_bpe_fertility,
    _BM25_SQL,
)
from .oracles.similarity import (  # noqa: F401
    q_kmeans_fixed,
    q_knn_quantized,
    q_embedding_normalize,
    q_embedding_quantize,
    q_knn_lsh_multiprobe,
    q_knn_brute_vectorized,
    q_knn_ivf_trained,
    q_knn_recall,
    q_knn_ivf_full_fixed,
    q_knn_ivf_pq_recall,
    _knn_sql,
    _embedding_dup_sql,
    _kmeans_ctes,
    _kmeans_sql,
    _pca_sql,
    _pca_residual_sql,
    _knn_ivf_sql,
    KNN_IVF_SQL,
    PQ_SEARCH_CTES,
    IVF_ROUTE_CTES,
    KNN_IVF_TRAINED_SQL,
    q_knn_pq_recall,
    q_knn_pq,
    q_knn_ivf_pq,
    q_knn_lsh_planes8,
    q_knn_ivf_fixed,
    q_embedding_dup_wide,
    q_semantic_dup_components,
    q_semantic_dedup_trained,
    q_semantic_dedup_capped,
    q_hybrid_retrieval_rrf,
    q_pca_top_component,
    q_knn_ivf_append,
    q_pca_residual,
)
from .oracles.media import (  # noqa: F401
    q_media_decode_ppm,
    q_media_decode_bmp,
    q_media_decode_gif,
    q_media_frames_gif,
    q_media_frames_gif2,
    q_media_decode_jpeg,
    q_media_resize,
    q_media_metadata,
    q_media_features,
    q_frame_schedule,
    q_media_frames,
    MEDIA_BYTES_CTE,
    _chunk_mean_cols,
    MEDIA_FEATURES_SQL,
    MEDIA_FRAMES_SQL,
    q_media_decode_wav,
    q_media_decode_png,
    q_media_features_auto,
    q_media_frames_real,
    q_media_decode_jpeg_color,
    q_media_dhash,
    q_media_dup_clusters,
    q_media_ahash,
    q_media_dup_survivors,
    q_media_dup_clusters_union,
    q_image_text_dup_agreement,
    q_audio_fingerprint,
    q_audio_dup_clusters,
    q_video_fingerprint,
    q_video_dup_clusters,
    q_audio_dup_survivors,
    q_video_dup_survivors,
    q_multimodal_dedup_report,
    _DHASH_CTES,
)
from .oracles.streaming import (  # noqa: F401
    q_vwap_stream_replay,
    q_enrich_stream_replay,
    q_late_drop_stream_replay,
    q_spread_stream_replay,
    q_ohlc_stream_replay,
    q_recovery_stream_replay,
    q_session_stream_replay,
    q_restfeed_stream_replay,
    q_dedup_stream_replay,
    q_spread_outer_stream_replay,
    q_drawdown_stream_replay,
    q_quality_stream_replay,
    q_media_dedup_stream_replay,
)
from .oracles.graph import (  # noqa: F401
    _pagerank_ctes,
    q_exchange_influencers,
    q_coin_pagerank_capped,
)
from .oracles.io_plans import (  # noqa: F401
    q_orc_roundtrip,
    q_restfeed_ohlc,
    q_jsonl_roundtrip,
    q_csv_roundtrip,
)
from .oracles.dedup import (  # noqa: F401
    q_contamination,
    q_exact_dedup,
    NGRAM_MAX_DF,
    q_ngram_jaccard,
    q_minhash_lsh,
    q_url_dedup,
    q_incremental_dedup_bloom,
    q_dup_rate_by_source,
    _shingles_cte,
    SHINGLES_CTE,
    CAPPED_PAIRS_CTES,
    _minhash_lsh_parts,
    _minhash_lsh_sql,
    _leakage_safe_split_sql,
    _simhash_sql,
    q_dedup_survivors,
    q_span_dedup,
    q_repeated_spans_sliding,
    q_remove_repeated_spans,
    q_remove_repeated_spans_keep_first,
    q_simhash_pairs_wide,
    q_quality_survivors,
    q_dup_clusters_star,
    _fuzzy_names,
    _fuzzy_twins,
    q_fuzzy_match_blocked,
    _fuzzy_reorder_twins,
    q_fuzzy_match_multipass,
    INCREMENTAL_DEDUP_SQL,
    SLIDING_WINS_CTES,
    SPAN_RANGES_CTES,
    SPAN_CUT_TAIL_SQL,
)
from .oracles.corpus import (  # noqa: F401
    q_curation_pipeline,
    q_dataset_split,
    q_deterministic_sample,
    _bpe_pack_sql,
    STRATA_FRACTIONS,
    PACK_STRIDE,
    PACK_BUDGET,
    _strata_case_sql,
    q_stratified_sample,
    q_pack_chunks,
    q_pack_chunks_overlap,
    q_leakage_safe_split,
    q_mixture_sample,
    q_curation_pipeline_v2,
    q_bpe_pack,
    q_dsir_weights,
    q_dsir_sample,
    q_curation_pipeline_v3,
    _dsir_scored_parts,
    DSIR_SCORED_CTES,
    _materialize_ctes,
    _curation_tail_sql,
    _CURATION_TAIL_MATERIALIZE,
    _curation_v3_sql,
    QCLF_TRAIN_WHERE,
    _qclf_bucket_sql,
    _qclf_lab_sql,
    _qclf_feats_sql,
    _qclf_parts,
    _qclf_score_sql,
    _qclf_scores_ctes,
    _curation_v4_sql,
    q_quality_classifier_weights,
    q_quality_classifier_scores,
    q_quality_classifier_auc,
    q_quality_classifier_disagreement,
    q_curation_pipeline_v4,
    q_curation_pipeline_v5,
    q_curation_pipeline_v6,
)
from .oracles import (  # noqa: F401
    common as _oracles_common,
    serving as _oracles_serving,
    indicators as _oracles_indicators,
    relational as _oracles_relational,
    text as _oracles_text,
    similarity as _oracles_similarity,
    media as _oracles_media,
    streaming as _oracles_streaming,
    graph as _oracles_graph,
    io_plans as _oracles_io_plans,
    dedup as _oracles_dedup,
    corpus as _oracles_corpus,
)

def q_plan_audit(spark, sf_dir):
    """Plan-shape observability as a driver-checked contract
    (plans.audit): deterministic physical-plan features (shuffle /
    broadcast / join-strategy / WindowGroupLimit counts) of eight
    representative queries, hash-pinned against literal expected
    values — a new shuffle or a degraded join strategy anywhere in
    these plans flips the driver hash instead of waiting for a human
    to re-read EXPLAIN.md. Features verified identical under the tuned
    and vanilla sessions and across sf0.001/sf0.01 (they depend only
    on the logical plan + planner; every audited join is hint-pinned).
    ``sf_dir`` feeds the audited builders; the row count is the number
    of audited queries (metadata, not data)."""
    from .audit import audit_plans

    names = [
        "coin_table", "exact_dedup", "technical_indicators",
        "coin_market_cap", "gopher_rules", "media_metadata",
        "price_chart", "url_dedup",
    ]
    return audit_plans(spark, {n: QUERIES[n](spark, sf_dir) for n in names})

def q_plan_audit_skew(spark, sf_dir):
    """Native AQE skew-join split as a driver-hash row (plans.audit.
    aqe_skew_probe — r7 verdict stretch #8, the runtime twin of
    salted_join_skew's manual salting): a deliberately skewed SMJ on
    a FIXED synthetic input runs twice, skewJoin on/off; the row pins
    that the adaptive FINAL plan really split the straggler partition
    (skew=true + AQEShuffleRead) exactly when enabled, and that both
    modes return bit-identical aggregates. Probe-scoped configs are
    pinned and restored, so the row is invariant to session config
    and to ``sf_dir`` (unused — the probe must not scale with sf)."""
    from .audit import aqe_skew_probe

    return aqe_skew_probe(spark)

# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

# Ordering note: the driver's correctness gate checks the FIRST 50 entries
# of this dict at each round.  Every query is pinned at sf0.001 by
# tests/test_oracle_parity.py regardless of position; the first 50 slots are
# rotated per round so that every registered query accumulates a green
# driver-side CORRECTNESS row.  Round 5 executes the rotation plan written
# in r4: the window is (a) this round's NEW queries (knn_recall,
# url_dedup, media_decode_ppm, vwap_stream_replay), (b) the queries whose
# PLANS changed this round (the event_id-tiebreak trio bollinger/obv/
# max_drawdown and the recursive-glob knn_brute_vectorized), (c) the full
# 34-entry r4 tail, whose newest driver rows date from r3, and (d) 8
# r4-green fillers.  The tail holds only queries with a green r4 row and
# unchanged since.  Window membership is pinned by


# tests/test_sql_api.py::test_driver_window_membership (EXPECTED_R8_WINDOW);
# ORACLES == QUERIES by test_registry_invariants.
# ROUND-7 ROTATION EXECUTED (registry = 158 queries, window = first 50):
# 12 new registrations (semantic_dedup_trained, recovery_stream_replay,
# media_decode_bmp, media_decode_gif, media_decode_jpeg — the r6 JPEG
# codec had pytest-only evidence — media_resize,
# incremental_dedup_bloom, zorder_profile, cms_frequencies,
# enrich_stream_replay, late_drop_stream_replay, and
# knn_ivf_full_fixed — fixed C AND fixed probes, 49x at 100x data vs
# 104x for the %50-probe fixture rule) + 2 re-plans
# (knn_lsh_planes8 now plants probe twins so its hash covers non-empty
# candidate+verify; exchange_influencers now runs the BINDING
# max_per_bucket=3 edge cap) + 36 of the 46 r4-row entries — the whole
# remaining r4-stale evidence set except ten yields:
# stochastic/donchian/ichimoku/rolling_beta (the indicators' shared
# fused-mapInPandas / window plan family is pinned this round by
# in-window atr_14 and technical_indicators), cross_exchange_spread
# (batch theta join pinned by the r6-row spread_stream_replay),
# documents_profile (profiling aggregate pinned by the r5-row
# corpus_quality_report), close_pivot (conditional-agg pivot pinned
# by the r5-row volume_grouping_sets' Expand family + pytest),
# vwap_hourly (its EXACT oracle SQL is shared verbatim by the r5-row
# vwap_stream_replay, so the computation stays driver-verified), and
# ohlc_chart (its candle CTE is pinned by in-window ohlc_candles and
# its serving filters by in-window price_chart/indicator_chart), and
# envelope_mcap (one of four identical-shape explode branches of the
# same envelope codec; envelope_price/coins/ohlc stay in-window). All
# ten r4 rows stand and front-load r8.
# New registrations hit the ~12 cap exactly (12 + 2 re-plans).
# AFTER the r7 driver run: no registered query's newest driver row is
# older than r5 except the ten yielded entries (r4).
# ROUND-10 ROTATION EXECUTED per the r9 guidance (kept below) — see
# the _R10_WINDOW_FRONT reorder after the QUERIES literal (and
# PINNING.md for the per-query evidence map). Ten perf-weak forms
# with registered scale twins left the registry this round (since
# deleted outright), so their r6 rows were not rotated.
# ROUND-11 ROTATION EXECUTED per the r10 guidance (kept below) — see
# _R11_WINDOW_FRONT after the QUERIES literal: (a) curation_pipeline_v3
# (new) + the re-planned fuzzy_match_multipass and dsir_sample, (b)
# the full 31-entry r7-row cohort, (c) the 16 oldest r8-row entries.
# AFTER the r11 driver run: no registered query's newest row is older
# than r8.
# ROUND-13 ROTATION EXECUTED per the r12 guidance (kept below):
# (a) the SIX r13 registrations (media_dhash / media_dup_clusters /
# quality_stream_replay / price_chart_stored, plus the mid-round
# media_ahash / media_dup_survivors, which claimed the (c) slots of
# dataset_split and semantic_dedup_trained via the yield convention),
# (b) the FULL 42-entry r9-row cohort (plan_audit front-loaded per
# its r12 yield), (c) the 2 oldest-evidence oracles re-rendered by
# the r13 literal consolidation that kept their slots (contamination
# — itself an r10 row — and curation_pipeline_v3). AFTER the r13
# driver run: no registered query's newest row is older than r10.
# ROUND-14 ROTATION EXECUTED per the r13 guidance (kept below) — see
# _R14_WINDOW_FRONT after the QUERIES literal: (a) the three r14
# registrations (media_dup_clusters_union / image_text_dup_agreement
# / curation_pipeline_v5) + the two never-checked late-r13
# registrations (lm_perplexity_buckets, bpe_fertility), (b) the FULL
# 43-entry r10-row cohort, (c) dataset_split (r11, re-rendered,
# yielded its r13 slot) + quality_classifier_auc (the re-rendered
# text rendering the widest consolidated-constant surface: the _qclf
# chain's split-train predicate + quality battery PLUS split_case_sql
# and split_holdout_pred_sql). The other 6 re-rendered oracles hold
# r12-fresh rows and sweep by natural rotation — with every r10 row
# in-window and five registrations carrying done-criteria, 50 slots
# cannot also hold them (the same deliberate triage as r13's NOTES
# §2). AFTER the r14 driver run: no registered query's newest row is
# older than r11.
# Round-15 rotation guidance: after the r14 driver run the oldest
# evidence is the 48-entry r11-row cohort (49 minus dataset_split,
# which r14 re-checked). Front-load (a) anything r15 adds or
# re-plans PLUS the four never-checked late-r14 registrations
# (audio_fingerprint, audio_dup_clusters, video_fingerprint,
# video_dup_clusters — registered after the r14 window was sealed,
# full local evidence in PINNING, the r13
# lm_perplexity_buckets precedent) PLUS the two r14 hash-stable
# re-plans (media_dup_clusters, media_dup_survivors — cluster/rank
# tails factored into shared helpers, values re-proven at sf0.01;
# the r12 re-plan precedent wants a fresh driver row), then (b) the
# r11-row entries oldest first in registry
# order (exchange_cardinality_approx, atr_14, price_chart,
# indicator_chart, coin_display, quality_score, token_counts,
# lang_id, doc_fingerprint, bigram_logprob, doc_length_quantiles,
# top_terms, redact_pii, deterministic_sample, stratified_sample,
# pack_chunks, media_metadata, frame_schedule, coins_dim, and the
# rest — compute from scripts/regenerate_pinning.py's newest map),
# then (c) with any remaining slots prefer the re-rendered oracles
# still on pre-consolidation r12 rows (curation_pipeline,
# quality_survivors, quality_auc, quality_classifier_weights,
# quality_classifier_scores, quality_classifier_disagreement) before
# plain r12 fillers; prefer yielding entries whose plan family is
# pinned by an in-window sibling, per precedent. Rename
# EXPECTED_R14_WINDOW to EXPECTED_R15_WINDOW in the same commit.
# The r13-written round-14 guidance (EXECUTED this round; kept for
# history): after the r13 driver run the oldest
# evidence is the remainder of the r10-row cohort (the r13 window
# covered contamination; ~43 r10 rows remain). Front-load (a)
# anything r14 adds or re-plans PLUS the two never-checked late-r13
# registrations (lm_perplexity_buckets, bpe_fertility — registered
# after the r13 window was sealed, full local evidence in PINNING),
# then (b) the
# remaining r10-row entries, oldest first in registry order:
# recovery_stream_replay, media_decode_bmp, media_decode_gif,
# media_decode_jpeg, media_resize, incremental_dedup_bloom,
# zorder_profile, cms_frequencies, enrich_stream_replay,
# late_drop_stream_replay, knn_ivf_full_fixed, and the rest of the
# r10 cohort in registry order (compute the list from
# scripts/regenerate_pinning.py's newest map if in doubt), then (c)
# with any remaining slots prefer the 8 oracles re-rendered by the
# r13 literal consolidation that hold r12-fresh rows
# (curation_pipeline, quality_survivors, quality_auc, the five
# classifier-family rows) before plain r11 fillers; prefer yielding
# entries whose plan family is pinned by an in-window sibling, per
# the r11/r12 yield precedent. Rename EXPECTED_R13_WINDOW to
# EXPECTED_R14_WINDOW in the same commit.
# The r12-written round-13 guidance (EXECUTED this round; kept for
# history): front-load (a) anything r13 adds or re-plans, then (b)
# the remaining r9-row entries oldest first in registry order, then
# (c) the oldest r10-row entries with any remaining slots. Rename
# EXPECTED_R12_WINDOW to EXPECTED_R13_WINDOW in the same commit.
# The r11-written round-12 guidance (EXECUTED this round — see
# _R12_WINDOW_FRONT; kept for history): front-load (a) anything r12 adds or
# re-plans — including the five hash-stable late-r11 re-plans
# (curation_pipeline, dedup_survivors, pack_chunks,
# pack_chunks_overlap, bpe_pack: forced O(N) broadcasts removed /
# tie-break made conditional; values verified unchanged at sf0.01 but
# a fresh driver row should re-verify each re-plan per protocol;
# curation_pipeline_v3 and bucketed_join_audit got the same fixes but
# are already in the r11 window), then (b) the 34 remaining r8-row
# entries not covered by the r11
# window (keltner_channels and heikin_ashi, which yielded their r11
# slots to the mid-round registrations, then shipping_priority,
# knn_ivf_pq_recall, envelope_mcap,
# ohlc_chart, vwap_hourly, close_pivot, documents_profile,
# cross_exchange_spread, rolling_beta, stochastic, donchian, ichimoku,
# bm25_scores, dsir_weights, media_features_auto, media_frames_real,
# hybrid_retrieval_rrf, pca_top_component, dup_clusters_star,
# spread_outer_stream_replay, pca_residual, knn_ivf_append,
# media_decode_jpeg_color, large_volume_customers, quality_auc,
# host_cap, quality_survivors, media_frames_gif, bpe_vocab_k,
# plan_audit_skew, bpe_encode, semantic_dedup_capped), registry
# order, then (c) the oldest r9-row entries with any remaining slots.
# Rename EXPECTED_R11_WINDOW to EXPECTED_R12_WINDOW in the same
# commit.
# The r10-written round-11 guidance (kept for history):
# front-load (a) anything r11 adds or
# re-plans, (b) the r7-row cohort not covered by the r10 window
# (price_chart, indicator_chart, coin_display, quality_score,
# token_counts, lang_id, doc_fingerprint, bigram_logprob,
# doc_length_quantiles, top_terms, redact_pii, dataset_split,
# deterministic_sample, stratified_sample, pack_chunks,
# media_metadata, frame_schedule, coins_dim, price_data,
# ohlc_candles, technical_indicators, coin_market_cap, coin_table,
# envelope_price, envelope_coins, envelope_ohlc,
# coin_indicators_left, volume_rollup, text_stats, plus atr_14 and
# exchange_cardinality_approx which yielded their r10 slots — 31
# entries),
# registry order, then (c) the oldest r8-row entries with any
# remaining slots. Rename EXPECTED_R10_WINDOW to EXPECTED_R11_WINDOW
# in the same commit.
# The r9-written round-10 guidance (kept for history):
# front-load (a) anything r10 adds or re-plans, (b)
# spread_stream_replay and exact_dedup (r6 rows that yielded their r9
# (d) slots to the mid-round registrations), (c) the ~33 remaining
# r6-row entries not covered by the r9 window, oldest first in
# registry order, then (d) the oldest r7-row entries with any
# remaining slots.
# The r8-written round-9 guidance (kept for history):
# front-load (a) anything r9 adds or re-plans, (b) the remaining
# ~30 r5-row entries not covered by the r8 window (dup_rate_by_source,
# coin_volume_percentile, volume_grouping_sets, knn_recall, url_dedup,
# media_decode_ppm, vwap_stream_replay, span_dedup, gopher_rules,
# media_decode_wav, mixture_sample, knn_pq, curation_pipeline_v2,
# price_resample_1h, knn_pq_recall, session_stream_replay,
# coin_pagerank, price_anomalies, forecast_backtest, bpe_merges,
# jsonl_roundtrip, volume_profile, bollinger_bands, max_drawdown, obv,
# knn_brute_vectorized, active_coins_semi, momentum_ranks,
# knn_lsh_multiprobe, ...), oldest first, then (c) the ten r4-yield
# entries rotated through r8 only if their r8 rows aged out.
# The original r7-written guidance (kept for history):
# front-load (a) anything r8 adds or
# re-plans, (b) the nine yielded r4-row entries (stochastic/donchian/
# ichimoku/rolling_beta/cross_exchange_spread/documents_profile/
# close_pivot/vwap_hourly/ohlc_chart/envelope_mcap — the only
# r4-row entries
# left), (c) the 50 entries whose newest rows are r5
# (activity_reconciliation, event_props_variant, keltner_channels,
# candlestick_patterns, vocab_coverage, scd2_volume_tiers, knn_ivf_pq,
# csv_roundtrip, heikin_ashi, funnel_conversion, lead_lag_corr,
# rolling_sharpe, market_regime, corpus_quality_report,
# pricing_summary, rolling_active_coins, shipping_priority,
# knn_ivf_pq_recall, exchange_hll_rollup, ohlc_stream_replay,
# dup_rate_by_source, coin_volume_percentile, volume_grouping_sets,
# knn_recall, url_dedup, media_decode_ppm, vwap_stream_replay,
# span_dedup, gopher_rules, media_decode_wav, mixture_sample, knn_pq,
# curation_pipeline_v2, price_resample_1h, knn_pq_recall,
# session_stream_replay, coin_pagerank, price_anomalies,
# forecast_backtest, bpe_merges, jsonl_roundtrip, volume_profile,
# bollinger_bands, max_drawdown, obv, knn_brute_vectorized,
# active_coins_semi, momentum_ranks, knn_lsh_multiprobe...), oldest
# first; the ~48 r6-row and ~45 r7-row entries can wait.
# Update the EXPECTED_R{N}_WINDOW list in test_sql_api.py in the same
# commit as any window change.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # ---- literal order = REGISTRATION history. Since r8 the driver
    # window is applied by the _R8_WINDOW_FRONT reorder after this
    # dict; the section comments below record each round's additions.
    # ---- ROUND-7 DRIVER WINDOW (was first 50; pinned then by
    # tests/test_sql_api.py::EXPECTED_R7_WINDOW) ----
    # new this round (12): trained-index SemDeDup, exactly-once
    # recovery replay, late-data-drop replay, BMP + GIF + JPEG
    # real-decode rows, real pixel resize, bloom-prefiltered
    # incremental dedup, Z-order layout profile, CMS frequency
    # sketch, stream-static enrichment replay, production-shape IVF
    "semantic_dedup_trained": q_semantic_dedup_trained,
    "recovery_stream_replay": q_recovery_stream_replay,
    "media_decode_bmp": q_media_decode_bmp,
    "media_decode_gif": q_media_decode_gif,
    "media_decode_jpeg": q_media_decode_jpeg,
    "media_resize": q_media_resize,
    "incremental_dedup_bloom": q_incremental_dedup_bloom,
    "zorder_profile": q_zorder_profile,
    "cms_frequencies": q_cms_frequencies,
    "enrich_stream_replay": q_enrich_stream_replay,
    "late_drop_stream_replay": q_late_drop_stream_replay,
    "knn_ivf_full_fixed": q_knn_ivf_full_fixed,
    # re-planned this round (2): knn_lsh_planes8 plants probe
    # twins (non-vacuous recall); exchange_influencers runs the
    # BINDING max_per_bucket=3 edge cap (last scale-killer closed)
    "knn_lsh_planes8": q_knn_lsh_planes8,
    "exchange_influencers": q_exchange_influencers,
    # the r4-stale evidence set rotates in (36 of 46; oldest rows in
    # the registry) — the ten yields are listed in the rotation note
    # above with their pinning evidence
    "trading_sessions": q_trading_sessions,
    "session_range_join": q_session_range_join,
    "market_cap_chart": q_market_cap_chart,
    "knn_ivf_trained": q_knn_ivf_trained,
    "volume_cube": q_volume_cube,
    "exchange_cardinality_approx": q_exchange_cardinality_approx,
    "atr_14": q_atr_14,
    "price_chart": q_price_chart,
    "indicator_chart": q_indicator_chart,
    "coin_display": q_coin_display,
    "quality_score": q_quality_score,
    "token_counts": q_token_counts,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
    "bigram_logprob": q_bigram_logprob,
    "doc_length_quantiles": q_doc_length_quantiles,
    "top_terms": q_top_terms,
    "redact_pii": q_redact_pii,
    "dataset_split": q_dataset_split,
    "deterministic_sample": q_deterministic_sample,
    "stratified_sample": q_stratified_sample,
    "pack_chunks": q_pack_chunks,
    "media_metadata": q_media_metadata,
    "frame_schedule": q_frame_schedule,
    "coins_dim": q_coins,
    "price_data": q_price_data,
    "ohlc_candles": q_ohlc,
    "technical_indicators": q_indicators,
    "coin_market_cap": q_market_cap,
    "coin_table": q_coin_table,
    "envelope_price": q_envelope_price,
    "envelope_coins": q_envelope_coins,
    "envelope_ohlc": q_envelope_ohlc,
    "coin_indicators_left": q_coin_indicators_left,
    "volume_rollup": q_volume_rollup,
    "text_stats": q_text_stats,
    # ---- end of driver correctness window (50 entries above) ----
    # Tail: driver-green in r4/r5/r6 under the current fixtures and
    # unchanged this round; still pinned at sf0.001 every session by
    # tests/test_oracle_parity.py. Ordered: r6-row members first,
    # then r5-row, then the ten yielded r4-row entries
    # (envelope_mcap, ohlc_chart, vwap_hourly, close_pivot,
    # documents_profile,
    # cross_exchange_spread + rolling_beta/stochastic/donchian/
    # ichimoku — computations pinned elsewhere: ohlc_candles +
    # price_chart cover ohlc_chart, vwap_stream_replay shares
    # vwap_hourly's exact oracle SQL, volume_grouping_sets pins the
    # Expand/conditional-agg family, corpus_quality_report,
    # spread_stream_replay, atr_14 and technical_indicators cover
    # the rest) — they front-load the r8 rotation together with
    # anything r8 re-plans.
    "simhash_pairs_wide": q_simhash_pairs_wide,
    "knn_ivf_fixed": q_knn_ivf_fixed,
    "media_decode_png": q_media_decode_png,
    "salted_join_skew": q_salted_join_skew,
    "restfeed_stream_replay": q_restfeed_stream_replay,
    "plan_audit": q_plan_audit,
    "embedding_dup_wide": q_embedding_dup_wide,
    "dedup_stream_replay": q_dedup_stream_replay,
    "coin_pagerank_capped": q_coin_pagerank_capped,
    "kmeans_centroids_fixed": q_kmeans_fixed,
    "ohlc_daily_rollup": q_ohlc_daily_rollup,
    "event_bigrams": q_event_bigrams,
    "restfeed_ohlc": q_restfeed_ohlc,
    "orc_roundtrip": q_orc_roundtrip,
    "spread_stream_replay": q_spread_stream_replay,
    "exact_dedup": q_exact_dedup,
    "dedup_survivors": q_dedup_survivors,
    "ngram_jaccard_pairs": q_ngram_jaccard,
    "minhash_lsh_pairs": q_minhash_lsh,
    "pack_chunks_overlap": q_pack_chunks_overlap,
    "contamination": q_contamination,
    "curation_pipeline": q_curation_pipeline,
    "repetition_stats": q_repetition_stats,
    "tfidf_top_terms": q_tfidf_top_terms,
    "doc_length_quantiles_approx": q_doc_length_quantiles_approx,
    "exchange_cardinality": q_exchange_cardinality,
    "knn_quantized": q_knn_quantized,
    "embedding_normalize": q_embedding_normalize,
    "embedding_quantize": q_embedding_quantize,
    "media_frames": q_media_frames,
    "media_features": q_media_features,
    "stale_coins_anti": q_stale_coins_anti,
    "top_coins_by_volume": q_top_coins_by_volume,
    "union_price_feeds": q_union_price_feeds,
    "asof_price_candle": q_asof_price_candle,
    "top_suppliers": q_top_suppliers,
    "user_retention": q_user_retention,
    "price_correlation": q_price_correlation,
    "event_props_stats": q_event_props_stats,
    "revenue_by_nation": q_revenue_by_nation,
    "keltner_channels": q_keltner_channels,
    "candlestick_patterns": q_candlestick_patterns,
    "vocab_coverage": q_vocab_coverage,
    "scd2_volume_tiers": q_scd2_volume_tiers,
    "knn_ivf_pq": q_knn_ivf_pq,
    "csv_roundtrip": q_csv_roundtrip,
    "heikin_ashi": q_heikin_ashi,
    "funnel_conversion": q_funnel_conversion,
    "lead_lag_corr": q_lead_lag_corr,
    "rolling_sharpe": q_rolling_sharpe,
    "market_regime": q_market_regime,
    "corpus_quality_report": q_corpus_quality_report,
    "pricing_summary": q_pricing_summary,
    "rolling_active_coins": q_rolling_active_coins,
    "event_props_variant": q_event_props_variant,
    "activity_reconciliation": q_activity_reconciliation,
    "shipping_priority": q_shipping_priority,
    "knn_ivf_pq_recall": q_knn_ivf_pq_recall,
    "exchange_hll_rollup": q_exchange_hll_rollup,
    "ohlc_stream_replay": q_ohlc_stream_replay,
    "dup_rate_by_source": q_dup_rate_by_source,
    "coin_volume_percentile": q_coin_volume_percentile,
    "volume_grouping_sets": q_volume_grouping_sets,
    "knn_recall": q_knn_recall,
    "url_dedup": q_url_dedup,
    "media_decode_ppm": q_media_decode_ppm,
    "vwap_stream_replay": q_vwap_stream_replay,
    "span_dedup": q_span_dedup,
    "gopher_rules": q_gopher_rules,
    "media_decode_wav": q_media_decode_wav,
    "mixture_sample": q_mixture_sample,
    "knn_pq": q_knn_pq,
    "curation_pipeline_v2": q_curation_pipeline_v2,
    "price_resample_1h": q_price_resample_1h,
    "knn_pq_recall": q_knn_pq_recall,
    "session_stream_replay": q_session_stream_replay,
    "price_anomalies": q_price_anomalies,
    "forecast_backtest": q_forecast_backtest,
    "bpe_merges": q_bpe_merges,
    "jsonl_roundtrip": q_jsonl_roundtrip,
    "volume_profile": q_volume_profile,
    "bollinger_bands": q_bollinger_bands,
    "max_drawdown": q_max_drawdown,
    "obv": q_obv,
    "knn_brute_vectorized": q_knn_brute_vectorized,
    "active_coins_semi": q_active_coins_semi,
    "momentum_ranks": q_momentum_ranks,
    "knn_lsh_multiprobe": q_knn_lsh_multiprobe,
    "envelope_mcap": q_envelope_mcap,
    "ohlc_chart": q_ohlc_chart,
    "vwap_hourly": q_vwap_hourly,
    "close_pivot": q_close_pivot,
    "documents_profile": q_documents_profile,
    "cross_exchange_spread": q_cross_exchange_spread,
    "rolling_beta": q_rolling_beta,
    "stochastic": q_stochastic,
    "donchian": q_donchian,
    "ichimoku": q_ichimoku,
    # ---- appended mid-round-7 (out of the pinned 50-slot window;
    # r8 rotation candidates — front-load ALL SEVENTEEN of these in the
    # r8 window: retrieval (bm25/dsir/rrf), generic decode + real
    # frames + color JPEG, fuzzy linkage, distributed PCA + ABTT
    # residuals, log-round star CC, incremental IVF append, TPC-H Q18,
    # classifier-eval AUC, per-host crawl cap, quality-aware
    # survivorship, and the two new
    # streaming replay rows (custom-stateful drawdown, stream-stream
    # LEFT OUTER)) ----
    "bm25_scores": q_bm25_scores,
    "dsir_weights": q_dsir_weights,
    "dsir_sample": q_dsir_sample,
    "media_features_auto": q_media_features_auto,
    "media_frames_real": q_media_frames_real,
    "hybrid_retrieval_rrf": q_hybrid_retrieval_rrf,
    "fuzzy_match_blocked": q_fuzzy_match_blocked,
    "fuzzy_match_multipass": q_fuzzy_match_multipass,
    "pca_top_component": q_pca_top_component,
    "dup_clusters_star": q_dup_clusters_star,
    "drawdown_stream_replay": q_drawdown_stream_replay,
    "spread_outer_stream_replay": q_spread_outer_stream_replay,
    "pca_residual": q_pca_residual,
    "knn_ivf_append": q_knn_ivf_append,
    "media_decode_jpeg_color": q_media_decode_jpeg_color,
    "large_volume_customers": q_large_volume_customers,
    "quality_auc": q_quality_auc,
    "host_cap": q_host_cap,
    "quality_survivors": q_quality_survivors,
    # ---- round 8 registrations ----
    "media_frames_gif": q_media_frames_gif,
    "bpe_vocab_k": q_bpe_vocab_k,
    "plan_audit_skew": q_plan_audit_skew,
    "bpe_encode": q_bpe_encode,
    "bpe_pack": q_bpe_pack,
    "semantic_dedup_capped": q_semantic_dedup_capped,
    "repeated_spans_sliding": q_repeated_spans_sliding,
    # ---- round 9 registrations ----
    "media_frames_gif2": q_media_frames_gif2,
    "remove_repeated_spans": q_remove_repeated_spans,
    "remove_repeated_spans_keep_first": q_remove_repeated_spans_keep_first,
    "leakage_safe_split": q_leakage_safe_split,
    # ---- round 11 registrations ----
    "curation_pipeline_v3": q_curation_pipeline_v3,
    # mid-round additions (this session): the capped-SemDeDup -> CC
    # transitive dup-group composition and the co-located-join
    # evidence row
    "semantic_dup_components": q_semantic_dup_components,
    "bucketed_join_audit": q_bucketed_join_audit,
    # ---- round 12 registrations: the trained quality classifier
    # family (hashed-BoW balanced logistic regression, fixed-point
    # gradient rounds as keyed aggregates) and the end-to-end pipeline
    # behind its gate ----
    "quality_classifier_weights": q_quality_classifier_weights,
    "quality_classifier_scores": q_quality_classifier_scores,
    "quality_classifier_auc": q_quality_classifier_auc,
    "curation_pipeline_v4": q_curation_pipeline_v4,
    # mid-round addition (this session): the rollout-review profile of
    # the trained filter vs its teacher
    "quality_classifier_disagreement": q_quality_classifier_disagreement,
    # ---- round 13 registrations ----
    # perceptual image dedup (r12 verdict item #4): fixed-point dHash
    # over the real PPM decode, then Hamming-banded pairs over DISTINCT
    # hashes -> star components -> per-image cluster labels
    "media_dhash": q_media_dhash,
    "media_dup_clusters": q_media_dup_clusters,
    # the trained filter in the production streaming path (item #5):
    # frozen weights scored per micro-batch inside foreachBatch
    "quality_stream_replay": q_quality_stream_replay,
    # serving pushdown made auditable (item #7): price_chart over the
    # sink-materialized price_data table — StringEndsWith reaches the
    # parquet scan (EXPLAIN.md §stored-serving)
    "price_chart_stored": q_price_chart_stored,
    # mid-round additions (this session): the second perceptual hash
    # family (bit = cell vs grid mean, integer-exact) and
    # survivorship over the perceptual clusters
    "media_ahash": q_media_ahash,
    "media_dup_survivors": q_media_dup_survivors,
    # late-r13 additions, registered AFTER the 50-slot window was
    # sealed (every slot is spoken for by a verdict done-criterion);
    # both carry full local driver-gate evidence (sf0.001+sf0.01 value
    # rows, pytest) and the r14 guidance front-loads them
    "lm_perplexity_buckets": q_lm_perplexity_buckets,
    "bpe_fertility": q_bpe_fertility,
    # ---- r14 registrations ----
    # dual-family perceptual dedup: dHash + aHash pairs + bridge
    # edges -> one star-CC label set (r13 verdict item #3)
    "media_dup_clusters_union": q_media_dup_clusters_union,
    # paired text+image dedup over a planted caption-image corpus:
    # MinHash text pairs annotated with perceptual-cluster agreement
    # + the three modality counts (r13 verdict item #4)
    "image_text_dup_agreement": q_image_text_dup_agreement,
    # the end-to-end pipeline with a media survivorship stage
    # composed into the trained gate (r13 verdict item #5)
    "curation_pipeline_v5": q_curation_pipeline_v5,
    # late-r14 additions, registered AFTER the 50-slot window was
    # sealed (every slot is spoken for by the r13 verdict's
    # done-criteria); both carry full local driver-gate evidence
    # (sf0.001+sf0.01 value rows, pytest) and the r15 guidance
    # front-loads them — the r13 lm_perplexity_buckets precedent
    "audio_fingerprint": q_audio_fingerprint,
    "audio_dup_clusters": q_audio_dup_clusters,
    # video closes the modality set: frame-sampled perceptual
    # fingerprint over the real animated-GIF decode + the shared
    # rep/band/CC chain — same late-registration posture/evidence
    "video_fingerprint": q_video_fingerprint,
    "video_dup_clusters": q_video_dup_clusters,
    # late-r14 continuation (same sealed-window posture/evidence):
    # survivorship for the two new families (audio keeps the longest
    # clip, video the largest frame volume — the image family's rank
    # window generalized) and the perceptual-family capstone: one
    # report across all four modalities through the ONE shared
    # rep/band/CC chain, text included via SimHash's identical band
    # contract
    "audio_dup_survivors": q_audio_dup_survivors,
    "video_dup_survivors": q_video_dup_survivors,
    "multimodal_dedup_report": q_multimodal_dedup_report,
    # streaming perceptual media dedup: the fingerprint-registry
    # ingestion harness (per-batch dHash + registry anti-join inside
    # foreachBatch, range-ordered spool => streamed survivors == the
    # batch rep collapse) — the twelfth streaming path with a driver
    # row, and the first for the media family
    "media_dedup_stream_replay": q_media_dedup_stream_replay,
    # the end-to-end pipeline with the FULL multimodal gate: every
    # doc carries exactly one payload modality (doc_id % 3), the
    # trained keep set anti-joins the union of the three perceptual
    # families' drop sets (image/audio/video survivorship)
    "curation_pipeline_v6": q_curation_pipeline_v6,
}

# ---- ROUND-10 DRIVER WINDOW (applied below; pinned by
# tests/test_sql_api.py::EXPECTED_R10_WINDOW) ----
# The r9 window rationale (kept for history):
# The dict literal above preserves REGISTRATION history; the driver's
# 50-slot correctness window is applied by reordering here, per the
# r8 rotation note and the r8 verdict item #1: (a) the THREE r9
# registrations (media_frames_gif2 — GIF disposal-2/3 + transparency;
# remove_repeated_spans — the sliding-span cutter; leakage_safe_split
# — the near-dup-aware split) and the re-planned fuzzy_match_blocked
# (de-spilled block self-join, hash-unchanged — the fresh row
# re-verifies the re-plan); (b) the mid-r8 repeated_spans_sliding —
# the ONLY registered query that has never had a driver row; (c) ALL
# 31 remaining r5-row entries (the oldest evidence left); (d) 14
# oldest r6-row entries in registry order;
# spread_stream_replay and exact_dedup (r6 rows, safe to age one more
# round) yielded their (d) slots to the two mid-round (a)
# registrations. After the r9 driver run: zero never-checked
# registrations and no newest row older than r6.
# (The r8/r9 window lists live in git history / CORRECTNESS_r0{8,9}.json;
# PINNING.md tracks per-query evidence age.)
# ROUND-10 ROTATION (executed per the r9 guidance; list in git history
# / CORRECTNESS_r10.json): (a) bpe_pack, fuzzy_match_multipass,
# remove_repeated_spans_keep_first, dsir_sample, drawdown_stream_replay;
# (b) spread_stream_replay, exact_dedup; (c) the 24 remaining r6 rows;
# (d) the 19 oldest r7 rows (atr_14 / exchange_cardinality_approx
# yielded to the mid-round registrations).
# ROUND-11 ROTATION (executed per the r10 guidance block above; list
# in git history / CORRECTNESS_r11.json): (a) curation_pipeline_v3 +
# the re-planned fuzzy_match_multipass / dsir_sample + the mid-round
# semantic_dup_components / bucketed_join_audit; (b) the full
# 31-entry r7-row cohort; (c) the 14 oldest r8 rows
# (keltner_channels / heikin_ashi yielded to the mid-round
# registrations).
# ROUND-12 ROTATION (executed per the r11 guidance; list in git
# history / CORRECTNESS_r12.json): (a) the five classifier-family
# registrations, (a2) the four late-r11 hash-stable re-plans, (b) the
# full 34-entry r8-row cohort, (c) the 7 oldest r9 rows (plan_audit
# yielded to the mid-round disagreement registration).
# ROUND-13 ROTATION (executed per the r12 guidance block above):
_R14_WINDOW_FRONT = [
    # (a) the three r14 registrations (r13 verdict items #3-#5) plus
    # the two late-r13 registrations that sealed-window precedent left
    # with 'never' driver rows (full local evidence in PINNING r13;
    # the r13 verdict front-loads them as next-round #1)
    "media_dup_clusters_union",
    "image_text_dup_agreement",
    "curation_pipeline_v5",
    "lm_perplexity_buckets",
    "bpe_fertility",
    # (b) the FULL 43-entry r10-row cohort, registry order — after
    # the r14 driver run no newest row is older than r11
    "semantic_dedup_trained",
    "recovery_stream_replay",
    "media_decode_bmp",
    "media_decode_gif",
    "media_decode_jpeg",
    "media_resize",
    "incremental_dedup_bloom",
    "zorder_profile",
    "cms_frequencies",
    "enrich_stream_replay",
    "late_drop_stream_replay",
    "knn_ivf_full_fixed",
    "knn_lsh_planes8",
    "exchange_influencers",
    "trading_sessions",
    "session_range_join",
    "market_cap_chart",
    "knn_ivf_trained",
    "volume_cube",
    "spread_stream_replay",
    "exact_dedup",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "repetition_stats",
    "tfidf_top_terms",
    "doc_length_quantiles_approx",
    "exchange_cardinality",
    "knn_quantized",
    "embedding_normalize",
    "embedding_quantize",
    "media_frames",
    "media_features",
    "stale_coins_anti",
    "top_coins_by_volume",
    "union_price_feeds",
    "asof_price_candle",
    "top_suppliers",
    "user_retention",
    "price_correlation",
    "event_props_stats",
    "revenue_by_nation",
    "drawdown_stream_replay",
    "remove_repeated_spans_keep_first",
    # (c) 2 remaining slots for the r13 oracle-literal consolidation's
    # re-rendered texts still on pre-render driver rows: dataset_split
    # (r11; yielded its r13 slot to media_ahash) and
    # quality_classifier_auc — of the r12-fresh re-rendered family the
    # text that renders the MOST consolidated constants (the _qclf
    # chain's split-train predicate + quality battery PLUS
    # split_case_sql and split_holdout_pred_sql), so one slot
    # re-hashes the widest consolidated surface. The remaining 6
    # re-rendered texts hold r12-fresh rows (values proven identical
    # in DuckDB before the r13 swap) and sweep by natural rotation.
    "dataset_split",
    "quality_classifier_auc",
]
assert len(_R14_WINDOW_FRONT) == 50 and len(set(_R14_WINDOW_FRONT)) == 50
assert set(_R14_WINDOW_FRONT) <= set(QUERIES), sorted(
    set(_R14_WINDOW_FRONT) - set(QUERIES)
)
QUERIES = {
    k: QUERIES[k]
    for k in _R14_WINDOW_FRONT + [k for k in QUERIES if k not in _R14_WINDOW_FRONT]
}

# ---------------------------------------------------------------------------
# ORACLES assembly: each domain module contributes its ORACLE_SQL part;
# registration-history order (the pre-split dict-literal order, pinned
# by tests/fixtures/registry_snapshot.json) is restored explicitly so
# the split stays a pure refactor. New registrations append BOTH to the
# owning module's ORACLE_SQL and to this order list.
# ---------------------------------------------------------------------------

# Oracle rows for the plan-audit queries live here because the builders
# above reference QUERIES itself.
_LOCAL_ORACLE_SQL: dict[str, str] = {
    # replays the DataSource's integer-arithmetic generator with
    # generate_series, then the standard candle CTE on top
    # the plan-shape contract: expected feature literals, measured and
    # pinned (identical tuned/vanilla, sf-independent); a planner or
    # plan regression = hash mismatch. Re-pin DELIBERATELY (with the
    # new measurement) if Spark is upgraded or a plan is re-designed.
    # AQE skew probe: fixed synthetic input, so the whole row --
    # results AND adaptive-plan booleans -- is a literal contract
    "plan_audit_skew": """
SELECT * FROM (VALUES
  ('skew_on',  100000::BIGINT, 3200000::BIGINT, 999900000::BIGINT, TRUE, TRUE,  TRUE),
  ('skew_off', 100000::BIGINT, 3200000::BIGINT, 999900000::BIGINT, TRUE, FALSE, FALSE)
) AS t(mode, n_rows, pad_chars, tag_sum, smj_in_final, skew_split_applied,
       aqe_shuffle_reads)""",
    "plan_audit": """
SELECT * FROM (VALUES
  ('coin_table', 4, 1, 1, 0, 0),
  ('exact_dedup', 1, 0, 0, 0, 0),
  ('technical_indicators', 1, 0, 0, 0, 0),
  ('coin_market_cap', 3, 1, 1, 0, 0),
  ('gopher_rules', 0, 0, 0, 0, 0),
  ('media_metadata', 0, 0, 0, 0, 0),
  ('price_chart', 1, 0, 0, 0, 0),
  ('url_dedup', 2, 0, 0, 0, 0)
) AS t(query, n_shuffles, n_broadcasts, n_broadcast_joins,
       n_sortmerge_joins, n_window_group_limits)""",
}

_ORACLE_REGISTRATION_ORDER = [
    "coins_dim",
    "price_data",
    "ohlc_candles",
    "technical_indicators",
    "coin_market_cap",
    "market_cap_chart",
    "price_chart",
    "ohlc_chart",
    "indicator_chart",
    "coin_table",
    "coin_display",
    "text_stats",
    "quality_score",
    "token_counts",
    "lang_id",
    "doc_fingerprint",
    "bigram_logprob",
    "repetition_stats",
    "tfidf_top_terms",
    "contamination",
    "curation_pipeline",
    "dataset_split",
    "deterministic_sample",
    "stratified_sample",
    "pack_chunks",
    "pack_chunks_overlap",
    "top_terms",
    "redact_pii",
    "exchange_cardinality",
    "exchange_cardinality_approx",
    "doc_length_quantiles",
    "doc_length_quantiles_approx",
    "exact_dedup",
    "ngram_jaccard_pairs",
    "dedup_survivors",
    "minhash_lsh_pairs",
    "leakage_safe_split",
    "curation_pipeline_v3",
    "simhash_pairs_wide",
    "embedding_dup_wide",
    "semantic_dedup_trained",
    "semantic_dedup_capped",
    "kmeans_centroids_fixed",
    "knn_quantized",
    "embedding_normalize",
    "embedding_quantize",
    "knn_brute_vectorized",
    "knn_lsh_multiprobe",
    "knn_ivf_fixed",
    "knn_ivf_full_fixed",
    "knn_lsh_planes8",
    "knn_recall",
    "url_dedup",
    "media_decode_png",
    "media_decode_ppm",
    "media_decode_bmp",
    "media_decode_gif",
    "media_frames_gif",
    "media_frames_gif2",
    "media_decode_jpeg",
    "media_resize",
    "repeated_spans_sliding",
    "remove_repeated_spans",
    "remove_repeated_spans_keep_first",
    "span_dedup",
    "gopher_rules",
    "price_resample_1h",
    "curation_pipeline_v2",
    "mixture_sample",
    "knn_pq_recall",
    "knn_pq",
    "knn_ivf_pq",
    "knn_ivf_pq_recall",
    "media_decode_wav",
    "knn_ivf_trained",
    "media_metadata",
    "frame_schedule",
    "media_features",
    "media_frames",
    "envelope_price",
    "envelope_coins",
    "envelope_ohlc",
    "envelope_mcap",
    "coin_indicators_left",
    "asof_price_candle",
    "active_coins_semi",
    "stale_coins_anti",
    "union_price_feeds",
    "top_coins_by_volume",
    "volume_rollup",
    "ichimoku",
    "rolling_beta",
    "cross_exchange_spread",
    "documents_profile",
    "obv",
    "stochastic",
    "donchian",
    "max_drawdown",
    "atr_14",
    "ohlc_stream_replay",
    "recovery_stream_replay",
    "late_drop_stream_replay",
    "plan_audit_skew",
    "plan_audit",
    "salted_join_skew",
    "restfeed_stream_replay",
    "restfeed_ohlc",
    "ohlc_daily_rollup",
    "event_bigrams",
    "shipping_priority",
    "event_props_variant",
    "activity_reconciliation",
    "pricing_summary",
    "rolling_active_coins",
    "exchange_hll_rollup",
    "dup_rate_by_source",
    "coin_volume_percentile",
    "volume_grouping_sets",
    "lead_lag_corr",
    "rolling_sharpe",
    "market_regime",
    "corpus_quality_report",
    "heikin_ashi",
    "funnel_conversion",
    "vocab_coverage",
    "scd2_volume_tiers",
    "keltner_channels",
    "candlestick_patterns",
    "vwap_hourly",
    "vwap_stream_replay",
    "dedup_stream_replay",
    "bollinger_bands",
    "volume_cube",
    "close_pivot",
    "event_props_stats",
    "user_retention",
    "trading_sessions",
    "exchange_influencers",
    "jsonl_roundtrip",
    "csv_roundtrip",
    "orc_roundtrip",
    "incremental_dedup_bloom",
    "enrich_stream_replay",
    "cms_frequencies",
    "zorder_profile",
    "spread_stream_replay",
    "volume_profile",
    "bpe_vocab_k",
    "bpe_encode",
    "bpe_pack",
    "bpe_merges",
    "forecast_backtest",
    "price_anomalies",
    "coin_pagerank_capped",
    "session_stream_replay",
    "session_range_join",
    "price_correlation",
    "momentum_ranks",
    "revenue_by_nation",
    "top_suppliers",
    "bm25_scores",
    "dsir_weights",
    "dsir_sample",
    "media_features_auto",
    "media_frames_real",
    "hybrid_retrieval_rrf",
    "fuzzy_match_blocked",
    "fuzzy_match_multipass",
    "pca_top_component",
    "pca_residual",
    "quality_survivors",
    "host_cap",
    "quality_auc",
    "large_volume_customers",
    "media_decode_jpeg_color",
    "knn_ivf_append",
    "spread_outer_stream_replay",
    "drawdown_stream_replay",
    "dup_clusters_star",
    # ---- r11 mid-round registrations ----
    "semantic_dup_components",
    "bucketed_join_audit",
    # ---- r12 registrations ----
    "quality_classifier_weights",
    "quality_classifier_scores",
    "quality_classifier_auc",
    "curation_pipeline_v4",
    "quality_classifier_disagreement",
    # ---- r13 registrations ----
    "media_dhash",
    "media_dup_clusters",
    "quality_stream_replay",
    "price_chart_stored",
    "media_ahash",
    "media_dup_survivors",
    "lm_perplexity_buckets",
    "bpe_fertility",
    # ---- r14 registrations ----
    "media_dup_clusters_union",
    "image_text_dup_agreement",
    "curation_pipeline_v5",
    "audio_fingerprint",
    "audio_dup_clusters",
    "video_fingerprint",
    "video_dup_clusters",
    "audio_dup_survivors",
    "video_dup_survivors",
    "multimodal_dedup_report",
    "media_dedup_stream_replay",
    "curation_pipeline_v6",
]

_merged_oracles: dict[str, str] = {}
for _part in (
    *(getattr(_m, "ORACLE_SQL", {}) for _m in (
        _oracles_common,
        _oracles_serving,
        _oracles_indicators,
        _oracles_relational,
        _oracles_text,
        _oracles_similarity,
        _oracles_media,
        _oracles_streaming,
        _oracles_graph,
        _oracles_io_plans,
        _oracles_dedup,
        _oracles_corpus,
    )),
    _LOCAL_ORACLE_SQL,
):
    for _k in _part:
        assert _k not in _merged_oracles, f"duplicate oracle key {_k!r}"
    _merged_oracles.update(_part)
assert set(_merged_oracles) == set(_ORACLE_REGISTRATION_ORDER), (
    sorted(set(_merged_oracles) ^ set(_ORACLE_REGISTRATION_ORDER))
)
ORACLES: dict[str, str] = {
    _k: _merged_oracles[_k] for _k in _ORACLE_REGISTRATION_ORDER
}
