"""Regenerate PINNING.md — the driver-evidence map (r11 verdict #4:
the last round-boundary artifact still produced by an uncommitted
inline script).

Inputs (all deterministic, so regeneration is byte-stable):
  - CORRECTNESS_r*.json artifacts in the repo root — per-query driver
    rows; a query's "newest driver row" is the last round whose window
    included it with a FULL green (rows + schema + hash all true).
  - the live registry (plans/registry.py) — registration order and the
    current window front (the first WINDOW_SIZE keys of QUERIES, which
    is exactly what the driver checks per round).
  - the NOTES dict below — the per-round curated prose for new
    registrations / re-plans / yields. Edit it together with the
    rotation; everything else is computed.

Usage: python scripts/regenerate_pinning.py [--round N] [--check]
  --round N  (default: inferred as newest CORRECTNESS round + 1 — the
             round whose rotation is being committed)
  --check    regenerate to stdout and diff against the committed
             PINNING.md instead of writing (exit 1 on drift)
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WINDOW_SIZE = 50

# Per-round curated notes. Keys absent here render an empty note.
# A query IN the window renders "yes"; a query with a note but NOT in
# the window renders "no" (the yield convention); everything else "".
NOTES: dict[str, str] = {
    "video_fingerprint": (
        "registered late-r14 AFTER the window sealed (frame-sampled "
        "perceptual VIDEO fingerprint over the real animated-GIF decode: "
        "4 timeline-sampled frames f_k=(k*(nf-1))//3, 16 gradient-sign "
        "bits each over a 4x5 integer NN grid, band_k = frame k's hash); "
        "value rows green at sf0.001+sf0.01 locally + hand-computation "
        "pytest through the real LZW/compositing walk; r15 front-loads"
    ),
    "video_dup_clusters": (
        "registered late-r14 AFTER the window sealed (vfp_gif -> "
        "distinct-fingerprint rep collapse -> Hamming<=1 banded pairs "
        "(coarse 16-bit frame hashes tighten the verify distance) -> "
        "star CC — the image/audio machinery reused verbatim; completes "
        "the perceptual family across text/image/audio/video); value "
        "rows green at sf0.001+sf0.01 locally + banded-vs-bruteforce "
        "pytest; r15 front-loads"
    ),
    "audio_fingerprint": (
        "registered late-r14 AFTER the window sealed (fixed-point "
        "perceptual audio fingerprint over the real RIFF/WAVE decode: "
        "exact int64 mono mix, 65-window squared-energy contour, 64 sign "
        "bits in the shared band layout); value rows green at "
        "sf0.001+sf0.01 locally + hand-computation pytest; r15 front-loads"
    ),
    "audio_dup_clusters": (
        "registered late-r14 AFTER the window sealed (afp_wav -> "
        "distinct-fingerprint rep collapse -> Hamming<=2 banded pairs -> "
        "star CC — the image family's machinery reused verbatim); value "
        "rows green at sf0.001+sf0.01 locally + banded-vs-bruteforce "
        "pytest; r15 front-loads"
    ),
    "audio_dup_survivors": (
        "registered late-r14 AFTER the window sealed (survivorship over "
        "the audio clusters: keep the LONGEST clip per cluster — header "
        "n_frames DESC, min doc_id on ties — through the shared "
        "_ranked_clusters window); value rows green at sf0.001+sf0.01 "
        "locally + partition pytest; r15 front-loads"
    ),
    "video_dup_survivors": (
        "registered late-r14 AFTER the window sealed (survivorship over "
        "the video clusters: keep the largest frame volume "
        "n_frames*width*height per cluster through the shared "
        "_ranked_clusters window); value rows green at sf0.001+sf0.01 "
        "locally + partition pytest; r15 front-loads"
    ),
    "multimodal_dedup_report": (
        "registered late-r14 AFTER the window sealed (the perceptual-"
        "family capstone: text SimHash (128-bit wide) / image dHash / audio afp / video "
        "vfp each through the IDENTICAL rep/band/CC chain, one summary "
        "row per modality; oracle runs all four chains side-by-side); "
        "value rows green at sf0.001+sf0.01 locally + hand-count pytest; "
        "r15 front-loads"
    ),
    "media_dedup_stream_replay": (
        "registered late-r14 AFTER the window sealed (streaming "
        "perceptual media dedup: per-batch dHash + accumulated "
        "fingerprint-registry anti-join inside foreachBatch, "
        "range-ordered spool pins streamed survivors == the batch rep "
        "collapse); value rows green at sf0.001+sf0.01 locally + "
        "boundary-independence pytest (1-file vs 4-file drains == "
        "batch reps); r15 front-loads"
    ),
    "curation_pipeline_v6": (
        "registered late-r14 AFTER the window sealed (the end-to-end "
        "pipeline with the FULL multimodal gate: every doc carries one "
        "payload modality by doc_id % 3, trained keep set anti-joins "
        "the union of the image/audio/video perceptual drop sets, "
        "byte-shared _curation_stages tail); value rows green at "
        "sf0.001+sf0.01 locally + tail-unchanged/per-modality-binding "
        "pytest; r15 front-loads"
    ),
    "media_dup_clusters_union": (
        "registered r14 (dual-family perceptual dedup: dHash+aHash rep "
        "pairs + (d-rep, a-rep) bridge edges -> one star-CC label set, "
        "max_hamming=1 — union raises candidate recall so the verify "
        "distance tightens); bruteforce union-find pytest incl. "
        "one-family-only pairs; front-loaded"
    ),
    "image_text_dup_agreement": (
        "registered r14 (MinHash text pairs annotated with perceptual "
        "cluster agreement over a PLANTED block-keyed caption-image "
        "corpus — linear pair relation by construction; modality counts "
        "via label arithmetic); front-loaded"
    ),
    "curation_pipeline_v5": (
        "registered r14 (v4's trained gate + perceptual survivorship "
        "anti-join over the payload slice; _curation_stages tail "
        "byte-shared and pytest-proven unchanged when the media gate is "
        "empty); front-loaded"
    ),
    "media_dhash": (
        "registered r13 (fixed-point perceptual dHash over the real PPM "
        "decode: integer NN-sample + integer luma, 4x16-bit bands, oracle "
        "replays the hash bit-exactly from the closed-form pixels); "
        "front-loaded"
    ),
    "media_dup_clusters": (
        "registered r13 (perceptual image dedup: Hamming<=3 banded pairs "
        "over DISTINCT hashes only, star components, per-image cluster "
        "labels + sizes); r13 row; HASH-STABLE RE-PLAN r14 (cluster/label "
        "tail factored into _phash_cluster_labels, plan-identical; "
        "bruteforce pytest + full media-family sf0.01 value sweep green) "
        "— r15 should re-verify with a fresh driver row per the r12 "
        "re-plan precedent"
    ),
    "quality_stream_replay": (
        "registered r13 (the trained quality filter scored per micro-batch "
        "inside foreachBatch with frozen weights — batch===stream vs the "
        "qc_score oracle chain); front-loaded"
    ),
    "price_chart_stored": (
        "registered r13 (price_chart over the sink-materialized price_data "
        "table — StringEndsWith reaches the parquet scan as a pushed "
        "filter, EXPLAIN.md stored-serving section); front-loaded"
    ),
    "lm_perplexity_buckets": (
        "registered late-r13 AFTER the window sealed (CCNet-style per-lang "
        "head/middle/tail by corpus-LM score, rounded tercile cuts); value "
        "rows green at sf0.001+sf0.01 locally; in the r14 window per the "
        "front-load commitment"
    ),
    "bpe_fertility": (
        "registered late-r13 AFTER the window sealed (per-lang tokenizer "
        "fertility + chars-per-token under the trained BPE, exact integer "
        "sums); value rows green at sf0.001+sf0.01 locally; in the r14 "
        "window per the front-load commitment"
    ),
    "media_ahash": (
        "registered mid-r13 (the aHash sibling fingerprint: bit = cell vs "
        "grid mean, integer-exact as 64*v > sum(v)); front-loaded"
    ),
    "media_dup_survivors": (
        "registered mid-r13 (highest-resolution survivor per perceptual "
        "cluster, min id on ties — the media dedup_survivors twin); r13 "
        "row; HASH-STABLE RE-PLAN r14 (rank window factored into "
        "_perceptual_ranked, shared with perceptual_dup_drops so survivors "
        "and drops provably partition each cluster; values green at "
        "sf0.01) — r15 should re-verify with a fresh driver row"
    ),
    "semantic_dedup_trained": (
        "yielded its r13 (c) slot to the mid-round media_ahash "
        "registration (r10 row — the no-row-older-than-r10 criterion is "
        "unaffected); r14 (b) cohort front-loads it"
    ),
    "plan_audit": (
        "yielded its r12 (c) slot to the mid-round disagreement "
        "registration; front-loads the r13 (b) cohort as planned"
    ),
    # r13 oracle-literal consolidation (r12 verdict item #2): the
    # split-CASE / quality-battery literals moved to shared
    # oracles/common.py constants; 11 oracle texts re-rendered, values
    # proven IDENTICAL at sf0.001+sf0.01 before the rotation
    # (NOTES_r13). The 3 with the oldest evidence are in-window for a
    # fresh driver hash; the other 8 hold r12-fresh rows and are
    # yielded to the r9 cohort (r14 guidance sweeps them next).
    "contamination": (
        "oracle re-rendered r13 (shared split literals; values identical "
        "at sf0.001+sf0.01); in-window — fresh row re-verifies"
    ),
    "dataset_split": (
        "oracle re-rendered r13 (values identical at sf0.001+sf0.01); "
        "yielded its r13 (c) slot to the mid-round media_dup_survivors "
        "registration; in the r14 (c) window — fresh row re-verifies the "
        "re-rendered text"
    ),
    "curation_pipeline_v3": (
        "oracle re-rendered r13 (shared quality/split literals; values "
        "identical); in-window — fresh row re-verifies"
    ),
    "curation_pipeline": (
        "oracle re-rendered r13 (values identical at sf0.001+sf0.01); "
        "r12-fresh row stands, yielded to the r9 cohort, r14 sweeps"
    ),
    "quality_survivors": (
        "oracle re-rendered r13 (values identical); r12-fresh row stands, "
        "yielded to the r10 cohort in r14 (window full: every r10 row + five done-criteria registrations), r15 (c) sweeps"
    ),
    "quality_auc": (
        "oracle re-rendered r13 (values identical); r12-fresh row stands, "
        "yielded to the r10 cohort in r14 (window full: every r10 row + five done-criteria registrations), r15 (c) sweeps"
    ),
    "quality_classifier_weights": (
        "oracle re-rendered r13 (values identical); r12-fresh row stands, "
        "yielded to the r10 cohort in r14 (window full: every r10 row + five done-criteria registrations), r15 (c) sweeps"
    ),
    "quality_classifier_scores": (
        "oracle re-rendered r13 (values identical); r12-fresh row stands, "
        "yielded to the r10 cohort in r14 (window full: every r10 row + five done-criteria registrations), r15 (c) sweeps"
    ),
    "quality_classifier_auc": (
        "oracle re-rendered r13 (values identical); in the r14 (c) window "
        "— of the re-rendered family it renders the WIDEST consolidated "
        "surface (_qclf train predicate + quality battery + split_case + "
        "holdout predicate), so its fresh row pins the shared constants"
    ),
    "curation_pipeline_v4": (
        "oracle re-rendered r13 (values identical); r12-fresh row stands, "
        "yielded to the r10 cohort in r14 (window full: every r10 row + five done-criteria registrations), r15 (c) sweeps"
    ),
    "quality_classifier_disagreement": (
        "oracle re-rendered r13 (values identical); r12-fresh row stands, "
        "yielded to the r10 cohort in r14 (window full: every r10 row + five done-criteria registrations), r15 (c) sweeps"
    ),
}

def newest_rows(max_round: int | None = None) -> tuple[dict[str, int], int]:
    """Newest green driver row per query. ``max_round`` bounds the
    artifacts considered (inclusive) so a round-N map is reproducible
    after later rounds' artifacts land (ADVICE r12: a bare --check used
    to drift the moment CORRECTNESS_r{N}.json appeared next to the
    committed round-N PINNING.md, because the map silently absorbed the
    new rows)."""
    newest: dict[str, int] = {}
    latest = 0
    for p in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if not m:
            continue
        rnd = int(m.group(1))
        if max_round is not None and rnd > max_round:
            continue
        latest = max(latest, rnd)
        with open(p) as f:
            rows = json.load(f)
        for q, v in rows.items():
            if v.get("rows_match") and v.get("schema_match") and v.get("hash_match"):
                newest[q] = max(newest.get(q, 0), rnd)
    return newest, latest


def committed_round() -> int | None:
    """Parse the generation round from the committed PINNING.md header
    so --check compares like-for-like mid-cycle (ADVICE r12)."""
    path = os.path.join(REPO, "PINNING.md")
    try:
        with open(path) as f:
            head = f.readline()
    except OSError:
        return None
    m = re.search(r"\(round (\d+)\)", head)
    return int(m.group(1)) if m else None


def render(round_n: int) -> str:
    from etl_visualization_of_cryptocurrency_trading_data_spark.plans.registry import QUERIES

    # a round-N map is generated at the r{N} rotation, BEFORE the r{N}
    # driver run — so it sees artifacts r01..r{N-1} only
    newest, _ = newest_rows(max_round=round_n - 1)
    window = set(list(QUERIES)[:WINDOW_SIZE])
    prev = round_n - 1
    lines = [
        f"# PINNING.md — driver-evidence map (round {round_n})",
        "",
        f"Generated by scripts/regenerate_pinning.py from "
        f"CORRECTNESS_r{{01..{prev:02d}}}.json at the r{round_n} rotation. One row",
        "per registered query.",
        "",
        "- **newest driver row** — the last round whose driver correctness",
        "  window included the query with a green hash (never = no driver row",
        "  yet).",
        f"- **r{round_n} window** — whether the r{round_n} rotation front-loads it (the first",
        f"  {WINDOW_SIZE} registry entries the driver checks this round).",
        "- **note** — registrations, re-plans, or why a never/aged entry is",
        "  safe (every registered query also passes the full sf0.01 hash",
        f"  sweep locally each round; see NOTES_r{round_n}).",
        "",
        "Maintenance: regenerate after each rotation with",
        "`python scripts/regenerate_pinning.py` (inputs: the CORRECTNESS",
        "artifacts, the live registry window, and this script's NOTES dict —",
        "edit NOTES in the same commit as the rotation).",
        "",
        f"| query | newest driver row | r{round_n} window | note |",
        "|---|---|---|---|",
    ]
    for q in QUERIES:
        row = newest.get(q)
        age = f"r{row}" if row else "never"
        note = NOTES.get(q, "")
        if q in window:
            w = "yes"
        elif note:
            w = "no"
        else:
            w = ""
        lines.append(f"| {q} | {age} | {w} | {note} |")
    lines.append("")
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, default=None)
    ap.add_argument("--check", action="store_true")
    args = ap.parse_args()
    round_n = args.round
    if round_n is None:
        if args.check:
            # compare against what the committed file claims to be, not
            # newest-artifact+1 (which flips the moment the current
            # round's CORRECTNESS artifact lands — ADVICE r12)
            round_n = committed_round()
        if round_n is None:
            round_n = newest_rows()[1] + 1
    text = render(round_n)
    path = os.path.join(REPO, "PINNING.md")
    if args.check:
        with open(path) as f:
            committed = f.read()
        if committed != text:
            sys.stderr.write("PINNING.md drifts from the generator output\n")
            return 1
        print("PINNING.md matches the generator output")
        return 0
    with open(path, "w") as f:
        f.write(text)
    print(f"wrote PINNING.md for round {round_n} ({text.count(chr(10))} lines)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
