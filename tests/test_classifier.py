"""Tests for the trained quality classifier (operators/classifier.py,
r11 verdict item #3): feature-map exactness against an independent
Python md5 replay, a HAND-COMPUTED gradient round (closed-form first
step from raw counts, no engine code), a full independent numpy replay
of the K-round recipe, the degenerate single-class fallback, the
discrimination contract of the held-out eval, and the v4 pipeline's
per-stage drop accounting (the curation_pipeline_v3 test's pattern
with the trained gate)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_visualization_of_cryptocurrency_trading_data_spark.operators import (
    classifier,
    corpus,
    sampling,
    text,
)
from etl_visualization_of_cryptocurrency_trading_data_spark.operators.classifier import (
    QCLF_BUCKETS,
    QCLF_ITERS,
    QCLF_LR,
)

from conftest import SF_ORACLE


def _docs(spark):
    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import load_table

    return load_table(spark, SF_ORACLE, "documents")


def _py_bucket(token: str, buckets: int = QCLF_BUCKETS, salt: str = "qclf") -> int:
    """Independent Python replay of sampling.hash_bucket."""
    return int(hashlib.md5((salt + token).encode()).hexdigest()[:8], 16) % buckets


def _tiny_corpus(spark):
    """Six literal docs: three pass the with_quality teacher (>= 20
    words, sane word length, stopwords), three fail (too short)."""
    good = "the quick brown fox jumps over a lazy dog and then runs to the green hill for fun in the warm sun of may"
    rows = [
        (1, good, "en", "web"),
        (2, good + " extra tail words here", "en", "web"),
        (3, "the cat sat on a mat and the dog lay by the door while rain fell on the old tin roof all day", "en", "news"),
        (4, "short junk", "en", "web"),
        (5, "tiny", "de", "web"),
        (6, "two words", "fr", "news"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])


# ---------------------------------------------------------------------------
# feature map
# ---------------------------------------------------------------------------


def test_hashed_features_exact_values(spark):
    docs = _tiny_corpus(spark)
    feats = classifier.hashed_features(docs).collect()
    by_doc: dict[int, dict[int, float]] = {}
    for r in feats:
        by_doc.setdefault(r.doc_id, {})[r.b] = r.x
    # doc 5: one token "tiny" -> one BoW cell with tf 1.0, bias 1.0,
    # length 1/101 — all exact IEEE values
    d5 = by_doc[5]
    b_tiny = _py_bucket("tiny")
    assert d5[b_tiny] == 1.0
    assert d5[QCLF_BUCKETS] == 1.0
    assert d5[QCLF_BUCKETS + 1] == 1.0 / 101.0
    # doc 4: "short junk" -> two cells of tf 0.5 (or one of 1.0 on a
    # hash collision), length 2/102
    d4 = by_doc[4]
    assert d4[QCLF_BUCKETS + 1] == 2.0 / 102.0
    bows = {b: x for b, x in d4.items() if b < QCLF_BUCKETS}
    assert sum(bows.values()) == 1.0  # tf normalizes to 1 per doc
    assert {_py_bucket("short"), _py_bucket("junk")} == set(bows)
    # every doc's TF mass is exactly 1 (counts / n over its own tokens)
    for d, cells in by_doc.items():
        tf = sum(x for b, x in cells.items() if b < QCLF_BUCKETS)
        assert tf == pytest.approx(1.0, abs=1e-12), d


# ---------------------------------------------------------------------------
# training: hand-computed first gradient step + full independent replay
# ---------------------------------------------------------------------------


def test_first_gradient_round_hand_computed(spark):
    """At w = 0 every margin is 0 and every p is exactly 0.5, so the
    first update has the closed form w1_b = -lr/N * round(sum_d cw_d *
    (0.5 - y_d) * x_db, 6) — computed here from RAW token counts with
    plain Python arithmetic (hashlib md5, no engine code) and compared
    exactly (both sides land on the 1e-9 grid)."""
    docs = _tiny_corpus(spark)
    got = {
        r.bucket: r.weight
        for r in classifier.train_quality_classifier(docs, iters=1).collect()
    }
    # teacher labels via the engine's own gate (pinned elsewhere);
    # everything downstream is hand arithmetic
    lab = {
        r.doc_id: (r.is_quality, r.text)
        for r in text.with_quality(docs).select("doc_id", "is_quality", "text").collect()
    }
    toks = {
        d: [w for w in t.lower().split() if w != ""] for d, (_, t) in lab.items()
    }
    toks = {d: ws for d, ws in toks.items() if ws}
    n_all = len(toks)
    n_pos = sum(1 for d in toks if lab[d][0])
    n_neg = n_all - n_pos
    assert 0 < n_pos < n_all  # the tiny corpus must exercise both classes
    exp = {b: 0.0 for b in range(QCLF_BUCKETS + 2)}
    for d, ws in toks.items():
        y = 1.0 if lab[d][0] else 0.0
        cw = n_all / (2.0 * n_pos) if y else n_all / (2.0 * n_neg)
        err = cw * (0.5 - y)
        cells = {QCLF_BUCKETS: 1.0, QCLF_BUCKETS + 1: len(ws) / (len(ws) + 100.0)}
        for w in ws:
            b = _py_bucket(w)
            cells[b] = cells.get(b, 0.0) + 1.0 / len(ws)
        for b, x in cells.items():
            exp[b] += err * x
    expected = {b: round(-QCLF_LR * (round(v, 6) / n_all), 9) for b, v in exp.items()}
    assert set(got) == set(expected)
    for b in expected:
        assert got[b] == pytest.approx(expected[b], abs=2e-9), b


def test_training_matches_independent_numpy_replay(spark):
    """Full K-round replay at fixture scale: features and labels are
    collected ONCE, then the gradient recursion is re-run in numpy
    with the documented update rule; final weights must agree on the
    1e-9 grid."""
    docs = _docs(spark)
    feats = classifier.hashed_features(docs).collect()
    lab = {
        r.doc_id: bool(r.is_quality)
        for r in text.with_quality(docs)
        .filter(F.size(F.split(F.lower("text"), r"\s+")) > 0)
        .select("doc_id", "is_quality")
        .collect()
    }
    ids = sorted({r.doc_id for r in feats})
    didx = {d: i for i, d in enumerate(ids)}
    B = QCLF_BUCKETS + 2
    X = np.zeros((len(ids), B))
    for r in feats:
        X[didx[r.doc_id], r.b] = r.x
    y = np.array([1.0 if lab[d] else 0.0 for d in ids])
    n_all = len(ids)
    n_pos = int(y.sum())
    cw = np.where(y == 1.0, n_all / (2.0 * n_pos), n_all / (2.0 * (n_all - n_pos)))
    w = np.zeros(B)
    for _ in range(QCLF_ITERS):
        m = np.round(X @ w, 9)
        p = np.round(1.0 / (1.0 + np.exp(-m)), 9)
        g = np.round(X.T @ (cw * (p - y)), 6)
        w = np.round(w - QCLF_LR * (g / n_all), 9)
    got = {
        r.bucket: r.weight
        for r in classifier.train_quality_classifier(docs).collect()
    }
    assert len(got) == B
    diff = max(abs(got[b] - w[b]) for b in range(B))
    assert diff <= 2e-9, diff


def test_degenerate_single_class_unweighted_fallback(spark):
    """A one-class corpus must train (cw falls back to 1.0), not
    divide by zero: weights finite, scores defined."""
    short = [(i, "tiny text", "en", "web") for i in range(5)]
    docs = spark.createDataFrame(short, ["doc_id", "text", "lang", "source"])
    wts = classifier.train_quality_classifier(docs, iters=2)
    vals = [r.weight for r in wts.collect()]
    assert len(vals) == QCLF_BUCKETS + 2
    assert all(np.isfinite(v) for v in vals)
    scored = classifier.score_quality(docs, wts).collect()
    assert len(scored) == 5
    assert all(np.isfinite(r.score) for r in scored)


# ---------------------------------------------------------------------------
# eval + gate contracts
# ---------------------------------------------------------------------------


def test_held_out_auc_and_discriminating_gate(spark):
    """The student must actually rank the teacher's classes on docs it
    never trained on (held-out AUC >= 0.95 at fixture scale), and the
    0.5 gate must be DISCRIMINATING (keeps some, drops some) — the
    class-balanced gradient's whole point; unbalanced descent keeps
    everything."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.plans.registry import QUERIES

    auc_row = QUERIES["quality_classifier_auc"](spark, SF_ORACLE).collect()[0]
    assert auc_row.n_pos > 0 and auc_row.n_neg > 0
    assert auc_row.auc >= 0.95
    scores = QUERIES["quality_classifier_scores"](spark, SF_ORACLE)
    agg = scores.agg(
        F.count("*").alias("n"),
        F.sum(F.col("predicted").cast("long")).alias("kept"),
    ).collect()[0]
    assert 0 < agg.kept < agg.n


def test_scores_are_pure_map_over_new_shards(spark):
    """Scoring a SUBSET with frozen weights returns identical scores —
    the apply-per-shard contract (the model is corpus-independent once
    trained)."""
    docs = _docs(spark)
    wts = classifier.train_quality_classifier(docs).persist()
    full = {
        r.doc_id: r.score for r in classifier.score_quality(docs, wts).collect()
    }
    shard = docs.filter(F.col("doc_id") % 7 == 3)
    part = {
        r.doc_id: r.score for r in classifier.score_quality(shard, wts).collect()
    }
    assert part  # the shard is non-empty
    for d, s in part.items():
        assert full[d] == s
    wts.unpersist()


# ---------------------------------------------------------------------------
# curation_pipeline_v4: per-stage drop accounting (verdict item #6)
# ---------------------------------------------------------------------------


def test_curation_pipeline_v4_stage_counts(spark):
    """v4's funnel recomputed stage-by-stage: the trained gate's keep
    set is exactly the score >= 0.5 docs, the tail equals the SHARED
    _curation_stages over that gated corpus (so v4 and v3 can only
    differ through the gate), and the manifest matches a standalone
    pack over the recomputed selection."""
    docs = _docs(spark)
    n0 = docs.count()
    cols = ["doc_id", "text", "lang", "source"]
    wts = classifier.train_quality_classifier(docs)
    keep_ids = {
        r.doc_id
        for r in classifier.score_quality(docs, wts)
        .filter(F.col("predicted"))
        .select("doc_id")
        .collect()
    }
    assert 0 < len(keep_ids) < n0  # the gate binds both ways
    gated = docs.join(
        spark.createDataFrame([(d,) for d in keep_ids], ["doc_id"]), "doc_id"
    ).select(*cols)
    ref = {r.doc_id: r for r in corpus._curation_stages(gated).collect()}
    out = {r.doc_id: r for r in corpus.curation_pipeline_v4(docs).collect()}
    assert set(out) == set(ref)
    for d, r in ref.items():
        o = out[d]
        assert (
            r.n_tokens_bpe,
            r.first_chunk,
            r.last_chunk,
            r.n_chunks,
            r.source,
        ) == (o.n_tokens_bpe, o.first_chunk, o.last_chunk, o.n_chunks, o.source)
    # the selection is a subset of the gated corpus (funnel monotone)
    assert set(out) <= keep_ids


def test_disagreement_profile_reconciles_with_scores(spark):
    """The rollout-review profile must be an exact re-aggregation of
    the scores frame: cell counts reconcile, per-source fractions sum
    to 1, and (at fixture scale, pinned while it holds) the trained
    gate admits NOTHING the teacher rejects — the fpr-0 property the
    balanced training run showed."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.plans.registry import QUERIES

    prof = QUERIES["quality_classifier_disagreement"](spark, SF_ORACLE).collect()
    scores = QUERIES["quality_classifier_scores"](spark, SF_ORACLE)
    docs = _docs(spark).select("doc_id", "source")
    want = {
        (r.source, r.label, r.predicted): r.n
        for r in scores.join(docs, "doc_id")
        .groupBy("source", "label", "predicted")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = {(r.source, r.teacher_keep, r.student_keep): r.n_docs for r in prof}
    assert got == want
    # fractions sum to 1 per source (rounding to 6dp leaves <= 2e-6 slack)
    by_src: dict[str, float] = {}
    for r in prof:
        by_src[r.source] = by_src.get(r.source, 0.0) + r.source_frac
    for s, tot in by_src.items():
        assert tot == pytest.approx(1.0, abs=5e-6), s
    # no (teacher=False, student=True) cell: the student never admits
    # what the rules reject on this corpus
    assert not [k for k in got if not k[1] and k[2]]


def test_v3_and_v4_share_the_stage_tail(spark):
    """Guard on the shared-code claim: feeding v3's heuristic keep set
    through _curation_stages reproduces curation_pipeline_v3 exactly —
    the tail has ONE implementation."""
    docs = _docs(spark)
    cols = ["doc_id", "text", "lang", "source"]
    quality = text.with_quality(docs).filter(F.col("is_quality")).select(*cols)
    ref = {r.doc_id: r for r in corpus._curation_stages(quality).collect()}
    out = {r.doc_id: r for r in corpus.curation_pipeline_v3(docs).collect()}
    assert set(out) == set(ref)
    for d, r in ref.items():
        o = out[d]
        assert (r.n_tokens_bpe, r.n_chunks) == (o.n_tokens_bpe, o.n_chunks)
