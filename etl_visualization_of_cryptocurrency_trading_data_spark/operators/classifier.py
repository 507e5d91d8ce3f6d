"""Trained quality classifier for LLM-data curation (r11 verdict
item #3) — the CCNet / LLaMA-style learned filter the heuristic
battery ([[text.quality_score]], [[text.gopher_rules]]) feeds:
a hashed-bag-of-words LOGISTIC REGRESSION trained by K full-batch
gradient rounds, every round expressed as keyed DataFrame aggregates
(the [[kmeans_centroids]] / [[graph.pagerank]] iterative discipline:
margins, probabilities, and weights are rounded to a fixed decimal
grid each round, so a SQL oracle replays the whole training run
bit-exactly — no RNG, no init sensitivity, weights start at zero).

Why distillation: production curation trains fastText on
wiki-vs-crawl labels; this sandbox has no external label source, so
the teacher is the repo's own heuristic gate (``with_quality``) and
the student learns to reproduce it from hashed lexical evidence — the
standard distill-a-cheap-filter setup, and an honest eval exists
(held-out split AUC vs the teacher, [[corpus.ranking_auc]]).

Feature map (one tokenize scan, pure map):
  - hashed unigram TF: bucket = md5-hash of the token mod ``buckets``
    (the [[sampling.hash_bucket]] idiom — replayable in any engine
    with md5), value = token_count / n_tokens (exact IEEE division of
    integers, bit-identical everywhere);
  - bias feature at bucket ``buckets`` (x = 1.0);
  - length feature at bucket ``buckets + 1``:
    n_tokens / (n_tokens + 100) — bounded, monotone, and EXACT
    rational arithmetic (no libm call, unlike log-length).

Class imbalance: gradients are BALANCED (per-class weight
N / (2 * n_class), the sklearn ``class_weight='balanced'`` rule) so
the 0.5 threshold is a meaningful keep/drop gate — unbalanced
full-batch descent on a 90/10 corpus never pushes negatives below
0.5 in few rounds (measured: keep-rate 1.0 unbalanced vs 0.88
balanced with fpr 0 at 4 rounds).

Scale shape (the 100 TB contract): the feature frame is built in ONE
tokenize scan and persisted; each gradient round is exactly two keyed
shuffles over it (doc-keyed margin aggregate, bucket-keyed gradient
aggregate) plus a broadcast of the (buckets + 2)-row weight vector —
training cost is K * 2 shuffles regardless of corpus size, and the
model itself is vocabulary-bound (buckets + 2 doubles), so scoring is
a pure map with a broadcast join. Weights are ``localCheckpoint``-ed
per round: each round references the previous weight frame twice
(margin join + update), so an unpinned lineage doubles per round —
the same O(2^rounds) logical-plan blowup
[[dedup.connected_components_star]] documents; values are unchanged
(already rounded before the checkpoint).

The sigmoid is the one transcendental in the loop: margins are
rounded to the grid BEFORE exp() (both engines then call exp on
bit-identical doubles; libm implementations agree to <= 1 ulp, ~1e-16
relative, far under the 1e-9 grid the output is rounded to — the
[[kmeans_centroids]] determinism posture).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import words
from .sampling import hash_bucket

#: feature-map defaults shared by the registered queries and oracles
QCLF_BUCKETS = 64
QCLF_SALT = "qclf"
QCLF_ITERS = 4
QCLF_LR = 4.0
QCLF_LEN_SCALE = 100


def _labeled(documents: DataFrame) -> DataFrame:
    """(doc_id, y): the teacher label (the [[with_quality]] heuristic
    gate) over every document with at least one token — empty
    documents carry no lexical evidence and are excluded from training
    and scoring, exactly like [[sampling.dsir_weights]]."""
    from .text import with_quality

    return (
        with_quality(documents)
        .filter(F.size(words(F.col("text"))) > 0)
        .select("doc_id", F.col("is_quality").alias("y"))
    )


def hashed_features(
    documents: DataFrame,
    buckets: int = QCLF_BUCKETS,
    salt: str = QCLF_SALT,
    len_scale: int = QCLF_LEN_SCALE,
) -> DataFrame:
    """The hashed-BoW feature frame (doc_id, b, x) described in the
    module docstring: ``buckets`` TF cells + bias (b = buckets) +
    length (b = buckets + 1). One tokenize scan, one keyed aggregate
    on (doc_id, bucket); every x is exact IEEE arithmetic."""
    toks = documents.select(
        "doc_id", words(F.col("text")).alias("ws")
    ).filter(F.size("ws") > 0)
    sized = toks.select("doc_id", F.size("ws").alias("n"), "ws")
    bow = (
        sized.select("doc_id", "n", F.explode("ws").alias("w"))
        .select("doc_id", "n", hash_bucket(F.col("w"), buckets, salt=salt).alias("b"))
        .groupBy("doc_id", "n", "b")
        .agg(F.count("*").alias("cnt"))
        .select(
            "doc_id", "b", (F.col("cnt").cast("double") / F.col("n")).alias("x")
        )
    )
    bias = sized.select(
        "doc_id", F.lit(buckets).cast("long").alias("b"), F.lit(1.0).alias("x")
    )
    length = sized.select(
        "doc_id",
        F.lit(buckets + 1).cast("long").alias("b"),
        (
            F.col("n").cast("double") / (F.col("n") + F.lit(len_scale)).cast("double")
        ).alias("x"),
    )
    return bow.unionByName(bias).unionByName(length)


def train_quality_classifier(
    documents: DataFrame,
    buckets: int = QCLF_BUCKETS,
    iters: int = QCLF_ITERS,
    lr: float = QCLF_LR,
    salt: str = QCLF_SALT,
    round_decimals: int = 9,
    features: DataFrame | None = None,
    labels: DataFrame | None = None,
) -> DataFrame:
    """Train the filter: ``iters`` full-batch balanced-logistic
    gradient rounds over [[hashed_features]]. Returns the model as
    (bucket, weight) — buckets + 2 rows, every weight on the
    ``round_decimals`` grid.

    Update rule per round (replayed verbatim by the oracle SQL):
        m_d  = round(sum_b x_db * w_b, 9)
        p_d  = round(1 / (1 + exp(-m_d)), 9)
        e_d  = (p_d - y_d) * cw_d          cw = N/(2*n_pos) | N/(2*n_neg)
        g_b  = round(sum_d e_d * x_db, 6)
        w_b <- round(w_b - lr * g_b / N, 9)
    g_b is the one CORPUS-sized float sum in the loop, so it gets its
    own rounding at a coarser 1e-6 grid: per-doc margins sum ~66 terms
    (order drift ~1e-14, far under their 1e-9 grid), but g_b's
    summation-order drift grows ~N*eps and would reach the 1e-9 grid
    near N~1e7 docs — rounding the sum at 1e-6 keeps the cross-engine
    replay bit-exact to N~1e10 (drift ~1e-7 << the half-cell 5e-7),
    and costs nothing: the subsequent /N and lr multiply are exact on
    identical bits. Degenerate corpora (one class absent) fall back to
    cw = 1.0 — unweighted descent — instead of dividing by zero.

    ``features`` / ``labels`` (OPTIMIZATION_r15, guide §5 cache-reuse):
    a caller that ALSO scores the same corpus (the curation pipelines,
    the scores/auc/disagreement chain) can build [[hashed_features]] /
    [[_labeled]] ONCE, persist them, and inject them here — training
    then reads the shared cache instead of re-running the tokenize +
    explode + bucket-aggregate scan it would otherwise own. Injected
    frames must be exactly the (doc_id, b, x) / (doc_id, y) frames the
    defaults build (both are pure per-doc maps, so a filtered slice of
    a full-corpus frame is valid for subset training); their cache
    lifetime belongs to the CALLER — this function persists/unpersists
    only the frames it builds itself. Arithmetic is unchanged either
    way."""
    spark = documents.sparkSession
    if iters < 1:
        raise ValueError("iters must be >= 1")
    own_lab = labels is None
    own_feats = features is None
    lab = _labeled(documents).persist() if own_lab else labels
    feats = (
        hashed_features(documents, buckets=buckets, salt=salt).persist()
        if own_feats
        else features
    )
    # balanced class weights from ONE broadcast single-row total (A6
    # idiom); exact integer divisions, bit-identical across engines
    tot = lab.agg(
        F.count("*").alias("n_all"),
        F.sum(F.col("y").cast("long")).alias("n_pos"),
    )
    weighted = lab.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        F.col("y").cast("double").alias("y"),
        F.when(
            (F.col("n_pos") == 0) | (F.col("n_pos") == F.col("n_all")), F.lit(1.0)
        )
        .when(
            F.col("y"),
            F.col("n_all").cast("double") / (2.0 * F.col("n_pos")),
        )
        .otherwise(
            F.col("n_all").cast("double")
            / (2.0 * (F.col("n_all") - F.col("n_pos"))),
        )
        .alias("cw"),
        F.col("n_all"),
    )
    w = spark.range(buckets + 2).select(
        F.col("id").alias("b"), F.lit(0.0).alias("w")
    )
    # NOT loop-pinned (OPTIMIZATION_r14, measured and rejected): unlike
    # the star-CC loop, the gradient rounds join the CORPUS-sized
    # feature frame against the per-doc error frame every round, and
    # AQE's runtime broadcast conversion of the error side is what
    # keeps the cached feature frame unshuffled — an ABAB at sf0.1
    # read v4 median 21.6 s with AQE on vs 41.5 s with the loop pinned
    # (the static planner sort-merged 3.3M feature rows per round).
    # AQE earns its per-stage overhead here; the pin helper stays for
    # loops whose frames are uniformly small (CC, BPE).
    w = _gradient_rounds(w, feats, weighted, iters, lr, round_decimals)
    # training ran EAGERLY (every round checkpointed above), so the
    # cached label/feature frames are dead the moment the loop ends —
    # release them here or a session registering all five classifier
    # queries accumulates 2 corpus-sized cache entries per call
    # (code-review r12). Injected frames are the caller's cache, not
    # ours to drop (the whole point of injecting is reuse after
    # training).
    if own_lab:
        lab.unpersist()
    if own_feats:
        feats.unpersist()
    return w.select(F.col("b").alias("bucket"), F.col("w").alias("weight"))


def _gradient_rounds(
    w: DataFrame,
    feats: DataFrame,
    weighted: DataFrame,
    iters: int,
    lr: float,
    round_decimals: int,
) -> DataFrame:
    """The K full-batch gradient rounds of
    [[train_quality_classifier]], factored out so the caller can pin
    loop-scoped session confs around them. Arithmetic unchanged."""
    for _ in range(iters):
        margins = (
            feats.join(F.broadcast(w), "b")
            .groupBy("doc_id")
            .agg(F.round(F.sum(F.col("x") * F.col("w")), round_decimals).alias("m"))
        )
        err = margins.join(weighted, "doc_id").select(
            "doc_id",
            (
                (
                    F.round(
                        F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("m"))),
                        round_decimals,
                    )
                    - F.col("y")
                )
                * F.col("cw")
            ).alias("e"),
            "n_all",
        )
        grad = (
            feats.join(err, "doc_id")
            .groupBy("b")
            .agg(
                F.round(F.sum(F.col("x") * F.col("e")), 6).alias("g"),
                F.max("n_all").alias("n_all"),
            )
        )
        # the previous weight frame is referenced twice (margin join
        # above + this update) -> checkpoint the 66-row result per
        # round or the logical plan doubles per round (see module doc)
        w = (
            w.join(grad, "b", "left")
            .select(
                "b",
                F.round(
                    F.col("w")
                    - F.lit(lr)
                    * F.coalesce(F.col("g") / F.col("n_all"), F.lit(0.0)),
                    round_decimals,
                ).alias("w"),
            )
            .localCheckpoint(eager=True)
        )
    return w


def score_quality(
    documents: DataFrame,
    weights: DataFrame,
    buckets: int = QCLF_BUCKETS,
    salt: str = QCLF_SALT,
    round_decimals: int = 9,
    features: DataFrame | None = None,
) -> DataFrame:
    """Score documents with a trained model: (doc_id, score,
    predicted). Pure map + one broadcast join of the
    (buckets + 2)-row model + one doc-keyed aggregate — the shape that
    lets the trained filter run over each new 100 TB crawl shard
    without touching the training corpus.

    ``features``: inject a pre-built (persisted) [[hashed_features]]
    frame to skip the tokenize scan — the train-then-score reuse
    described on [[train_quality_classifier]]. Must be the exact
    feature frame of ``documents``; cache lifetime is the caller's."""
    feats = (
        hashed_features(documents, buckets=buckets, salt=salt)
        if features is None
        else features
    )
    w = weights.select(F.col("bucket").alias("b"), F.col("weight").alias("w"))
    margins = (
        feats.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("x") * F.col("w")), round_decimals).alias("m"))
    )
    return margins.select(
        "doc_id",
        F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("m"))), round_decimals
        ).alias("score"),
    ).withColumn("predicted", F.col("score") >= 0.5)
