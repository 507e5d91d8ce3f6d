"""Deterministic sampling / dataset-split operators for training-data
pipelines (brief §beyond-the-reference).

Random-seed sampling (``df.sample``/``sampleBy``) is partition-order
dependent and irreproducible across engines, so these use CONTENT
HASHING: a row's bucket is a pure function of its key, making splits
(a) stable under re-runs, repartitioning, and engine changes, (b)
disjoint and exhaustive by construction, and (c) exactly replayable in
the DuckDB oracle (md5 is available on both sides).

Scale: pure map operators — no shuffle, no state; the hash is one md5
over a short key string per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BUCKETS = 10_000


def hash_bucket(key: Column, buckets: int = BUCKETS, salt: str = "") -> Column:
    """Stable bucket in [0, buckets): integer value of the first 8 hex
    digits of md5(salt || key) — identical in any engine with md5."""
    h = F.md5(F.concat(F.lit(salt), key.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % buckets


def hash_unit(key: Column, salt: str = "") -> Column:
    """Stable u in (0, 1): the UNQUANTIZED companion of [[hash_bucket]]
    — (first-8-hex of md5(salt || key) + 0.5) / 2^32, i.e. 2^32
    distinct levels instead of ``buckets``. Both the +0.5 shift and the
    division by a power of two are exact in binary doubles, so the
    value is bit-identical in any engine with md5 (ADVICE r10: the
    10,000-level grid left O(n^2/10^4) tie mass on large corpora; at
    2^32 levels tie mass is ~n^2/2^33, negligible below billions of
    keys)."""
    h = F.md5(F.concat(F.lit(salt), key.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") + F.lit(0.5)) / F.lit(
        4294967296.0
    )


def train_val_test_split(
    df: DataFrame,
    key: str,
    weights: tuple[float, float, float] = (0.8, 0.1, 0.1),
    salt: str = "split",
) -> DataFrame:
    """Append a ``split`` column ('train'/'val'/'test') by hash-bucket
    thresholds. Same key => same split, forever — the property that
    keeps eval sets uncontaminated across pipeline re-runs."""
    # round(), not int(): 0.043*10000 is 429.9999... in binary floating
    # point and would truncate a bucket out of its split
    train_end = round(weights[0] * BUCKETS)
    val_end = train_end + round(weights[1] * BUCKETS)
    b = hash_bucket(F.col(key), salt=salt)
    return df.withColumn(
        "split",
        F.when(b < train_end, "train").when(b < val_end, "val").otherwise("test"),
    )


def deterministic_sample(
    df: DataFrame, key: str, fraction: float, salt: str = "sample"
) -> DataFrame:
    """Keep ~fraction of rows by hash threshold: reproducible, engine-
    independent, and consistent (a kept key stays kept when the
    fraction grows)."""
    return df.filter(hash_bucket(F.col(key), salt=salt) < round(fraction * BUCKETS))


def mixture_sample(
    df: DataFrame,
    group_col: str = "source",
    key: str = "doc_id",
    budget_frac: float = 0.5,
    salt: str = "mix",
    keep_columns: bool = False,
) -> DataFrame:
    """Temperature-weighted source mixing (tau = 0.5) — the data-mixing
    step of an LLM pipeline: given a corpus whose sources have wildly
    different sizes, sample a ``budget_frac`` of it with per-source
    rates proportional to ``n_s^tau / n_s`` so small sources are
    up-weighted relative to proportional sampling (the standard
    temperature-mixture rebalance, tau=1 being proportional and tau=0
    uniform-by-source). tau is fixed at 0.5 because sqrt is the one
    power IEEE computes correctly-rounded in every engine — ``pow``
    differs between libm implementations, which would poison the
    cross-engine rate comparison.

    Per-source accept rate: ``min(1, B * w_s / n_s)`` with
    ``w_s = sqrt(n_s) / sum(sqrt(n_g))`` and ``B = budget_frac * N``,
    rounded to 9 decimals so the float is engine-independent BEFORE it
    becomes a hash threshold; rows accept by the same md5 bucket as
    [[deterministic_sample]] — reproducible, consistent (a kept doc
    stays kept when the budget grows), and exactly replayable in SQL.

    Scale shape: one small groupBy on the source key (map-side
    partials), a broadcast single-row total, a broadcast rate join back
    — the corpus itself never shuffles.
    """
    from pyspark.sql import functions as F

    counts = df.groupBy(group_col).agg(F.count("*").alias("_n"))
    tot = counts.agg(
        F.sum("_n").alias("_total"), F.sum(F.sqrt("_n")).alias("_z")
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        group_col,
        F.col("_n").alias("n_source"),
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(budget_frac)
                * F.col("_total")
                * (F.sqrt("_n") / F.col("_z"))
                / F.col("_n"),
            ),
            9,
        ).alias("rate"),
    )
    b = hash_bucket(F.col(key), salt=salt)
    kept = df.join(F.broadcast(rates), group_col).filter(
        b < F.round(F.col("rate") * BUCKETS)
    )
    if keep_columns:
        return kept.select(*df.columns, "n_source", "rate")
    return kept.select(key, group_col, "n_source", "rate")


def dsir_weights(
    documents: DataFrame,
    buckets: int = 256,
    target_lang: str = "en",
    salt: str = "dsir",
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    public arXiv:2302.03169): score every document by how much more
    likely its hashed-unigram features are under the TARGET
    distribution than under the RAW corpus — the standard recipe for
    tilting a 100 TB crawl toward a curated slice without training a
    classifier. Here the target is the corpus's own ``target_lang``
    slice (any predicate works); features are md5-hashed token buckets
    (the [[hash-bucket]] idiom, so the whole estimator replays
    bit-exactly in DuckDB), add-1 smoothed over ``buckets`` cells.

    Emits (doc_id, n_tokens, log_weight, target_like) where
    log_weight = sum over tokens of
    ln p_target(bucket) - ln p_raw(bucket), rounded to 6 decimals
    (partial-sum order drift ~1e-13 sits far under the grid), and
    target_like = rounded log_weight > 0. Importance RESAMPLING is
    then one `deterministic_sample`-style threshold on the weight.

    Scale: ONE tokenize scan. Both bucket counts (raw and target) are
    count windows over the exploded bucket stream — partitionBy(b),
    one keyed exchange, never a corpus re-scan (the bigram_logprob
    plan lesson) — and the 1-row totals frame joins in broadcast (A6
    idiom). The bucket table itself is `buckets` cells whatever the
    corpus size; a production run materializes it once per target and
    broadcast-joins it against each new shard.
    """
    from ..functions.text import words

    toks = documents.select(
        "doc_id", "lang", words(F.col("text")).alias("ws")
    ).filter(F.size("ws") > 0)
    is_tgt = (F.col("lang") == target_lang).cast("long")
    occ = toks.select(
        "doc_id",
        is_tgt.alias("tgt"),
        F.explode("ws").alias("w"),
    ).select("doc_id", "tgt", hash_bucket(F.col("w"), buckets, salt=salt).alias("b"))
    from pyspark.sql.window import Window

    counted = occ.withColumn(
        "n_raw", F.count("*").over(Window.partitionBy("b"))
    ).withColumn("n_tgt", F.sum("tgt").over(Window.partitionBy("b")))
    totals = occ.agg(
        F.count("*").alias("t_raw"),
        F.sum("tgt").alias("t_tgt"),
    )
    j = counted.crossJoin(F.broadcast(totals))
    contrib = F.log(
        (F.col("n_tgt") + 1) / (F.col("t_tgt") + F.lit(buckets))
    ) - F.log((F.col("n_raw") + 1) / (F.col("t_raw") + F.lit(buckets)))
    scored = j.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.sum(contrib), 6).alias("log_weight"),
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "log_weight",
        (F.col("log_weight") > 0).alias("target_like"),
    )


def dsir_sample(
    documents: DataFrame,
    k: int = 200,
    buckets: int = 256,
    target_lang: str = "en",
    salt: str = "dsir",
) -> DataFrame:
    """Importance RESAMPLING — the step that makes [[dsir_weights]]
    the full DSIR recipe (Xie et al. 2023, arXiv:2302.03169): select
    ``k`` documents with probability proportional to their importance
    weight, without replacement, via deterministic GUMBEL TOP-K —
    key_i = log_weight_i + Gumbel(u_i), take the k largest. Gumbel
    top-k sampling without replacement is proportional to
    exp(log_weight) when u is uniform; here u_i is the DETERMINISTIC
    [[hash_unit]] value of doc_id (2^32 quantization levels from the
    md5 hash — ADVICE r10 widened this from hash_bucket's 10,000-level
    grid, whose tie mass bit on corpora past ~10k docs), so the draw
    is a fixed hash-quantized approximation of the Gumbel draw — no
    RNG state anywhere, reproducible in any engine with md5, ties (~
    n^2/2^33 expected) resolving doc_id-ascending. The oracle replays
    the SAME sample bit-for-bit.

    Output: the selected (doc_id, n_tokens, log_weight, gumbel_key),
    ``k`` rows (fewer on a corpus smaller than k). gumbel_key is
    rounded to the repo's 6-decimal grid (libm ln drift ~1e-13 sits
    far under it — the dsir_weights posture).

    Scale: the weights pass (one tokenize scan, bucket windows,
    broadcast totals) dominates; the draw itself is a map-side key
    expression + ``orderBy().limit(k)`` — TakeOrdered, each partition
    keeps its own top-k and only those survivors reach the driver-side
    merge; the corpus is NEVER globally sorted (the vocab_coverage
    plan shape).
    """
    w = dsir_weights(
        documents, buckets=buckets, target_lang=target_lang, salt=salt
    )
    # u in (0, 1) at 2^32 levels from the salted md5 of the doc id;
    # g = -ln(-ln(u)) is standard Gumbel via inverse CDF
    u = hash_unit(F.col("doc_id"), salt="gumbel")
    key = F.round(F.col("log_weight") + -F.log(-F.log(u)), 6)
    return (
        w.withColumn("gumbel_key", key)
        .orderBy(F.desc("gumbel_key"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "n_tokens", "log_weight", "gumbel_key")
    )


def leakage_safe_split(
    documents: DataFrame,
    weights: tuple[float, float, float] = (0.8, 0.1, 0.1),
    salt: str = "split",
    n: int = 3,
    threshold: float = 0.5,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate-aware train/val/test split: every document in a
    near-dup CLUSTER gets the SAME split, so an eval document can never
    have a near-copy in train — the contamination mode a doc_id-keyed
    [[train_val_test_split]] cannot prevent (Lee et al. 2022 measure
    exactly this train/test overlap in C4/RealNews). Clusters are
    connected components ([[dedup.connected_components_star]],
    log-round star) over the MinHash-LSH verified pair graph
    ([[dedup.minhash_lsh_pairs]]); documents in no pair are singletons
    keyed by their own doc_id. The split itself is the same
    md5-threshold bucket rule as every sampler here — deterministic,
    engine-independent, and stable when the corpus grows (a cluster's
    split never changes unless dedup MERGES it with another, which is
    the correct behavior: the merged cluster is one leakage unit).

    Output: (doc_id, cluster_id, split) — one row per input document.

    Scale shape: the pair graph + log-round CC dominate (both measured
    sub-linear on their own driver rows); the labeling is one
    broadcast-or-equi LEFT join and the split a pure map.
    """
    from .dedup import connected_components_star, minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        documents,
        n=n,
        threshold=threshold,
        hash_family=hash_family,
    )
    comp = connected_components_star(pairs)
    labeled = documents.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )
    return train_val_test_split(labeled, key="cluster_id", weights=weights, salt=salt)
