"""Similarity search over an embedding column (``embeddings`` table:
vec_id, embedding array<float>, label).

- ``knn_brute``: exact cosine top-k of every probe vector against the
  corpus — the correctness baseline. The probe set is broadcast (it is
  small by construction); the corpus streams through a single map stage
  (no shuffle of the corpus), then top-k per probe is a window over
  |probes| * k candidate rows. Dot products are built-in higher-order
  functions (zip_with + aggregate) — JVM-side, no Python.

- ``knn_lsh``: random-hyperplane LSH variant — the 100 TB scale path.
  Signature = sign bits of projections onto H fixed hyperplanes; only
  same-bucket (probe, corpus) pairs are scored. Buckets shrink the
  candidate set ~2^H-fold at the cost of recall; hyperplanes are
  deterministic (seeded) so results are reproducible and
  oracle-checkable with the same literals embedded in SQL.

Determinism: ties broken by (cosine desc, vec_id asc) everywhere.
"""

from __future__ import annotations

import operator
from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

LSH_SEED = 42
# 2^4 = 16 buckets: sized so a bucket keeps enough candidates for top-k
# quality at fixture scale; at production corpus sizes raise this so
# bucket cardinality ~ a few thousand (candidates per probe stay flat).
LSH_PLANES = 4
DIM = 64


def hyperplanes(n_planes: int = LSH_PLANES, dim: int = DIM, seed: int = LSH_SEED) -> list[list[float]]:
    """Deterministic random hyperplanes (shared with the oracle SQL)."""
    rng = np.random.default_rng(seed)
    return [[round(float(v), 6) for v in row] for row in rng.normal(0.0, 1.0, (n_planes, dim))]


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _idot(a: Column, b: Column) -> Column:
    """Integer dot product (long accumulator — exact, no float drift);
    the int8-code counterpart of _dot."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def digest_i6(arr: Column) -> Column:
    """Engine-independent content digest of a double array: each value
    is scaled to an integer via ``floor(x * 1e6 + 0.5)`` (pure IEEE
    ops, bit-identical in any engine — unlike printing doubles, whose
    formatting differs), joined with commas, md5'd. The registered
    queries use this to hash array outputs that the driver's
    canonicalizer cannot sort on directly."""
    return F.md5(
        F.concat_ws(
            ",",
            F.transform(
                arr, lambda x: F.floor(x * 1e6 + F.lit(0.5)).cast("long").cast("string")
            ),
        )
    )


def normalize_embeddings(embeddings: DataFrame) -> DataFrame:
    """L2-normalize the embedding column: unit vectors make cosine a
    plain dot product, which at scale lets every downstream scorer
    (brute, LSH, IVF) skip the per-row norm. Zero vectors normalize to
    NULL (no direction), surfaced rather than silently kept.

    Emits (vec_id, emb, l2_norm): ``emb`` is array<double> for
    composition; the registered query projects it through
    [[digest_i6]] for the oracle. Map-only — no shuffle; the norm is
    materialized in its own projection so the per-element division
    does not re-run the aggregate per element (interpreted HOFs get
    no common-subexpression elimination)."""
    base = embeddings.select("vec_id", _as_double("embedding").alias("raw"))
    with_norm = base.withColumn("l2_norm", _norm(F.col("raw")))
    return with_norm.select(
        "vec_id",
        F.when(
            F.col("l2_norm") > 0,
            F.transform("raw", lambda x: x / F.col("l2_norm")),
        ).alias("emb"),
        "l2_norm",
    )


def quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = 127 / max|x|,
    q_i = floor(x_i * scale + 0.5) — the standard 4x storage/bandwidth
    shrink before ANN serving (dot products on int8 with one
    dequantize multiply at the end). floor(x + 0.5) instead of
    round(): both engines' round() diverge on banker's-rounding edge
    cases, floor is pinned IEEE everywhere.

    Emits (vec_id, scale, q) with q int array; all-zero vectors get
    NULL scale/q. Map-only, no shuffle."""
    base = embeddings.select("vec_id", _as_double("embedding").alias("raw"))
    with_max = base.withColumn(
        "_m", F.array_max(F.transform("raw", lambda x: F.abs(x)))
    )
    scale = F.lit(127.0) / F.col("_m")
    return with_max.select(
        "vec_id",
        F.when(F.col("_m") > 0, scale).alias("scale"),
        F.when(
            F.col("_m") > 0,
            F.transform(
                "raw", lambda x: F.floor(x * scale + F.lit(0.5)).cast("int")
            ),
        ).alias("q"),
    )


def kmeans_centroids(
    embeddings: DataFrame,
    iters: int = 2,
    centroid_modulus: int = 101,
    round_decimals: int = 9,
    centroid_limit: int | None = None,
) -> DataFrame:
    """Lloyd's k-means over the embedding column — the trainer for the
    IVF coarse index ([[knn_ivf]] currently uses the deterministic
    sample this starts from; feeding it refined centroids cuts list
    imbalance). Returns (cent_id, n_members, cent) after ``iters``
    assign/update rounds; empty clusters drop out (standard Lloyd).

    Determinism across engines and runs is pinned in two places:
    distances and centroid dimensions are rounded to
    ``round_decimals`` — Spark's partial-sum order and an oracle's
    summation order both drift ~1e-12 relative, far under the 1e-9
    grid — and argmin ties break by cent_id.

    Scale: each round is one corpus scan — assignment is a crossJoin
    against the BROADCAST centroid set (k * dim doubles; k is
    inverted-list count, thousands at most) + an argmin window keyed
    by vec_id, and the update re-keys by (cent_id, dim) with map-side
    partial avg, so the hot shuffle is k * dim rows. The composition
    is fully lazy — with fixed small ``iters`` the plan is a linear
    chain (each round's subtree consumed exactly once, no
    re-evaluation blow-up); for tens of rounds checkpoint each round
    like [[dedup.connected_components_star]] does.

    ``centroid_limit=K`` replaces the modulus seed rule with a
    FIXED-SIZE one (``vec_id < K``) — same dial as [[knn_ivf]]'s:
    the modulus rule makes K = N/modulus, so per-round assignment is
    N*K = N^2/modulus (measured 53x at 10x data, NOTES_r05 §3); with
    K a capacity constant, training is linear in N per round.
    Registered as ``kmeans_centroids_fixed``.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1 (n_members comes from the last update)")
    base = embeddings.select("vec_id", _as_double("embedding").alias("emb"))
    seed_rule = (
        F.col("vec_id") < centroid_limit
        if centroid_limit is not None
        else F.col("vec_id") % centroid_modulus == 1
    )
    centroids = base.filter(seed_rule).select(
        F.col("vec_id").alias("cent_id"), F.col("emb").alias("cent")
    )
    for _ in range(iters):
        dist = F.round(
            F.aggregate(
                F.zip_with(F.col("emb"), F.col("cent"), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            round_decimals,
        )
        scored = base.crossJoin(F.broadcast(centroids)).select(
            "vec_id", "emb", "cent_id", dist.alias("dist")
        )
        w = Window.partitionBy("vec_id").orderBy(F.asc("dist"), F.asc("cent_id"))
        assign = (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("vec_id", "emb", "cent_id")
        )
        upd = (
            assign.select("cent_id", F.posexplode("emb").alias("pos", "v"))
            .groupBy("cent_id", "pos")
            .agg(F.avg("v").alias("v"), F.count("*").alias("n"))
        )
        centroids = upd.groupBy("cent_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "v"))),
                lambda s: F.round(s["v"], round_decimals),
            ).alias("cent"),
            F.max("n").alias("n_members"),
        )
    return centroids.select("cent_id", "n_members", "cent")


def knn_quantized(
    embeddings: DataFrame,
    probe_filter: Column | None = None,
    k: int = 5,
) -> DataFrame:
    """Top-k cosine search over INT8-QUANTIZED codes
    ([[quantize_embeddings]]) — the memory-bandwidth shape of a
    production ANN serving tier: 4x smaller vectors, integer dot
    products, one float division at the end. Quantized cosine
    approximates the float cosine (symmetric per-vector scales cancel
    in the cosine ratio up to rounding error); recall vs the exact
    search is pinned in pytest.

    Cross-engine determinism needs NO rounding pin here: the dot and
    norms are exact integer arithmetic, and the final cosine is one
    division of bit-identical doubles — every engine agrees.

    Scale: corpus quantizes in the same map stage that scores it (no
    materialized index needed, though persisting the codes is the
    production layout); probes broadcast; merge input is |probes| * k
    per partition via the rank window, same as [[knn_brute]].
    """
    if probe_filter is None:
        probe_filter = F.col("vec_id") % 50 == 0
    codes = quantize_embeddings(embeddings).filter(F.col("q").isNotNull())
    # norms computed ONCE per vector (before the pair join fans rows
    # out |probes|-fold), carried as columns through the join
    sized = codes.select("vec_id", "q", _idot(F.col("q"), F.col("q")).alias("_n"))
    probes = sized.filter(probe_filter).select(
        F.col("vec_id").alias("probe_id"),
        F.col("q").alias("q_p"),
        F.col("_n").alias("_np"),
    )
    scored = sized.join(
        F.broadcast(probes), F.col("vec_id") != F.col("probe_id")
    ).select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            _idot(F.col("q"), F.col("q_p"))
            / (F.sqrt(F.col("_n").cast("double")) * F.sqrt(F.col("_np").cast("double")))
        ).alias("cosine_q8"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine_q8"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine_q8", "rank")
    )


def knn_brute(
    embeddings: DataFrame,
    probe_filter: Column | None = None,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: (probe_id, neighbor_id, cosine, rank).

    probe_filter defaults to ``vec_id % 50 == 0`` (a deterministic ~2%
    probe sample). Self-matches excluded.
    """
    if probe_filter is None:
        probe_filter = F.col("vec_id") % 50 == 0
    base = embeddings.select("vec_id", _as_double("embedding").alias("emb"))
    probes = base.filter(probe_filter).select(
        F.col("vec_id").alias("probe_id"), F.col("emb").alias("probe_emb")
    )
    scored = (
        base.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("probe_emb"), F.col("emb")).alias("cosine"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine", "rank")
    )


def lsh_bucket(emb: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id of a vector under the hyperplane family."""
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        proj = _dot(emb, F.array(*[F.lit(v) for v in plane]))
        bucket = bucket + F.when(proj > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def knn_brute_vectorized(
    embeddings: DataFrame,
    probe_filter: Column | None = None,
    k: int = 5,
    probes: "object | None" = None,
    round_decimals: int | None = None,
) -> DataFrame:
    """Vectorized twin of ``knn_brute``: the probe matrix is broadcast
    once (probes are small by construction — the same bound the LSH/IVF
    variants rely on) and each Arrow batch of corpus vectors scores
    against ALL probes with one numpy matmul, emitting only its local
    top-k per probe; a final window merges the per-batch candidates.

    This is the 100 TB shape for dense math: corpus streams through a
    map stage (no corpus shuffle), compute is BLAS inside Arrow
    batches, and the merge input is |batches| * |probes| * k rows, not
    |corpus| * |probes|. Results equal ``knn_brute`` up to float
    summation order (~1e-15), which can flip exact ties in rank;
    ``round_decimals`` pins the emitted cosine (and the rank order) to
    a fixed precision so the result is reproducible across summation
    orders — candidates are pruned and ranked on the ROUNDED value with
    the (cosine desc, vec_id asc) tiebreak.

    EAGER BUILD WARNING: unless ``probes`` is supplied, calling this
    function runs a Spark job to collect the probe set (an
    index-construction step, like IVF centroid training) — unlike the
    pure-declarative variants, building the plan touches the cluster.
    Pass ``probes`` (a pandas DataFrame with ``vec_id``/``emb`` columns,
    e.g. a previously collected probe table) to keep plan construction
    lazy and reuse one probe matrix across calls.

    Zero-norm corpus vectors are EXCLUDED (their cosine is undefined —
    the HOF path's 0/0 divide yields NULL in non-ANSI mode, which desc
    ordering sorts last, so both variants agree on the exclusion).
    """
    import numpy as np
    from collections.abc import Iterator

    import pandas as pd

    if probe_filter is None:
        probe_filter = F.col("vec_id") % 50 == 0
    base = embeddings.select("vec_id", _as_double("embedding").alias("emb"))
    probes_pd = probes if probes is not None else base.filter(probe_filter).toPandas()
    schema = "probe_id long, neighbor_id long, cosine double"
    spark = embeddings.sparkSession
    if probes_pd.empty:
        return spark.createDataFrame([], schema + ", rank int")
    probe_ids = probes_pd["vec_id"].to_numpy()
    pmat = np.stack(probes_pd["emb"].to_numpy())
    pnorm = np.linalg.norm(pmat, axis=1)
    bc = spark.sparkContext.broadcast((probe_ids, pmat, pnorm))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pids, pm, pn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf["emb"].to_numpy())
            ids = pdf["vec_id"].to_numpy()
            norms = np.linalg.norm(mat, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = (mat @ pm.T) / (norms[:, None] * pn[None, :])
            if round_decimals is not None:
                sims = np.round(sims, round_decimals)
            for j, pid in enumerate(pids):
                col = sims[:, j]
                # exclude self-matches and undefined (zero-norm) cosines
                cand_idx = np.nonzero((ids != pid) & np.isfinite(col))[0]
                if not len(cand_idx):
                    continue
                # pinned tiebreak (cosine desc, vec_id asc) must hold in
                # the LOCAL prune too, or a tied lower-id neighbor could
                # be dropped before the global merge sees it
                order = np.lexsort((ids[cand_idx], -col[cand_idx]))[:k]
                top = cand_idx[order]
                yield pd.DataFrame(
                    {"probe_id": pid, "neighbor_id": ids[top], "cosine": col[top]}
                )

    candidates = base.mapInPandas(score, schema)
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine", "rank")
    )


def embedding_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.5,
    n_planes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the dedup modality for
    embedded corpora): banded sign-bit LSH generates candidates — two
    vectors are candidates iff some band of ``n_planes/bands`` sign
    bits matches exactly — then exact cosine verifies each candidate
    against ``threshold``.

    Scale shape mirrors MinHash-LSH dedup: band-bucket equi-join (one
    shuffle on 8-byte band keys), candidates only pay the exact-cosine
    cost, pair explosion bounded by bucket sizes. The hyperplanes are
    deterministic literals, so the DuckDB oracle reproduces the same
    candidate set bit-for-bit (exact parity, not rows-only).

    The banded sign-bit table is not cached: the self-join sides are
    identical subtrees, ReuseExchange already computes them once, and
    forcing the cache measured as a net loss (3.2 s -> 4.3 s at sf0.1).
    """
    planes = hyperplanes(n_planes)
    r = n_planes // bands
    base = embeddings.select("vec_id", _as_double("embedding").alias("emb"))
    bits = base.select(
        "vec_id",
        "emb",
        *[
            F.when(_dot(F.col("emb"), F.array(*[F.lit(v) for v in plane])) > 0, 1)
            .otherwise(0)
            .alias(f"bit{i}")
            for i, plane in enumerate(planes)
        ],
    )
    banded = bits.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        sum(
                            F.col(f"bit{b * r + j}") * (1 << j) for j in range(r)
                        ).alias("val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("vec_id", "bb.band", "bb.val")
    a, b_ = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
    )
    emb = base
    return (
        cand.join(emb.withColumnsRenamed({"vec_id": "id_a", "emb": "emb_a"}), "id_a")
        .join(emb.withColumnsRenamed({"vec_id": "id_b", "emb": "emb_b"}), "id_b")
        .select(
            "id_a", "id_b", cosine(F.col("emb_a"), F.col("emb_b")).alias("cosine")
        )
        .filter(F.col("cosine") >= threshold)
    )


def knn_ivf(
    embeddings: DataFrame,
    probe_filter: Column | None = None,
    k: int = 5,
    n_probe: int = 2,
    centroid_modulus: int = 101,
    centroids: DataFrame | None = None,
    centroid_limit: int | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: the second scale path next to LSH.

    Coarse index: a deterministic ~1% sample of the corpus serves as
    centroids (``vec_id % centroid_modulus == 1``); every vector joins
    its nearest centroid's inverted list. A probe scans only the
    ``n_probe`` nearest lists. Fully declarative (crossJoin against
    the broadcast centroid set + argmax window), so at scale the list
    id becomes a partition key and each probe touches n_probe/C of the
    corpus; the oracle replays the identical assignment in SQL.

    Pass ``centroids`` (the (cent_id, cent) output of
    [[kmeans_centroids]], extra columns ignored) to search against a
    TRAINED coarse index instead of the sample — refined centroids
    balance the inverted lists, which at scale evens out per-probe
    cost. Assignment here ranks by cosine; k-means trains by
    euclidean — for unit-norm embeddings (see
    [[normalize_embeddings]]) the two orders coincide.

    ``centroid_limit=C`` replaces the modulus rule with a FIXED-SIZE
    coarse index (``vec_id < C``): C stays constant as the corpus
    grows, so assignment cost is N*C (linear in N) and each probe scans
    ~n_probe/C of the corpus — the scale-honest registration next to
    the fixture-sized modulus default, whose C = N/modulus makes
    assignment quadratic (measured 75x at 10x data, NOTES_r05 §3).
    Registered as ``knn_ivf_fixed``.

    With ``centroids`` passed, the ranked assignment (the inverted-list
    table) is cached: the inverted lists and the probe lists both
    consume it, and the training subtree those centroids carry would
    otherwise re-run the corpus-wide centroid scoring per consumer
    (measured 3.8 s -> 2.5 s warm at sf0.1 for the Lloyd-trained index).
    This is exactly the table a deployed IVF index materializes to
    storage. The cheap sample-centroid default is not cached: its
    identical subtrees already hit ReuseExchange.
    """
    if probe_filter is None:
        probe_filter = F.col("vec_id") % 50 == 0
    base = embeddings.select("vec_id", _as_double("embedding").alias("emb"))
    trained = centroids is not None
    if not trained:
        cent_rule = (
            F.col("vec_id") < centroid_limit
            if centroid_limit is not None
            else F.col("vec_id") % centroid_modulus == 1
        )
        centroids = base.filter(cent_rule).select(
            F.col("vec_id").alias("cent_id"), F.col("emb").alias("cent_emb")
        )
    else:
        centroids = centroids.select("cent_id", F.col("cent").alias("cent_emb"))
    scored = base.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "emb",
        "cent_id",
        cosine(F.col("emb"), F.col("cent_emb")).alias("cent_cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cent_cos"), F.asc("cent_id"))
    ranked = scored.withColumn("crank", F.row_number().over(w))
    if trained:
        ranked = ranked.persist()
    lists = ranked.filter(F.col("crank") == 1).select("vec_id", "emb", "cent_id")
    probe_lists = (
        ranked.filter(probe_filter)
        .filter(F.col("crank") <= n_probe)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("emb").alias("probe_emb"),
            "cent_id",
        )
    )
    cand = (
        lists.join(F.broadcast(probe_lists), "cent_id")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("probe_emb"), F.col("emb")).alias("cosine"),
        )
    )  # each vector lives in exactly one list => pairs already unique
    wk = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine", "rank")
    )


def knn_lsh(
    embeddings: DataFrame,
    probe_filter: Column | None = None,
    k: int = 5,
    n_planes: int = LSH_PLANES,
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate cosine top-k: candidates restricted to the probe's
    LSH bucket, then exact cosine + top-k within candidates. At scale
    the bucket column is a partition/cluster key, so a probe touches
    1/2^H of the corpus.

    ``multiprobe=True`` additionally searches every bucket at Hamming
    distance 1 from the probe's (flip each of the H sign bits) — the
    standard recall/cost dial for sign-bit LSH: candidates grow to
    (H+1)/2^H of the corpus and recall roughly triples on the fixtures
    (0.14 -> 0.42 at sf0.01, 0.16 -> 0.46 at sf0.001; pinned by the
    ``knn_recall`` contract).
    Still one declarative equi-join on the bucket key — the probe side
    just explodes to H+1 bucket rows first."""
    if probe_filter is None:
        probe_filter = F.col("vec_id") % 50 == 0
    planes = hyperplanes(n_planes)
    base = embeddings.select(
        "vec_id",
        _as_double("embedding").alias("emb"),
    ).withColumn("bucket", lsh_bucket(F.col("emb"), planes))
    probes = base.filter(probe_filter).select(
        F.col("vec_id").alias("probe_id"),
        F.col("emb").alias("probe_emb"),
        F.col("bucket").alias("probe_bucket"),
    )
    if multiprobe:
        cand_buckets = F.array(
            F.col("probe_bucket"),
            *[
                F.col("probe_bucket").bitwiseXOR(F.lit(1 << i))
                for i in range(n_planes)
            ],
        )
        probes = probes.select(
            "probe_id",
            "probe_emb",
            F.explode(cand_buckets).alias("probe_bucket"),
        )
    scored = (
        base.join(F.broadcast(probes), F.col("bucket") == F.col("probe_bucket"))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("probe_emb"), F.col("emb")).alias("cosine"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine", "rank")
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_clusters: int = 32,
    centroids: DataFrame | None = None,
    max_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding corpus onto a FIXED-SIZE
    coarse index, then find cosine near-duplicates ONLY within each
    cluster and drop every vector that duplicates a smaller-id vector
    of its own cluster. Returns the DROPPED rows as
    (vec_id, cluster_id, dup_of, cosine) where ``dup_of`` is the
    smallest-id within-cluster duplicate and ``cosine`` that pair's
    exact similarity — survivors are the complement, derivable with
    one anti join.

    Clustering here is assignment-only onto deterministic seed
    centroids (``vec_id < n_clusters``, the [[knn_ivf]]
    ``centroid_limit`` rule) so the DuckDB oracle replays it exactly;
    pass ``centroids`` ((cent_id, cent) from [[kmeans_centroids]]) to
    dedup against a TRAINED index instead — refined centroids balance
    cluster sizes, which at corpus scale evens the per-cluster pair
    cost.

    Scale shape — the reason SemDeDup exists: the pair join is keyed
    on cluster id, so pair candidates are sum_c(|c| choose 2), not
    (N choose 2). Measured sf0.1 -> sf1 (10x data, registered C=32):
    2.8 s -> 27.5 s, 9.8x — linear, because the N*C assignment term
    dominates at fixture scale. The two terms trade against each
    other: scaling C 10x at sf1 (pair space held ~constant per
    cluster) measured 92 s — assignment cost N*C swamped the pair
    savings, so C stays a CAPACITY choice tuned to where the pair
    term actually overtakes assignment (|c|^2 ~ C*dim), not blindly
    proportional to N; at web scale that is exactly the trained-
    centroid route (pass [[kmeans_centroids]] output, balance the
    lists). The honest cost: near-duplicates that straddle a cluster
    boundary are MISSED by design (pinned in tests) — SemDeDup trades
    that recall for the bounded pair space. Cross-engine determinism:
    assignment tiebreak is (cosine desc, cent_id asc); the drop rule
    compares exact IEEE cosines against the threshold, bit-identical
    in Spark and DuckDB because both evaluate the same left-to-right
    dot-product fold.
    """
    base = embeddings.select("vec_id", _as_double("embedding").alias("emb")).filter(
        # zero-norm guard (ADVICE r6): cosine is undefined for a zero
        # vector — Spark yields NULL (sorts last under desc) while
        # DuckDB's double division yields inf/NaN with a different
        # sort placement, so an unguarded zero vector would silently
        # diverge the two engines' cluster assignment. Dropping them
        # up front (mirroring normalize_embeddings' l2>0 rule) keeps
        # both engines on defined arithmetic; the oracle applies the
        # identical predicate.
        _norm(F.col("emb")) > 0
    )
    if centroids is None:
        centroids = base.filter(F.col("vec_id") < n_clusters).select(
            F.col("vec_id").alias("cent_id"), F.col("emb").alias("cent_emb")
        )
    else:
        centroids = centroids.select("cent_id", F.col("cent").alias("cent_emb"))
    scored = base.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "emb",
        "cent_id",
        cosine(F.col("emb"), F.col("cent_emb")).alias("cent_cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cent_cos"), F.asc("cent_id"))
    assigned = (
        scored.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") == 1)
        .select("vec_id", "emb", "cent_id")
        # persist: BOTH sides of the within-cluster pair self-join read
        # this frame, and ReuseExchange does not fire across the alias
        # boundary (measured: 0 ReusedExchange; the whole assignment
        # subtree — including the 2-Lloyd-round k-means chain on the
        # trained route — executed twice). One (vec_id, emb, cent_id)
        # row per corpus vector. Measured at sf0.1 with the cache
        # cleared per run: semantic_dedup 3.4 -> 1.6 s, trained form
        # 4.3 -> 3.3 s; hash-identical output. Deliberately NOT
        # unpersisted: the builder returns a lazy frame (no action runs
        # here, so there is no "after the consuming action" inside this
        # function); like the banded/posting persists, the MEMORY_AND_DISK
        # blocks are left to Spark's LRU eviction.
        # (OPTIMIZATION_r14: an eager localCheckpoint here was tried and
        # reverted — no reproducible win over the persist, unlike the
        # PQ codebook boundary where the checkpointed frame is tiny.)
        .persist()
    )
    if max_cluster is not None:
        # Per-cluster member cap (r8, measured motivation): at sf10 the
        # TRAINED C=320 route still serialized on ONE straggler task —
        # this fixture's embedding distribution has a dominant mode, so
        # "refined centroids balance the lists" fails exactly where it
        # matters and |c_max|^2 owns the wall clock. The production
        # posture is the repo's established guard family (ngram max_df,
        # coin_pagerank_capped top-K, corpus.host_cap): clusters larger
        # than the cap participate via their top-max_cluster members by
        # deterministic md5 priority — WindowGroupLimit keeps cap+1
        # rows per map task, the priority is cap-independent (raising
        # the cap is a superset), and the documented tradeoff is the
        # same recall trade SemDeDup already makes at the cluster
        # boundary: pairs among the dropped tail are not examined.
        cw = Window.partitionBy("cent_id").orderBy(
            F.md5(F.col("vec_id").cast("string")), F.asc("vec_id")
        )
        assigned = (
            assigned.withColumn("_crk", F.row_number().over(cw))
            .filter(F.col("_crk") <= max_cluster)
            .drop("_crk")
        )
    a, b = assigned.alias("a"), assigned.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cent_id") == F.col("b.cent_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.cent_id").alias("cluster_id"),
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cosine(F.col("a.emb"), F.col("b.emb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    wd = Window.partitionBy("id_b").orderBy(F.asc("id_a"))
    return (
        pairs.withColumn("_rn", F.row_number().over(wd))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("id_b").alias("vec_id"),
            "cluster_id",
            F.col("id_a").alias("dup_of"),
            "cosine",
        )
    )


def knn_recall(
    embeddings: DataFrame,
    k: int = 5,
    floors: tuple[tuple[str, float], ...] = (
        ("lsh", 0.10),
        ("lsh_mp", 0.30),
        ("ivf", 0.40),
    ),
    round_decimals: int = 6,
) -> DataFrame:
    """ANN quality contract: recall@k of each approximate index
    ([[knn_lsh]], [[knn_ivf]]) against the exact [[knn_brute]] ground
    truth, evaluated INSIDE the plan so approximate-search *quality* —
    not just determinism — is oracle-hash-verified (mirrors the
    accuracy-contract pattern of ``exchange_cardinality_approx``).

    Output: one row per method — (method, n_truth, n_hits, recall_at_k,
    meets_floor). ``meets_floor`` pins the floor each index must clear
    on the fixtures (measured at sf0.001/sf0.01: 0.14-0.16 single-probe
    LSH, 0.42-0.46 multiprobe LSH, 0.52-0.58 IVF; floors sit under each
    with margin). A quality regression in any index family flips the
    boolean and fails the driver's hash compare.

    Scale shape: the truth/approx joins are on (probe_id, neighbor_id)
    — probe-bounded (|probes|*k rows each side), negligible next to the
    searches themselves. The brute subtree feeding both method branches
    is deduplicated by ReuseExchange (persist measured as a net loss on
    identical subtrees in this repo). Division is zero-guarded: on an
    empty corpus both engines emit NULL recall, FALSE floor.
    """
    searches = {
        "lsh": lambda e: knn_lsh(e, k=k),
        "lsh_mp": lambda e: knn_lsh(e, k=k, multiprobe=True),
        "ivf": lambda e: knn_ivf(e, k=k),
    }
    truth = knn_brute(embeddings, k=k).select("probe_id", "neighbor_id")
    per_method = []
    for method, floor in floors:
        approx = searches[method](embeddings).select("probe_id", "neighbor_id")
        hits = truth.join(approx, ["probe_id", "neighbor_id"], "left_semi")
        counts = truth.agg(F.count("*").alias("n_truth")).crossJoin(
            hits.agg(F.count("*").alias("n_hits"))
        )
        recall = F.when(
            F.col("n_truth") > 0,
            F.round(F.col("n_hits") / F.col("n_truth"), round_decimals),
        )
        per_method.append(
            counts.select(
                F.lit(method).alias("method"),
                "n_truth",
                "n_hits",
                recall.alias("recall_at_k"),
                F.coalesce(
                    F.when(F.col("n_truth") > 0, recall >= F.lit(floor)),
                    F.lit(False),
                ).alias("meets_floor"),
            )
        )
    out = per_method[0]
    for frame in per_method[1:]:
        out = out.unionByName(frame)
    return out


def pq_codebooks(
    embeddings: DataFrame,
    m: int = 16,
    codes: int = 64,
    dim: int = 64,
    round_decimals: int = 9,
    sample_modulus: int = 7,
) -> DataFrame:
    """Product-quantization codebooks: the vector splits into ``m``
    contiguous subspaces of ``dim/m`` dims; per subspace, ``codes``
    codewords initialize from DATA POINTS (the subvectors of the first
    ``codes`` vectors with ``vec_id % sample_modulus == 0``, in vec_id
    order) and take one Lloyd assign/update round. Initializing from
    means of arbitrary vector groups does NOT work — random-group
    means all collapse to the global subspace mean and quantization
    recall drops to chance (measured recall@5 0.04 vs 0.48 for this
    construction at the defaults); data-point seeds + one update is
    real PQ training,
    still closed-form for the oracle. Production refines further with
    [[kmeans_centroids]]-style rounds per subspace.

    Returns one row per (sub, code, pos, c) codebook DIM — the exploded
    layout kept for API/oracle compat, codes*dim rows total,
    broadcastable at any corpus scale (internal consumers use the
    compact (sub, code, cvec) form from _pq_codebook_vecs). Codes that
    lose every member in the update drop out (standard Lloyd),
    matching argmin consumers.
    """
    sub_d = dim // m
    return _pq_codebook_vecs(
        embeddings, m=m, codes=codes, dim=dim,
        round_decimals=round_decimals, sample_modulus=sample_modulus,
    ).select(
        "sub",
        "code",
        F.posexplode("cvec").alias("i", "c"),
    ).select(
        "sub",
        "code",
        (F.col("sub") * sub_d + F.col("i")).cast("int").alias("pos"),
        "c",
    )


def _pq_codebook_vecs(
    embeddings: DataFrame,
    m: int = 16,
    codes: int = 64,
    dim: int = 64,
    round_decimals: int = 9,
    sample_modulus: int = 7,
) -> DataFrame:
    """[[pq_codebooks]]'s trainer in its compact working layout: one
    row per (sub, code) carrying the whole ``cvec`` codeword array —
    m*codes rows. The Lloyd update is sub_d per-element ``avg``
    aggregates in ONE groupBy (codegen, map-side combined) instead of
    a posexplode + (sub, code, pos) shuffle: at fixture scale each
    saved exchange is a whole scheduling round (the PQ chain is
    stage-latency-bound there), and at 100 TB the update exchange
    carries m*codes*sub_d partials either way."""
    sub_d = dim // m
    base = embeddings.select("vec_id", _as_double("embedding").alias("emb"))
    w_seed = Window.orderBy("vec_id")
    seeds = (
        base.filter(F.col("vec_id") % sample_modulus == 0)
        .withColumn("code", (F.row_number().over(w_seed) - 1).cast("int"))
        .filter(F.col("code") < codes)
    )
    cvecs = seeds.select(
        "code",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("int").alias("sub"),
                        F.transform(
                            F.slice("emb", s * sub_d + 1, sub_d),
                            lambda x: F.round(x, round_decimals),
                        ).alias("cvec"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("sc"),
    ).select(F.col("sc.sub").alias("sub"), "code", F.col("sc.cvec").alias("cvec"))
    # One Lloyd round: assign every vector to its nearest seed code per
    # subspace (see _pq_assign), then recompute codewords as member
    # means, element-wise in a single aggregation.
    assigned = _pq_assign(base, cvecs, m, sub_d, round_decimals)
    return (
        assigned.groupBy("sub", "code")
        .agg(
            *[
                F.round(F.avg(F.col("svec").getItem(i)), round_decimals).alias(
                    f"_c{i}"
                )
                for i in range(sub_d)
            ]
        )
        .select(
            "sub",
            "code",
            F.array(*[F.col(f"_c{i}") for i in range(sub_d)]).alias("cvec"),
        )
    )


def _pq_assign(
    base: DataFrame, cvecs: DataFrame, m: int, sub_d: int, round_decimals: int
) -> DataFrame:
    """Nearest-code assignment over (vec_id, sub) SUBVECTOR rows: the
    corpus explodes to |corpus|*m rows (not |corpus|*dim), each joins
    the broadcast per-sub codeword list (m*codes rows carrying the
    whole ``cvec``), and the squared-L2 distance is sub_d literal
    ``svec[i]-cvec[i]`` terms — plain codegen arithmetic, summed
    left-to-right in index order (deterministic, then rounded). Argmin
    is ``min()`` of ONE packed long — ``floor(d*10^rd + 0.5)`` is the
    exact grid index of the ALREADY-ROUNDED d (d sits on the 10^-rd
    grid, and d*scale carries ~1e-4 absolute float error at these
    magnitudes, far under the 0.5 recovery margin), shifted left 20
    bits with the code in the low bits, so long ordering IS the
    (d asc, code asc) tie rule. A primitive-long min stays in
    HashAggregate with map-side combine — the earlier
    ``min(struct(d, code))`` form has a struct buffer, which forces
    SortAggregate and SORTS the candidate rows per group (measured
    +0.4 s per pass at sf0.1). vs the r5 shape (posexplode to
    |corpus|*dim rows, codes-way join on (sub,pos), TWO shuffled
    aggregations): sub_d-times fewer joined rows, one aggregation
    instead of two, and the exchange carries only the argmin winners.
    A fully in-row HOF variant (transform+zip_with+aggregate, zero
    shuffle) was measured 2x SLOWER at sf0.1 — higher-order functions
    are interpreted, and 2M interpreted fold evaluations lose to 2M
    codegen'd rows plus a combine-collapsed exchange."""
    sv = _pq_subvec_rows(base, "vec_id", m, sub_d)
    scale = float(10 ** round_decimals)
    # 20 bits for the code; d's grid index must fit 43 bits: d < ~8e3
    # at rd=9, comfortably above any squared-subvector distance here.
    code_bits = 20
    key = (
        F.floor(_pq_sub_dist(sub_d, round_decimals) * scale + F.lit(0.5)).cast(
            "long"
        )
        * (1 << code_bits)
        + F.col("code")
    ).alias("_k")
    # svec rides through the agg as sub_d primitive first()s, not
    # first(array): ANY non-primitive aggregation buffer (array, the
    # struct-min above) silently downgrades the whole aggregate to
    # SortAggregate, which sorts the candidate rows per group. All
    # buffers primitive => HashAggregate (plan-pinned in pytest).
    # Consumers that only read `code` (the encode path) prune the
    # _s columns out of the aggregate entirely.
    return (
        sv.join(F.broadcast(cvecs), "sub")
        .select("vec_id", "sub", "svec", "code", key)
        .groupBy("vec_id", "sub")
        .agg(
            F.min("_k").alias("_k"),
            *[
                F.first(F.col("svec").getItem(i)).alias(f"_s{i}")
                for i in range(sub_d)
            ],
        )
        .select(
            "vec_id",
            "sub",
            F.array(*[F.col(f"_s{i}") for i in range(sub_d)]).alias("svec"),
            (F.col("_k") % (1 << code_bits)).cast("int").alias("code"),
        )
    )


def _pq_subvec_rows(base: DataFrame, id_col: str, m: int, sub_d: int) -> DataFrame:
    """Explode ``emb`` into m (sub, svec) subvector rows per vector."""
    return base.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("int").alias("sub"),
                        F.slice("emb", s * sub_d + 1, sub_d).alias("svec"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("sc"),
    ).select(id_col, F.col("sc.sub").alias("sub"), F.col("sc.svec").alias("svec"))


def _pq_sub_dist(sub_d: int, round_decimals: int) -> Column:
    """Squared L2 between ``svec`` and ``cvec`` as sub_d literal
    getItem terms summed left-to-right (codegen, deterministic order),
    rounded — the one distance expression every PQ consumer shares."""
    diffs = [
        F.col("svec").getItem(i) - F.col("cvec").getItem(i) for i in range(sub_d)
    ]
    return F.round(reduce(operator.add, [t * t for t in diffs]), round_decimals)


def pq_encode(
    embeddings: DataFrame,
    codebooks: DataFrame,
    m: int = 16,
    codes: int = 64,
    dim: int = 64,
    round_decimals: int = 9,
) -> DataFrame:
    """Assign each vector its nearest code per subspace (squared-L2
    argmin, ties by code id): (vec_id, sub, code) — the 4-byte-per-
    subspace compressed index that replaces the float vector at serving
    time (dim*4 bytes -> m bytes, the whole point of PQ).

    Scale shape: the corpus explodes to |corpus|*m SUBVECTOR rows
    (not |corpus|*dim scalars) against the broadcast codeword list —
    sub_d-times fewer joined rows than a per-dim join, codegen'd
    distances, and one combine-collapsed argmin aggregation (see
    _pq_assign); the (sub, code, pos, c) codebook rows regroup into
    (sub, code, cvec) once, m*codes rows, broadcastable at any corpus
    scale."""
    sub_d = dim // m
    base = embeddings.select("vec_id", _as_double("embedding").alias("emb"))
    cvecs = (
        codebooks.groupBy("sub", "code")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("sub", "code", F.transform("pc", lambda x: x["c"]).alias("cvec"))
    )
    return _pq_assign(base, cvecs, m, sub_d, round_decimals).select(
        "vec_id", "sub", "code"
    )


def knn_pq(
    embeddings: DataFrame,
    probe_filter: Column | None = None,
    k: int = 5,
    m: int = 16,
    codes: int = 64,
    dim: int = 64,
    round_decimals: int = 9,
    sample_modulus: int = 7,
) -> DataFrame:
    """Top-k nearest neighbors by PQ asymmetric distance computation
    (ADC): the probe stays a float vector, the corpus is its PQ codes,
    and distance is the sum over subspaces of the PRECOMPUTED
    probe-to-code squared-L2 table — the memory-scale ANN shape (m
    byte-codes per corpus vector instead of dim floats; IVF restricts
    candidates, PQ compresses them; this operator is the PQ half).
    Output (probe_id, neighbor_id, adc_dist, rank), self-matches
    excluded, ties by neighbor_id — same surface as [[knn_brute]], with
    L2 replacing cosine (PQ's native metric; rankings agree on
    normalized corpora). Recall vs exact L2 is pinned in pytest
    (measured sweep at sf0.001: m=4/16 codes 0.12, m=8/64 codes 0.36,
    m=16/64 codes 0.48 — the m*log2(codes)-bit budget is the
    accuracy/memory dial, exactly as in the IVF-PQ literature).

    Scale shape: the distance TABLE (probes * codes * dim multiply-
    adds) is tiny and broadcast — and built as a pure MAP (probe
    subvector rows x broadcast codewords, the shared codegen'd
    _pq_sub_dist; no aggregation at all); the scoring join touches
    each corpus CODE row once per probe — |corpus| * m * |probes|
    fixed-width rows, the honest ADC cost, with no float vectors in
    the pair stream. The trained codebook (compact (sub, code, cvec)
    form) is pinned at the train-once/search-many boundary — its two
    differently-shaped consumers, the encode join and the probe tables,
    would otherwise each rerun the Lloyd pass.
    """
    if probe_filter is None:
        probe_filter = F.col("vec_id") % 50 == 0
    sub_d = dim // m
    cvecs = _pq_codebook_vecs(embeddings, m=m, codes=codes, dim=dim,
                              round_decimals=round_decimals,
                              sample_modulus=sample_modulus)
    # eager localCheckpoint, not persist (OPTIMIZATION_r14, guide
    # §3.3): both consumers' plans carried the full Lloyd-training
    # subtree through analysis/optimization even with the cache;
    # the checkpoint truncates the m*codes-row lineage to a leaf
    # (values identical — the frame is already on the rounding grid)
    cvecs = cvecs.localCheckpoint(eager=True)
    base = embeddings.select("vec_id", _as_double("embedding").alias("emb"))
    enc = _pq_assign(base, cvecs, m, sub_d, round_decimals).select(
        "vec_id", "sub", "code"
    )
    probe_sv = _pq_subvec_rows(
        base.filter(probe_filter).withColumnRenamed("vec_id", "probe_id"),
        "probe_id", m, sub_d,
    )
    dtab = probe_sv.join(F.broadcast(cvecs), "sub").select(
        "probe_id", "sub", "code",
        _pq_sub_dist(sub_d, round_decimals).alias("pd"),
    )
    adc = (
        enc.join(F.broadcast(dtab), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("probe_id"))
        .groupBy("probe_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("pd"), round_decimals).alias("adc_dist"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "adc_dist", "rank")
    )


def knn_pq_recall(
    embeddings: DataFrame,
    k: int = 5,
    floor: float = 0.30,
    round_decimals: int = 9,
) -> DataFrame:
    """In-plan PQ quality contract, mirroring [[knn_recall]]: recall@k
    of [[knn_pq]] against exact squared-L2 brute force (PQ's native
    metric), emitted as one hash-verifiable row (method, n_probes,
    n_hits, recall_at_k, meets_floor) — the floor is the guardrail when
    turning the m/codes accuracy-memory dial.

    Brute L2 uses the dot-product identity |a-b|^2 = a.a + b.b - 2a.b
    on BOTH engines (three sequential-fold dots each) so the rounded
    distances are bit-identical cross-engine; ranking ties break by
    neighbor_id. Recall derives from integer hit counts, so the final
    division is one deterministic IEEE op.
    """
    pq = knn_pq(embeddings, k=k, round_decimals=round_decimals).select(
        "probe_id", "neighbor_id"
    )
    base = embeddings.select("vec_id", _as_double("embedding").alias("emb"))
    probes = base.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("emb").alias("p")
    )
    l2 = F.round(
        _dot(F.col("emb"), F.col("emb"))
        + _dot(F.col("p"), F.col("p"))
        - 2 * _dot(F.col("p"), F.col("emb")),
        round_decimals,
    )
    scored = (
        base.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", F.col("vec_id").alias("neighbor_id"), l2.alias("l2"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.asc("l2"), F.asc("neighbor_id"))
    truth = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id")
    )
    n_hits = truth.join(pq, ["probe_id", "neighbor_id"]).agg(
        F.count("*").alias("n_hits")
    )
    n_probes = truth.agg(F.countDistinct("probe_id").alias("n_probes"))
    recall = F.round(F.col("n_hits") / (F.lit(float(k)) * F.col("n_probes")), 6)
    return (
        n_hits.crossJoin(n_probes)
        .select(
            F.lit("pq").alias("method"),
            "n_probes",
            "n_hits",
            recall.alias("recall_at_k"),
            (recall >= floor).alias("meets_floor"),
        )
    )


def knn_ivf_pq(
    embeddings: DataFrame,
    probe_filter: Column | None = None,
    k: int = 5,
    n_probe: int = 2,
    centroid_modulus: int = 101,
    m: int = 16,
    codes: int = 64,
    dim: int = 64,
    round_decimals: int = 9,
    sample_modulus: int = 7,
) -> DataFrame:
    """The full IVF-PQ composition — the production ANN index shape
    (Jégou et al., "Product Quantization for Nearest Neighbor Search"):
    IVF restricts WHICH vectors a probe scores (coarse inverted lists,
    [[knn_ivf]]'s assignment), PQ compresses WHAT is scored (m byte
    codes + broadcast ADC tables, [[knn_pq]]'s scoring). Cost per probe
    drops from |corpus|·m code rows to |corpus|·m·n_probe/C — the two
    dials compose multiplicatively, which is why every serving-scale
    system runs them together.

    Plan shape (100 TB): coarse assignment = one broadcast-centroid
    crossJoin + argmax window (the same index-build pass knn_ivf runs);
    codes join their list id once (one keyed shuffle on vec_id — the
    index-build materialization); search = TWO broadcast joins (probe
    list ids, probe distance tables) + one (probe, neighbor) partial
    aggregate. No float vectors and no corpus-wide shuffle in the
    search path; at scale cent_id becomes the partition key and a probe
    reads n_probe partitions of byte codes.

    Same surface as [[knn_pq]] (probe_id, neighbor_id, adc_dist, rank);
    recall vs exact L2 is necessarily ≤ knn_pq's (candidates shrink)
    and is pinned with the quantization-only / routing-only deltas in
    pytest."""
    if probe_filter is None:
        probe_filter = F.col("vec_id") % 50 == 0
    base = embeddings.select("vec_id", _as_double("embedding").alias("emb"))
    centroids = base.filter(F.col("vec_id") % centroid_modulus == 1).select(
        F.col("vec_id").alias("cent_id"), F.col("emb").alias("cent_emb")
    )
    scored = base.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "cent_id",
        cosine(F.col("emb"), F.col("cent_emb")).alias("cent_cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cent_cos"), F.asc("cent_id"))
    ranked = scored.withColumn("crank", F.row_number().over(w))
    lists = ranked.filter(F.col("crank") == 1).select("vec_id", "cent_id")
    probe_cent = (
        ranked.filter(probe_filter)
        .filter(F.col("crank") <= n_probe)
        .select(F.col("vec_id").alias("probe_id"), "cent_id")
    )
    sub_d = dim // m
    cvecs = _pq_codebook_vecs(
        embeddings, m=m, codes=codes, dim=dim,
        round_decimals=round_decimals, sample_modulus=sample_modulus,
    )
    # eager localCheckpoint, not persist (OPTIMIZATION_r14, guide
    # §3.3): both consumers' plans carried the full Lloyd-training
    # subtree through analysis/optimization even with the cache;
    # the checkpoint truncates the m*codes-row lineage to a leaf
    # (values identical — the frame is already on the rounding grid)
    cvecs = cvecs.localCheckpoint(eager=True)
    enc = _pq_assign(base, cvecs, m, sub_d, round_decimals).select(
        "vec_id", "sub", "code"
    )
    probe_sv = _pq_subvec_rows(
        base.filter(probe_filter).withColumnRenamed("vec_id", "probe_id"),
        "probe_id", m, sub_d,
    )
    dtab = probe_sv.join(F.broadcast(cvecs), "sub").select(
        "probe_id", "sub", "code",
        _pq_sub_dist(sub_d, round_decimals).alias("pd"),
    )
    cand = (
        enc.join(lists, "vec_id")
        .join(F.broadcast(probe_cent), "cent_id")
        .filter(F.col("vec_id") != F.col("probe_id"))
    )
    adc = (
        cand.join(F.broadcast(dtab), ["probe_id", "sub", "code"])
        .groupBy("probe_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("pd"), round_decimals).alias("adc_dist"))
    )
    wk = Window.partitionBy("probe_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        adc.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "adc_dist", "rank")
    )


def knn_ivf_pq_recall(
    embeddings: DataFrame,
    k: int = 5,
    floor: float = 0.10,
    round_decimals: int = 9,
) -> DataFrame:
    """Quality contract for the composed index, completing the family
    ([[knn_recall]] for LSH/IVF, [[knn_pq_recall]] for PQ): recall@k of
    [[knn_ivf_pq]] vs exact squared-L2 brute force as one
    hash-verifiable row. Necessarily ≤ knn_pq_recall's value (routing
    only removes candidates) — together the three contracts decompose
    quality loss into a quantization term and a routing term, which is
    how production IVF-PQ deployments debug recall."""
    ivfpq = knn_ivf_pq(embeddings, k=k, round_decimals=round_decimals).select(
        "probe_id", "neighbor_id"
    )
    base = embeddings.select("vec_id", _as_double("embedding").alias("emb"))
    probes = base.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("emb").alias("p")
    )
    l2 = F.round(
        _dot(F.col("emb"), F.col("emb"))
        + _dot(F.col("p"), F.col("p"))
        - 2 * _dot(F.col("p"), F.col("emb")),
        round_decimals,
    )
    scored = (
        base.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", F.col("vec_id").alias("neighbor_id"), l2.alias("l2"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.asc("l2"), F.asc("neighbor_id"))
    truth = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id")
    )
    n_hits = truth.join(ivfpq, ["probe_id", "neighbor_id"]).agg(
        F.count("*").alias("n_hits")
    )
    n_probes = truth.agg(F.countDistinct("probe_id").alias("n_probes"))
    recall = F.round(F.col("n_hits") / (F.lit(float(k)) * F.col("n_probes")), 6)
    return n_hits.crossJoin(n_probes).select(
        F.lit("ivf_pq").alias("method"),
        "n_probes",
        "n_hits",
        recall.alias("recall_at_k"),
        (recall >= floor).alias("meets_floor"),
    )


def hybrid_retrieval_rrf(
    documents: DataFrame,
    embeddings: DataFrame,
    probe_id: int = 0,
    k_rrf: int = 60,
    top_n: int = 50,
) -> DataFrame:
    """Hybrid lexical+vector retrieval fused with Reciprocal Rank
    Fusion (Cormack, Clarke & Buettcher 2009 — the public recipe
    behind Elasticsearch/OpenSearch hybrid search): the BM25 arm
    ([[bm25-scores]]) and a brute-cosine vector arm against the
    ``probe_id`` embedding each contribute 1/(k + rank) for their
    top-``top_n``, and the union is scored by the sum — documents
    found by BOTH arms rise above either arm alone.

    Output: (doc_id, lex_rank, vec_rank, rrf_score) for every doc in
    either arm's top-n (ranks NULL where an arm missed it), score
    rounded to 6 decimals. The fixture's documents and embeddings
    tables are id-aligned (doc_id == vec_id), which is the join key.

    Scale: each arm ends in orderBy+limit — TakeOrderedAndProject
    (per-partition top-n, merge on the driver-side singleton), never a
    global sort — and the rank window runs AFTER the limit, over at
    most ``top_n`` rows, so the 1-partition window is bounded by a
    constant whatever the corpus size. The final full-outer join is
    between two ≤top_n frames. The vector arm is the brute baseline
    for oracle-exactness; swap knn_ivf/knn_lsh in production — the
    fusion is rank-based, so the arm's engine is interchangeable.
    """
    from pyspark.sql.window import Window as W

    from .text import bm25_scores

    lex_top = (
        bm25_scores(documents)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(top_n)
    )
    lex = lex_top.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("lex_rank"),
    )
    base = embeddings.select("vec_id", _as_double("embedding").alias("emb"))
    probe = base.filter(F.col("vec_id") == probe_id).select(
        F.col("emb").alias("probe_emb")
    )
    vec_top = (
        base.crossJoin(F.broadcast(probe))
        .filter(F.col("vec_id") != probe_id)
        .select("vec_id", cosine(F.col("probe_emb"), F.col("emb")).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(top_n)
    )
    vec = vec_top.select(
        "vec_id",
        F.row_number()
        .over(W.orderBy(F.desc("cosine"), F.asc("vec_id")))
        .alias("vec_rank"),
    )
    fused = lex.join(vec, lex["doc_id"] == vec["vec_id"], "full_outer")
    contrib = F.coalesce(
        F.lit(1.0) / (F.lit(k_rrf) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(k_rrf) + F.col("vec_rank")), F.lit(0.0))
    return fused.select(
        F.coalesce(lex["doc_id"], vec["vec_id"]).alias("doc_id"),
        "lex_rank",
        "vec_rank",
        F.round(contrib, 6).alias("rrf_score"),
    )


def _pca_terms(dim: int, iters: int, rd: int = 9):
    """Dialect-shared expression strings for [[pca_top_component]] and
    its DuckDB oracle (plans/registry._pca_sql imports this): round,
    sqrt, +, *, / and CAST(x AS DOUBLE) parse identically in Spark SQL
    and DuckDB, so BOTH engines execute these exact strings — the
    expression shapes cannot drift apart. Returns (means, covs,
    rounds, ps, lam, score) where rounds is one (w_exprs, nrm_expr)
    pair per power iteration."""
    import math

    idx = range(dim)

    def c(i: int, j: int) -> str:
        a, b = (i, j) if i <= j else (j, i)
        return f"c{a}_{b}"

    means = [f"round(s{i}/n, {rd}) AS m{i}" for i in idx]
    covs = [
        f"round(g{i}_{j}/n - s{i}*s{j}/(n*n), {rd}) AS c{i}_{j}"
        for i in idx
        for j in idx
        if j >= i
    ]
    v = [f"CAST({1.0 / math.sqrt(dim)!r} AS DOUBLE)"] * dim
    rounds = []
    for it in range(iters):
        ws = [
            " + ".join(f"{c(i, j)}*{v[j]}" for j in idx) + f" AS w{it}_{i}"
            for i in idx
        ]
        nrm = (
            "sqrt(" + " + ".join(f"w{it}_{i}*w{it}_{i}" for i in idx) + f") AS nrm{it}"
        )
        rounds.append((ws, nrm))
        v = [f"round(w{it}_{i}/nrm{it}, {rd})" for i in idx]
    lam = " + ".join(
        f"{v[i]}*(" + " + ".join(f"{c(i, j)}*{v[j]}" for j in idx) + ")" for i in idx
    )
    ps = [f"{v[i]} AS p{i}" for i in idx]
    score = " + ".join(f"(x{i} - m{i})*p{i}" for i in idx)
    return means, covs, rounds, ps, lam, score


def pca_top_component(
    embeddings: DataFrame,
    dim: int = 16,
    iters: int = 12,
    round_decimals: int = 9,
) -> DataFrame:
    """Top principal component of the first ``dim`` embedding
    dimensions, as (vec_id, pc1, lambda1): one distributed covariance
    aggregation + a fixed unrolled power iteration + a broadcast
    projection pass — the dimensionality-reduction / whitening
    primitive (ABTT-style dominant-direction removal, dedup
    preprocessing, drift monitoring) next to the ANN family.

    Plan shape, built for 100 TB: the ONLY pass over the corpus that
    shuffles anything is one global aggregate producing a SINGLE row
    of d means + d(d+1)/2 Gram sums (map-side combined; the shuffle
    carries one ~(d^2/2)-double row per partition). Everything
    after — covariance, ``iters`` rounds of v <- Cv / |Cv| from the
    fixed CAST(1/sqrt(d) AS DOUBLE) start — is scalar arithmetic on
    that one row, and the projection pass is a broadcast crossJoin +
    one centered dot product per vector (map-only). No Python UDFs,
    no driver-side linear algebra in the plan.

    Determinism across engines: the post-aggregate arithmetic is
    generated ONCE as SQL strings ([[_pca_terms]]) executed verbatim
    by both Spark (selectExpr) and DuckDB (the oracle's CTEs) — same
    text, same left-to-right evaluation, same round() grid every
    iteration, so identical doubles. (The first cut built these
    expressions as Python Column algebra: ~25k Py4J round-trips,
    21 s of pure plan-construction at any data size. selectExpr
    hands the JVM one string per stage: build time ~1 s, execution
    unchanged.)

    Power iteration with a fixed start and fixed rounds is a
    REPLAYABLE approximation of the eigenvector; its quality CONTRACT
    is the Rayleigh quotient ``lambda1`` (variance explained — what
    whitening/ABTT consumes), pinned in pytest at >= 0.99 of numpy's
    exact top eigenvalue. On a near-degenerate spectrum (the
    fixture's lambda2/lambda1 is ~0.96) the specific eigenVECTOR is
    statistically ill-determined and alignment converges like
    (lambda2/lambda1)^iters, but any vector this close in Rayleigh
    quotient spans the same high-variance subspace — the honest
    convergence story for flat spectra. ``dim`` stays
    expression-unrolled-small here; the full-width production variant
    aggregates the same single Gram row and eigensolves the tiny
    d x d off-plan, then broadcasts the component back into this same
    projection pass.
    """
    if dim < 2 or iters < 1:
        raise ValueError("dim >= 2 and iters >= 1 required")
    idx = range(dim)
    means, covs, rounds, ps, lam, score = _pca_terms(dim, iters, round_decimals)
    base = embeddings.filter(F.size("embedding") >= dim).select(
        "vec_id",
        *[F.col("embedding")[i].cast("double").alias(f"x{i}") for i in idx],
    )
    stats = base.agg(
        F.count("*").cast("double").alias("n"),
        *[F.sum(F.col(f"x{i}")).alias(f"s{i}") for i in idx],
        *[
            F.sum(F.col(f"x{i}") * F.col(f"x{j}")).alias(f"g{i}_{j}")
            for i in idx
            for j in idx
            if j >= i
        ],
    )
    # Eager checkpoints at the single-row boundaries (OPTIMIZATION_r14,
    # guide §3.3 "very large plans"): every chained selectExpr runs the
    # analyzer eagerly over the WHOLE accumulated plan, so the 2*iters
    # scalar rounds re-analyzed the corpus-aggregate subtree 24 times —
    # measured ~7-8 s of pure driver-side plan construction plus a
    # matching optimizer bill at execution, at ANY data size. Cutting
    # the lineage after the one corpus aggregate (a 1-row frame) and
    # again after the iteration chain leaves the per-round analyzer
    # passes a leaf-sized plan and the projection job a 3-node plan.
    # Values are bit-identical: the checkpoint materializes the same
    # doubles the lazy plan would feed the same expressions.
    row = stats.selectExpr("n", *means, *covs).localCheckpoint(eager=True)
    for ws, nrm in rounds:
        row = row.selectExpr("*", *ws)
        row = row.selectExpr("*", nrm)
    comp = row.selectExpr(
        *[f"m{i}" for i in idx], *ps, f"round({lam}, 6) AS lambda1"
    ).localCheckpoint(eager=True)
    return base.crossJoin(F.broadcast(comp)).selectExpr(
        "vec_id", f"round({score}, 6) AS pc1", "lambda1"
    )


def pca_residual_norms(
    embeddings: DataFrame,
    dim: int = 16,
    iters: int = 12,
    round_decimals: int = 9,
) -> DataFrame:
    """All-but-the-top (ABTT, Mu & Viswanath 2018) residuals: remove
    the dominant direction found by [[pca_top_component]] and emit
    each vector's projection ``pc1`` plus the norm of what remains —
    the post-processing step that de-biases embedding spaces before
    cosine retrieval (the common direction carries corpus-frequency
    signal, not semantics), and a drift monitor (residual-norm shifts
    flag embedding-model changes).

    Same plan as the component itself — ONE single-row corpus
    aggregate, the unrolled power iteration as scalar arithmetic on
    that row, then a broadcast map pass — the residual adds only
    per-row expression work, no new shuffle. Cross-engine determinism
    the same way: the residual expression is generated once and
    executed verbatim by both engines, and it references the ROUNDED
    ``pc1`` column (not the raw score) so both engines subtract
    exactly the same projection.
    """
    if dim < 2 or iters < 1:
        raise ValueError("dim >= 2 and iters >= 1 required")
    idx = range(dim)
    means, covs, rounds, ps, lam, score = _pca_terms(dim, iters, round_decimals)
    base = embeddings.filter(F.size("embedding") >= dim).select(
        "vec_id",
        *[F.col("embedding")[i].cast("double").alias(f"x{i}") for i in idx],
    )
    stats = base.agg(
        F.count("*").cast("double").alias("n"),
        *[F.sum(F.col(f"x{i}")).alias(f"s{i}") for i in idx],
        *[
            F.sum(F.col(f"x{i}") * F.col(f"x{j}")).alias(f"g{i}_{j}")
            for i in idx
            for j in idx
            if j >= i
        ],
    )
    # single-row lineage cuts — see pca_top_component (OPTIMIZATION_r14)
    row = stats.selectExpr("n", *means, *covs).localCheckpoint(eager=True)
    for ws, nrm in rounds:
        row = row.selectExpr("*", *ws)
        row = row.selectExpr("*", nrm)
    comp = row.selectExpr(*[f"m{i}" for i in idx], *ps).localCheckpoint(
        eager=True
    )
    rexpr = "sqrt(" + " + ".join(
        f"(x{i} - m{i} - pc1*p{i})*(x{i} - m{i} - pc1*p{i})" for i in idx
    ) + ")"
    proj = base.crossJoin(F.broadcast(comp)).selectExpr(
        "*", f"round({score}, 6) AS pc1"
    )
    return proj.selectExpr(
        "vec_id", "pc1", f"round({rexpr}, 6) AS residual_norm"
    )


def knn_ivf_append(
    base: DataFrame,
    increment: DataFrame,
    probe_filter: Column | None = None,
    k: int = 5,
    n_probe: int = 2,
    centroid_limit: int = 32,
) -> DataFrame:
    """Incremental IVF index maintenance — the streaming-ingestion ANN
    path: new vectors join an EXISTING coarse index without retraining
    or re-assigning the corpus. The centroids come from the BASE only
    (a fixed ``vec_id < C`` rule — the index is immutable once built),
    the base's ranked assignment is materialized once as the stored
    index table (``localCheckpoint`` — the role a real deployment's
    inverted-list storage plays; at update time it is a LEAF, not a
    recomputation), and the ONLY per-update assignment work is the
    increment × C broadcast scoring. Search then runs [[knn_ivf]]'s
    exact list/probe/verify shape over the unioned lists.

    The correctness statement is EQUIVALENCE: because assignment is
    per-row deterministic given the centroids, incrementally-built
    lists equal a from-scratch build over base ∪ increment — which is
    exactly what the registered oracle computes, so the driver hash
    pins that appending never changes search results vs full reindex.

    At 100 TB this is the difference between re-scoring the whole
    corpus against the centroids on every ingest batch (N·C per
    update) and scoring only the batch (|Δ|·C): the stored index is
    the persisted table, updates append to it, and probes are
    unaffected. The index materialization runs at BUILD time (like
    the stream replays); a bench timing measures increment assignment
    + search.
    """
    if probe_filter is None:
        probe_filter = F.col("vec_id") % 50 == 0
    b = base.select("vec_id", _as_double("embedding").alias("emb"))
    inc = increment.select("vec_id", _as_double("embedding").alias("emb"))
    centroids = b.filter(F.col("vec_id") < centroid_limit).select(
        F.col("vec_id").alias("cent_id"), F.col("emb").alias("cent_emb")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cent_cos"), F.asc("cent_id"))

    def ranked(df: DataFrame) -> DataFrame:
        scored = df.crossJoin(F.broadcast(centroids)).select(
            "vec_id",
            "emb",
            "cent_id",
            cosine(F.col("emb"), F.col("cent_emb")).alias("cent_cos"),
        )
        return scored.withColumn("crank", F.row_number().over(w))

    stored = ranked(b).localCheckpoint()  # the persisted index table
    allr = stored.unionByName(ranked(inc))
    lists = allr.filter(F.col("crank") == 1).select("vec_id", "emb", "cent_id")
    probe_lists = (
        allr.filter(probe_filter)
        .filter(F.col("crank") <= n_probe)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("emb").alias("probe_emb"),
            "cent_id",
        )
    )
    cand = (
        lists.join(F.broadcast(probe_lists), "cent_id")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("probe_emb"), F.col("emb")).alias("cosine"),
        )
    )
    wk = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine", "rank")
    )
