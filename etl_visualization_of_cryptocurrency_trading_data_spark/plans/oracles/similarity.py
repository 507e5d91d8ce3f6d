"""Embedding similarity + ANN surface: brute/LSH/IVF/PQ
kNN with recall contracts, k-means, PCA/ABTT whitening, SemDeDup,
and hybrid retrieval.

Split verbatim from plans/registry.py (r11 verdict item #2); the
facade registry module re-exports every name and asserts the
assembled surface is byte-identical to the pre-split snapshot.
"""

from __future__ import annotations

from ...catalog import load_table
from ...operators import dedup, similarity
from .common import _documents
from .text import _BM25_SQL

def q_kmeans_fixed(spark, sf_dir):
    """The SCALE-SAFE k-means registration
    (similarity.kmeans_centroids centroid_limit=32): a fixed 32-seed
    init instead of the modulus rule's K = N/101 — per-round
    assignment cost N*K becomes linear in N (the modulus form
    measured 53x at 10x data; fixed K is the production shape, same
    dial as knn_ivf_fixed). Two Lloyd rounds; per-cluster size plus a
    digest of the refined centroid."""
    from pyspark.sql import functions as F

    cent = similarity.kmeans_centroids(
        load_table(spark, sf_dir, "embeddings"), iters=2, centroid_limit=32
    )
    return cent.select(
        "cent_id",
        "n_members",
        similarity.digest_i6(F.col("cent")).alias("cent_digest"),
    )

def q_knn_quantized(spark, sf_dir):
    """Top-k cosine over int8-quantized codes (exact integer-dot
    oracle, no rounding pin needed)."""
    return similarity.knn_quantized(load_table(spark, sf_dir, "embeddings"), k=5)

def q_embedding_normalize(spark, sf_dir):
    """L2 normalization with an engine-independent digest of the unit
    vector (the driver's canonicalizer cannot hash raw arrays)."""
    from pyspark.sql import functions as F

    norm = similarity.normalize_embeddings(load_table(spark, sf_dir, "embeddings"))
    return norm.select(
        "vec_id",
        F.round("l2_norm", 7).alias("l2_norm"),
        F.when(
            F.col("emb").isNotNull(), similarity.digest_i6(F.col("emb"))
        ).alias("emb_digest"),
    )

def q_embedding_quantize(spark, sf_dir):
    """Symmetric int8 quantization: per-vector scale plus a digest of
    the quantized codes."""
    from pyspark.sql import functions as F

    qt = similarity.quantize_embeddings(load_table(spark, sf_dir, "embeddings"))
    return qt.select(
        "vec_id",
        F.round("scale", 7).alias("scale"),
        F.when(
            F.col("q").isNotNull(),
            F.md5(F.concat_ws(",", F.transform("q", lambda x: x.cast("string")))),
        ).alias("q_digest"),
    )

def q_knn_lsh_multiprobe(spark, sf_dir):
    """Multiprobe sign-bit LSH (similarity.knn_lsh multiprobe=True):
    own bucket + all Hamming-1 buckets — the recall/cost dial, recall
    ~3x single-probe on the fixtures (pinned by knn_recall)."""
    return similarity.knn_lsh(
        load_table(spark, sf_dir, "embeddings"), k=5, multiprobe=True
    )

def q_knn_brute_vectorized(spark, sf_dir):
    """round_decimals=9 pins the BLAS-summation cosine to a precision
    where it equals the SQL left-fold dot product exactly, making the
    result (incl. rank ties) oracle-checkable. The row-form
    similarity.knn_brute gives the same neighbors but ranks one row per
    (corpus, probe) pair, so it serves only as knn_recall's truth.

    The probe matrix (the index-build step) is read locally with the
    modulo predicate pushed into the parquet scan (DuckDB), so only the
    ~2% probe rows ever reach driver memory and building this plan
    never runs a Spark job; the cluster only sees the declarative
    mapInPandas scan. On a real deployment the probes would come from
    a previously persisted probe table the same way.
    """
    import os

    import duckdb
    import numpy as np

    from ...catalog import table_path

    path = table_path(sf_dir, "embeddings")
    if os.path.isdir(path):  # Spark-written dataset dir vs single file
        # recursive glob: a partitioned/nested layout must not silently
        # yield zero probes (ADVICE r4)
        path = os.path.join(path, "**", "*.parquet")
    probes = duckdb.sql(
        "SELECT vec_id, embedding AS emb"
        f" FROM '{path}'"
        " WHERE vec_id % 50 = 0 ORDER BY vec_id"
    ).df()
    if probes.empty and duckdb.sql(f"SELECT count(*) FROM '{path}'").fetchone()[0]:
        # an empty TABLE legitimately yields zero probes; zero probes
        # from a non-empty table means the glob missed the layout
        raise ValueError(
            f"knn_brute_vectorized: probe scan of {path!r} returned no rows"
            " from a non-empty source — layout the modulo filter missed?"
        )
    # match _as_double's float->double widening (exact, value-preserving)
    probes["emb"] = probes["emb"].map(lambda a: np.asarray(a, dtype=np.float64))
    return similarity.knn_brute_vectorized(
        load_table(spark, sf_dir, "embeddings"),
        k=5,
        probes=probes.reset_index(drop=True),
        round_decimals=9,
    )

def q_knn_ivf_trained(spark, sf_dir):
    """IVF search against the TRAINED coarse index: kmeans_centroids'
    two Lloyd rounds feed knn_ivf's ``centroids=`` hook — one lazy
    plan (train + assign + search), closing the loop the similarity
    docstrings promise.

    The centroid frame is persisted, and knn_ivf caches the assignment
    ranking it builds from passed centroids: the search consumes that
    ranking twice (inverted lists + probe lists), and without the
    cache each consumer would re-run the full training subtree
    (observed: 13 parquet scans in the executed plan vs 5 with the
    cache). k x dim rows — the same train-once/search-many
    materialization boundary a real deployment has, where the trained
    index is a persisted table. No job runs at plan construction
    (persist is lazy)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = similarity.kmeans_centroids(emb, iters=2).persist()
    return similarity.knn_ivf(emb, k=5, centroids=cent)

def q_knn_recall(spark, sf_dir):
    """ANN quality contract (similarity.knn_recall): recall@5 of the
    LSH and IVF indexes against brute-force ground truth, with a
    meets_floor boolean per method — approximate-search QUALITY is
    hash-verified, not just determinism."""
    return similarity.knn_recall(load_table(spark, sf_dir, "embeddings"), k=5)

def q_knn_ivf_full_fixed(spark, sf_dir):
    """The PRODUCTION-shape IVF registration: fixed coarse index
    (centroid_limit=32, the knn_ivf_fixed rule) AND a fixed probe set
    (vec_id < 200) — closing the one honest caveat in the r7 100×
    experiment (NOTES_r07 §11): the %50 probe rule grows the probe
    COUNT with the corpus, injecting a probes×corpus/lists quadratic
    that belongs to the fixture, not the index. With both C and the
    query workload constant, search cost is linear in N exactly like
    assignment — the 100×-data measurement of THIS registration is the
    index's true scaling. Oracle via the parameterized
    ``_knn_ivf_sql(cent_where, probe_where)``."""
    from pyspark.sql import functions as F

    return similarity.knn_ivf(
        load_table(spark, sf_dir, "embeddings"),
        probe_filter=F.col("vec_id") < 200,
        k=5,
        centroid_limit=32,
    )

def q_knn_ivf_pq_recall(spark, sf_dir):
    """Quality contract for the composed index
    (similarity.knn_ivf_pq_recall): recall@5 of IVF-PQ vs exact L2
    brute — with knn_recall and knn_pq_recall this decomposes quality
    loss into quantization and routing terms."""
    return similarity.knn_ivf_pq_recall(
        load_table(spark, sf_dir, "embeddings"), k=5
    )

def _knn_sql(
    bucketed: bool,
    round_decimals: int | None = None,
    multiprobe: bool = False,
    n_planes: int | None = None,
    plant_shift: int | None = None,
) -> str:
    planes = (
        similarity.hyperplanes(n_planes)
        if n_planes is not None
        else similarity.hyperplanes()
    )
    bucket_expr = " + ".join(
        f"CASE WHEN list_dot_product(emb, {plane!r}::DOUBLE[]) > 0 THEN {1 << i} ELSE 0 END"
        for i, plane in enumerate(planes)
    )
    bucket_col = f", ({bucket_expr}) AS bucket" if bucketed else ""
    join = (
        "JOIN probes ON base.bucket = probes.probe_bucket AND vec_id <> probe_id"
        if bucketed
        else "CROSS JOIN probes WHERE vec_id <> probe_id"
    )
    if multiprobe:
        # own bucket + every Hamming-1 bucket, mirroring knn_lsh(multiprobe=True)
        masks = ", ".join(f"({1 << i})" for i in range(len(planes)))
        probe_bucket = ", xor(bucket, m) AS probe_bucket"
        probe_from = f"FROM base, (VALUES (0), {masks}) v(m)"
    else:
        probe_bucket = ", bucket AS probe_bucket" if bucketed else ""
        probe_from = "FROM base"
    cos = (
        "list_dot_product(probe_emb, emb)"
        " / (sqrt(list_dot_product(probe_emb, probe_emb)) * sqrt(list_dot_product(emb, emb)))"
    )
    if round_decimals is not None:
        # rank on the rounded value too — the engine's vectorized path
        # prunes and ranks on rounded cosines, so ties must match
        cos = f"round({cos}, {round_decimals})"
    # plant_shift: the corpus additionally carries an EXACT twin of
    # every probe vector under vec_id + plant_shift (shift chosen so
    # twins are never probes themselves) — identical vectors share
    # every sign bit, so each probe's twin is a guaranteed bucket
    # collision and a cosine-1 rank-1 neighbor; the driver hash then
    # certifies candidate generation AND ranking on non-empty,
    # known-answer output (the embedding_dup_wide recipe).
    corpus = (
        "SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings"
        if plant_shift is None
        else f"""SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
  UNION ALL
  SELECT vec_id + {plant_shift}, embedding::DOUBLE[]
  FROM embeddings WHERE vec_id % 50 = 0"""
    )
    return f"""
WITH corpus AS (
  {corpus}
),
base AS (
  SELECT vec_id, emb{bucket_col} FROM corpus
),
probes AS (
  SELECT vec_id AS probe_id, emb AS probe_emb{probe_bucket} {probe_from} WHERE vec_id % 50 = 0
),
scored AS (
  SELECT probe_id, vec_id AS neighbor_id,
         {cos} AS cosine
  FROM base {join}
)
SELECT probe_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= 5"""

def _embedding_dup_sql(
    threshold: float = 0.5,
    n_planes: int = 16,
    bands: int = 4,
    base_sql: str = "SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings",
) -> str:
    """DuckDB oracle replaying the banded sign-bit LSH bit-for-bit.
    ``base_sql`` overrides the corpus CTE (the wide registration plants
    exact twins so its driver row verifies candidate generation AND the
    cosine verify on non-empty output)."""
    planes = similarity.hyperplanes(n_planes)
    r = n_planes // bands
    bit_cols = ",\n         ".join(
        f"CASE WHEN list_dot_product(emb, {plane!r}::DOUBLE[]) > 0 THEN 1 ELSE 0 END AS bit{i}"
        for i, plane in enumerate(planes)
    )
    band_cols = ", ".join(
        "(" + " + ".join(f"bit{b * r + j} * {1 << j}" for j in range(r)) + f") AS band{b}"
        for b in range(bands)
    )
    band_union = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, {b} AS band, band{b} AS val FROM banded" for b in range(bands)
    )
    return f"""
WITH base AS ({base_sql}),
bits AS (
  SELECT vec_id, emb,
         {bit_cols}
  FROM base
),
banded AS (SELECT *, {band_cols} FROM bits),
bb AS (
{band_union}
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bb a JOIN bb b ON a.band = b.band AND a.val = b.val AND a.vec_id < b.vec_id
)
SELECT id_a, id_b,
       list_dot_product(x.emb, y.emb)
       / (sqrt(list_dot_product(x.emb, x.emb)) * sqrt(list_dot_product(y.emb, y.emb))) AS cosine
FROM cand
JOIN base x ON x.vec_id = id_a
JOIN base y ON y.vec_id = id_b
WHERE cosine >= {threshold}"""

def _kmeans_ctes(cent_where: str = "vec_id % 101 = 1") -> str:
    """The two-Lloyd-round k-means CTE chain (base..c2), shared by the
    ``kmeans_centroids*`` oracles and the trained-centroid
    composition ``semantic_dedup_trained`` (which consumes c2 as its
    coarse index); ``cent_where`` picks the seed set — the modulus
    default (K grows with N) or the fixed-size rule
    (``vec_id < 32``; the scale-honest registrations)."""
    return f"""base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
c0 AS (SELECT vec_id AS cent_id, emb AS cent FROM base WHERE {cent_where}),
s1 AS (
  SELECT b.vec_id, b.emb, c.cent_id,
         round(list_sum([(b.emb[i] - c.cent[i]) * (b.emb[i] - c.cent[i])
                         for i in range(1, 65)]), 9) AS dist
  FROM base b CROSS JOIN c0 c
),
a1 AS (
  SELECT vec_id, emb, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cent_id) AS rn
    FROM s1) WHERE rn = 1
),
u1 AS (
  SELECT cent_id, t.i AS i, avg(emb[t.i]) AS v, count(*) AS n
  FROM a1, range(1, 65) t(i) GROUP BY cent_id, t.i
),
c1 AS (
  SELECT cent_id, list(round(v, 9) ORDER BY i) AS cent,
         max(n) AS n_members
  FROM u1 GROUP BY cent_id
),
s2 AS (
  SELECT b.vec_id, b.emb, c.cent_id,
         round(list_sum([(b.emb[i] - c.cent[i]) * (b.emb[i] - c.cent[i])
                         for i in range(1, 65)]), 9) AS dist
  FROM base b CROSS JOIN c1 c
),
a2 AS (
  SELECT vec_id, emb, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cent_id) AS rn
    FROM s2) WHERE rn = 1
),
u2 AS (
  SELECT cent_id, t.i AS i, avg(emb[t.i]) AS v, count(*) AS n
  FROM a2, range(1, 65) t(i) GROUP BY cent_id, t.i
),
c2 AS (
  SELECT cent_id, list(round(v, 9) ORDER BY i) AS cent,
         max(n) AS n_members
  FROM u2 GROUP BY cent_id
)"""

def _kmeans_sql(cent_where: str = "vec_id % 101 = 1") -> str:
    """Two-Lloyd-round k-means oracle over :func:`_kmeans_ctes`."""
    return f"""
WITH {_kmeans_ctes(cent_where)}
SELECT cent_id, n_members,
       md5(array_to_string(
         list_transform(cent, x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)),
         ',')) AS cent_digest
FROM c2"""

def _pca_sql(dim: int = 16, iters: int = 12) -> str:
    """Power-iteration PCA oracle: imports the SAME expression strings
    the engine executes (similarity._pca_terms) and wraps them in
    DuckDB CTEs — identical text, identical left-to-right evaluation,
    identical round() grids, so both engines walk bit-identical
    doubles. Only the dialect-specific pieces (1-based list indexing,
    ::DOUBLE element casts, count(*)::DOUBLE) are written here."""
    from ...operators.similarity import _pca_terms

    idx = range(dim)
    means, covs, rounds, ps, lam, score = _pca_terms(dim, iters)
    xs = ",\n         ".join(f"embedding[{i + 1}]::DOUBLE AS x{i}" for i in idx)
    sums = ", ".join(f"sum(x{i}) AS s{i}" for i in idx)
    grams = ", ".join(
        f"sum(x{i}*x{j}) AS g{i}_{j}" for i in idx for j in idx if j >= i
    )
    it_ctes = []
    prev = "cov"
    for it, (ws, nrm) in enumerate(rounds):
        it_ctes.append(f"ia{it} AS (SELECT *, {', '.join(ws)} FROM {prev})")
        it_ctes.append(f"ib{it} AS (SELECT *, {nrm} FROM ia{it})")
        prev = f"ib{it}"
    it_block = ",\n".join(it_ctes)
    ms = ", ".join(f"m{i}" for i in idx)
    return f"""
WITH x AS (
  SELECT vec_id, {xs}
  FROM embeddings WHERE len(embedding) >= {dim}
),
st AS (SELECT count(*)::DOUBLE AS n, {sums}, {grams} FROM x),
cov AS (SELECT n, {", ".join(means)}, {", ".join(covs)} FROM st),
{it_block},
comp AS (SELECT {ms}, {", ".join(ps)}, round({lam}, 6) AS lambda1 FROM {prev})
SELECT vec_id, round({score}, 6) AS pc1, lambda1
FROM x CROSS JOIN comp"""

def _pca_residual_sql(dim: int = 16, iters: int = 12) -> str:
    """ABTT-residual oracle: the same generated CTE walk as
    [[_pca_sql]] (identical expression text through covariance and all
    power iterations), then the residual expression — which, exactly
    like the engine side, references the ROUNDED pc1 column so both
    engines subtract the same projection."""
    from ...operators.similarity import _pca_terms

    idx = range(dim)
    means, covs, rounds, ps, lam, score = _pca_terms(dim, iters)
    xs = ",\n         ".join(f"embedding[{i + 1}]::DOUBLE AS x{i}" for i in idx)
    sums = ", ".join(f"sum(x{i}) AS s{i}" for i in idx)
    grams = ", ".join(
        f"sum(x{i}*x{j}) AS g{i}_{j}" for i in idx for j in idx if j >= i
    )
    it_ctes = []
    prev = "cov"
    for it, (ws, nrm) in enumerate(rounds):
        it_ctes.append(f"ia{it} AS (SELECT *, {', '.join(ws)} FROM {prev})")
        it_ctes.append(f"ib{it} AS (SELECT *, {nrm} FROM ia{it})")
        prev = f"ib{it}"
    it_block = ",\n".join(it_ctes)
    ms = ", ".join(f"m{i}" for i in idx)
    rexpr = "sqrt(" + " + ".join(
        f"(x{i} - m{i} - pc1*p{i})*(x{i} - m{i} - pc1*p{i})" for i in idx
    ) + ")"
    return f"""
WITH x AS (
  SELECT vec_id, {xs}
  FROM embeddings WHERE len(embedding) >= {dim}
),
st AS (SELECT count(*)::DOUBLE AS n, {sums}, {grams} FROM x),
cov AS (SELECT n, {", ".join(means)}, {", ".join(covs)} FROM st),
{it_block},
comp AS (SELECT {ms}, {", ".join(ps)} FROM {prev}),
proj AS (SELECT x.*, comp.*, round({score}, 6) AS pc1
         FROM x CROSS JOIN comp)
SELECT vec_id, pc1, round({rexpr}, 6) AS residual_norm
FROM proj"""

def _knn_ivf_sql(
    cent_where: str = "vec_id % 101 = 1",
    probe_where: str = "vec_id % 50 = 0",
    base_sql: str = "SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings",
) -> str:
    """IVF-flat oracle; ``cent_where`` picks the coarse index — the
    modulus default (C grows with N; the fixture form) or a
    fixed-size rule like ``vec_id < 32`` (constant C; the scale-honest
    registration ``knn_ivf_fixed``). ``probe_where`` picks the probe
    set — the %50 default's probe COUNT grows with N (injecting a
    probes*corpus/lists quadratic into fixture-scale measurements,
    NOTES_r07 §11); a constant rule like ``vec_id < 200`` models the
    production fixed query workload (the r8 registration candidate).
    ``base_sql`` overrides the corpus — the append registration passes
    the base∪increment union, which IS the equivalence statement: a
    from-scratch index over the union must equal the engine's
    incremental build (per-row assignment against fixed centroids)."""
    return f"""
WITH base AS ({base_sql}),
centroids AS (
  SELECT vec_id AS cent_id, emb AS cent_emb FROM base WHERE {cent_where}
),
scored AS (
  SELECT vec_id, emb, cent_id,
         list_dot_product(emb, cent_emb)
         / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(cent_emb, cent_emb))) AS cent_cos
  FROM base CROSS JOIN centroids
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cent_cos DESC, cent_id) AS crank
  FROM scored
),
lists AS (SELECT vec_id, emb, cent_id FROM ranked WHERE crank = 1),
probe_lists AS (
  SELECT vec_id AS probe_id, emb AS probe_emb, cent_id
  FROM ranked WHERE {probe_where} AND crank <= 2
),
cand AS (
  SELECT probe_id, l.vec_id AS neighbor_id,
         list_dot_product(probe_emb, l.emb)
         / (sqrt(list_dot_product(probe_emb, probe_emb)) * sqrt(list_dot_product(l.emb, l.emb))) AS cosine
  FROM lists l JOIN probe_lists p ON l.cent_id = p.cent_id
  WHERE l.vec_id <> p.probe_id
)
SELECT probe_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM cand)
WHERE rank <= 5"""

KNN_IVF_SQL = _knn_ivf_sql()

PQ_SEARCH_CTES = """base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
seeds AS (
  SELECT vec_id, code FROM (
    SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
    FROM base WHERE vec_id % 7 = 0) WHERE code < 64
),
vdim AS (
  SELECT vec_id, pos, pos // 4 AS sub, emb[pos + 1] AS v FROM (
    SELECT vec_id, emb, unnest(generate_series(0, 63)) AS pos FROM base)
),
cb0 AS (
  SELECT t.sub, s.code, t.pos, round(t.v, 9) AS c
  FROM vdim t JOIN seeds s USING (vec_id)
),
a_d AS (
  SELECT t.vec_id, t.sub, cb0.code,
         round(sum((t.v - cb0.c) * (t.v - cb0.c)), 9) AS d
  FROM vdim t JOIN cb0 ON cb0.sub = t.sub AND cb0.pos = t.pos
  GROUP BY t.vec_id, t.sub, cb0.code
),
assign AS (
  SELECT vec_id, sub, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
    FROM a_d) WHERE rn = 1
),
cb AS (
  SELECT t.sub, a.code, t.pos, round(avg(t.v), 9) AS c
  FROM vdim t JOIN assign a ON a.vec_id = t.vec_id AND a.sub = t.sub
  GROUP BY t.sub, a.code, t.pos
),
enc_d AS (
  SELECT t.vec_id, t.sub, cb.code,
         round(sum((t.v - cb.c) * (t.v - cb.c)), 9) AS d
  FROM vdim t JOIN cb ON cb.sub = t.sub AND cb.pos = t.pos
  GROUP BY t.vec_id, t.sub, cb.code
),
enc AS (
  SELECT vec_id, sub, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
    FROM enc_d) WHERE rn = 1
),
dtab AS (
  SELECT t.vec_id AS probe_id, t.sub, cb.code,
         round(sum((t.v - cb.c) * (t.v - cb.c)), 9) AS pd
  FROM vdim t JOIN cb ON cb.sub = t.sub AND cb.pos = t.pos
  WHERE t.vec_id % 50 = 0
  GROUP BY t.vec_id, t.sub, cb.code
),
adc AS (
  SELECT d.probe_id, e.vec_id AS neighbor_id, round(sum(d.pd), 9) AS adc_dist
  FROM enc e JOIN dtab d ON d.sub = e.sub AND d.code = e.code
  WHERE e.vec_id <> d.probe_id
  GROUP BY d.probe_id, e.vec_id
)"""

# IVF coarse routing bolted onto the PQ CTEs: shared by knn_ivf_pq and
# its recall contract (both f-strings append these after PQ_SEARCH_CTES)
IVF_ROUTE_CTES = """ivf_cent AS (
  SELECT vec_id AS cent_id, emb AS cent_emb FROM base WHERE vec_id % 101 = 1
),
ivf_scored AS (
  SELECT b.vec_id, c.cent_id,
         list_dot_product(b.emb, c.cent_emb)
         / (sqrt(list_dot_product(b.emb, b.emb))
            * sqrt(list_dot_product(c.cent_emb, c.cent_emb))) AS cent_cos
  FROM base b CROSS JOIN ivf_cent c
),
ivf_ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cent_cos DESC, cent_id) AS crank
  FROM ivf_scored
),
ivf_lists AS (SELECT vec_id, cent_id FROM ivf_ranked WHERE crank = 1),
ivf_probe AS (
  SELECT vec_id AS probe_id, cent_id
  FROM ivf_ranked WHERE vec_id % 50 = 0 AND crank <= 2
),
adc_ivf AS (
  SELECT d.probe_id, e.vec_id AS neighbor_id, round(sum(d.pd), 9) AS adc_dist
  FROM enc e
  JOIN ivf_lists l ON l.vec_id = e.vec_id
  JOIN ivf_probe p ON p.cent_id = l.cent_id
  JOIN dtab d ON d.sub = e.sub AND d.code = e.code AND d.probe_id = p.probe_id
  WHERE e.vec_id <> d.probe_id
  GROUP BY d.probe_id, e.vec_id
)"""

KNN_IVF_TRAINED_SQL = """
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
c0 AS (SELECT vec_id AS cent_id, emb AS cent FROM base WHERE vec_id % 101 = 1),
s1 AS (
  SELECT b.vec_id, b.emb, c.cent_id,
         round(list_sum([(b.emb[i] - c.cent[i]) * (b.emb[i] - c.cent[i])
                         for i in range(1, 65)]), 9) AS dist
  FROM base b CROSS JOIN c0 c
),
a1 AS (
  SELECT vec_id, emb, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cent_id) AS rn
    FROM s1) WHERE rn = 1
),
u1 AS (
  SELECT cent_id, t.i AS i, avg(emb[t.i]) AS v
  FROM a1, range(1, 65) t(i) GROUP BY cent_id, t.i
),
c1 AS (
  SELECT cent_id, list(round(v, 9) ORDER BY i) AS cent FROM u1 GROUP BY cent_id
),
s2 AS (
  SELECT b.vec_id, b.emb, c.cent_id,
         round(list_sum([(b.emb[i] - c.cent[i]) * (b.emb[i] - c.cent[i])
                         for i in range(1, 65)]), 9) AS dist
  FROM base b CROSS JOIN c1 c
),
a2 AS (
  SELECT vec_id, emb, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cent_id) AS rn
    FROM s2) WHERE rn = 1
),
u2 AS (
  SELECT cent_id, t.i AS i, avg(emb[t.i]) AS v
  FROM a2, range(1, 65) t(i) GROUP BY cent_id, t.i
),
trained AS (
  SELECT cent_id, list(round(v, 9) ORDER BY i) AS cent_emb
  FROM u2 GROUP BY cent_id
),
scored AS (
  SELECT vec_id, emb, cent_id,
         list_dot_product(emb, cent_emb)
         / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(cent_emb, cent_emb))) AS cent_cos
  FROM base CROSS JOIN trained
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cent_cos DESC, cent_id) AS crank
  FROM scored
),
lists AS (SELECT vec_id, emb, cent_id FROM ranked WHERE crank = 1),
probe_lists AS (
  SELECT vec_id AS probe_id, emb AS probe_emb, cent_id
  FROM ranked WHERE vec_id % 50 = 0 AND crank <= 2
),
cand AS (
  SELECT probe_id, l.vec_id AS neighbor_id,
         list_dot_product(probe_emb, l.emb)
         / (sqrt(list_dot_product(probe_emb, probe_emb)) * sqrt(list_dot_product(l.emb, l.emb))) AS cosine
  FROM lists l JOIN probe_lists p ON l.cent_id = p.cent_id
  WHERE l.vec_id <> p.probe_id
)
SELECT probe_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM cand)
WHERE rank <= 5"""

def q_knn_pq_recall(spark, sf_dir):
    """PQ quality contract (similarity.knn_pq_recall): recall@5 of the
    product-quantized search vs exact squared-L2 brute force as one
    hash-verified row with a meets_floor boolean — approximate-search
    QUALITY for the PQ family, mirroring knn_recall's contract for
    LSH/IVF."""
    return similarity.knn_pq_recall(load_table(spark, sf_dir, "embeddings"), k=5)

def q_knn_pq(spark, sf_dir):
    """Product-quantized ANN (similarity.knn_pq): deterministic PQ
    codebooks (16 subspaces x 64 codes over 64 dims — the m=16/64-code
    point of the §8 recall sweep), corpus encoded to 16 byte-codes per
    vector, probes scored by asymmetric distance tables — the
    memory-scale half of IVF-PQ. Recall vs exact L2 is pinned in
    pytest; the oracle replays the whole closed-form construction."""
    return similarity.knn_pq(load_table(spark, sf_dir, "embeddings"), k=5)

def q_knn_ivf_pq(spark, sf_dir):
    """The composed IVF-PQ index (similarity.knn_ivf_pq): coarse
    inverted-list routing (knn_ivf's assignment) restricting which
    byte-code rows each probe's broadcast ADC table scores (knn_pq's
    scoring) — the production serving-index shape where routing and
    compression compose multiplicatively. Oracle replays routing,
    training, encoding, and ADC end-to-end in SQL on the shared
    1e-9 grid."""
    return similarity.knn_ivf_pq(load_table(spark, sf_dir, "embeddings"), k=5)

def q_knn_lsh_planes8(spark, sf_dir):
    """The SCALE-SAFE sign-bit LSH registration (similarity.knn_lsh
    n_planes=8): 256 buckets instead of 16 — candidates per probe fall
    16x, the dial that took the sf0.1→sf1 ratio from 18.6x to 2.0x
    (NOTES_r05 §3, knob-verified; driver-hash-verified here). The
    4-plane default keeps more recall, but its 16 buckets leave an
    N^2/16 candidate term, so it is not registered; recall at 8
    planes is the documented cost of the bucket shrink.

    Re-planned r7 (verdict r6 item #3): 256 buckets over ~500 fixture
    vectors made the r6 driver row vacuous on QUALITY — recall vs
    random neighbors ≈ 0, so the hash certified bucketing but not
    that the index finds anything. The corpus now PLANTS an exact
    twin of every probe vector under vec_id + 1000001 (the shift
    keeps twins out of the probe set: % 50 == 1): identical sign
    bits collide in every bucketing, so each probe's twin is a
    guaranteed candidate and its cosine-1 rank-1 neighbor — the
    driver hash covers candidate generation, exact-cosine verify,
    and ranking on non-empty known-answer output (the
    embedding_dup_wide recipe); the planted-recall floor is pinned
    in tests/test_dedup_similarity.py."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    twins = emb.filter(F.col("vec_id") % 50 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_001)
    )
    return similarity.knn_lsh(emb.unionByName(twins), k=5, n_planes=8)

def q_knn_ivf_fixed(spark, sf_dir):
    """The SCALE-SAFE IVF registration (similarity.knn_ivf
    centroid_limit=32): a FIXED 32-centroid coarse index instead of
    the modulus rule's C = N/101 — assignment cost N*C becomes linear
    in N (the modulus form measured 75x at 10x data; fixed C is the
    production shape, where C is a capacity choice, not a corpus
    ratio). n_probe=2 of 32 lists => each probe scans ~1/16 of the
    corpus, and the inverted-list id is the partition key at scale."""
    return similarity.knn_ivf(
        load_table(spark, sf_dir, "embeddings"), k=5, centroid_limit=32
    )

def q_embedding_dup_wide(spark, sf_dir):
    """The SCALE-SAFE embedding near-dup registration
    (similarity.embedding_dup_pairs n_planes=32, bands=4 — 8-bit
    bands, 256 buckets/band): same banded sign-bit LSH + exact-cosine
    verify as embedding_dup_pairs, with candidate collisions ∝
    N²/2^8 per band instead of N²/2^4 — the knob NOTES_r05 §3
    measured taking the sf0.1→sf1 ratio from 52x to 3.5x, now
    driver-hash-verified with its own exact oracle (deterministic
    plane literals shared with the SQL). The 16-plane default (4-bit
    bands) finds more fixture pairs, but its N^2/2^4 collisions per
    band are quadratic at scale, so only this width is registered.

    The fixtures' planted cosine near-dups don't collide at 8-bit
    band width (the 16-plane default finds exactly 1 pair at
    sf0.01; this config finds none), so the corpus PLANTS exact twins
    of every 25th vector under shifted ids — identical sign bits make
    every band collide, cosine 1 survives the verify, and the driver
    row checks candidate generation AND verify on non-empty output
    instead of hashing an empty set."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    twins = emb.filter(F.col("vec_id") % 25 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_000)
    )
    return similarity.embedding_dup_pairs(
        emb.unionByName(twins), n_planes=32, bands=4
    )

def q_semantic_dup_components(spark, sf_dir):
    """Transitive semantic-dup GROUPS (r11): semantic_dedup_capped's
    dropped rows are (vec_id, dup_of) ATTRIBUTION EDGES — dup_of can
    itself be a dropped vector (its pair partner was a smaller id), so
    the actionable "keep one per duplicate group" set is the CONNECTED
    COMPONENT of the attribution graph, not the raw edge list, and
    nothing previously drove the detector and the CC together. This row
    composes the capped detector (same trained-32-seed index, planted
    +1M twins, max_cluster=12 — the form measured assignment-bound at
    sf10 where BOTH uncapped SemDeDup routes were >20 min stragglers)
    with the log-round star CC (dedup.connected_components_star), so
    every stage keeps its measured sub-linear shape: pair space ≤
    C·cap² regardless of skew, CC in O(log n) alternation rounds with
    per-round localCheckpoint. (The naive alternative — CC over global
    banded-LSH pairs — was measured this round to DIE at sf10: fixed
    8-bit bands leave a N²/2⁸ candidate term that is 9.8e10 pairs at
    5M vectors. Band width has to scale with N²; the capped
    within-cluster detector bounds the pair space structurally
    instead, which is why it is the registered composition.)
    Output: (vec_id, component_id = component-minimum id) for every
    vector touched by an attribution edge."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    twins = emb.filter(F.col("vec_id") % 25 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_000)
    )
    cents = similarity.kmeans_centroids(emb, iters=2, centroid_limit=32)
    dropped = similarity.semantic_dedup(
        emb.unionByName(twins), threshold=0.9, centroids=cents, max_cluster=12
    )
    edges = dropped.select(
        F.col("dup_of").alias("id_a"), F.col("vec_id").alias("id_b")
    )
    return dedup.connected_components_star(
        edges, id_a="id_a", id_b="id_b"
    ).select(
        F.col("doc_id").alias("vec_id"),
        F.col("cluster_id").alias("component_id"),
    )

def q_semantic_dedup_trained(spark, sf_dir):
    """The trained-centroid SemDeDup route (verdict r6 item #6) —
    the documented WEB-SCALE form: semantic_dedup's coarse index is
    the OUTPUT of kmeans_centroids (fixed K=32, two Lloyd rounds)
    instead of raw seed vectors, because refined centroids balance
    cluster sizes, which at corpus scale evens the per-cluster
    quadratic pair cost (the Σ|c|² bound is tightest when the |c|
    are equal). Same planted-twin corpus as semantic_dedup, so the
    driver hash verifies training → assignment → within-cluster
    pairing → drop attribution end-to-end on non-empty output. The
    oracle composes the _kmeans_ctes chain (both engines round
    centroid dims to the shared 1e-9 grid each Lloyd round, so the
    trained index is bit-identical) with the semantic-dedup replay."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    twins = emb.filter(F.col("vec_id") % 25 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_000)
    )
    cents = similarity.kmeans_centroids(emb, iters=2, centroid_limit=32)
    return similarity.semantic_dedup(
        emb.unionByName(twins), threshold=0.9, centroids=cents
    )

def q_semantic_dedup_capped(spark, sf_dir):
    """The CLUSTER-SKEW-safe SemDeDup registration (r8, measured
    motivation): at sf10 the trained route's within-cluster pair join
    serialized on ONE straggler task in BOTH the C=32 (>25 min,
    truncated) and C=320 (>20 min, truncated) configurations — this
    fixture's embedding distribution has a dominant mode, so the
    "refined centroids balance the lists" premise fails exactly where
    it matters and |c_max|² owns the wall clock. Same trained index
    and planted-twin corpus as semantic_dedup_trained, plus the
    max_cluster=12 deterministic member cap (BINDS at sf0.01, where
    trained clusters run up to 25 members — the capped output DIFFERS
    from the uncapped form, so the hash genuinely covers the guard): md5-priority WindowGroupLimit top-K per cluster —
    the ngram max_df / coin_pagerank_capped / host_cap guard family —
    bounds pair candidates to C·cap² regardless of skew. The driver
    hash pins the guard's exact semantics (priority, tie-break,
    superset-on-raise); measured at sf10: the capped form runs in
    assignment-bound time where both uncapped forms were truncated
    (NOTES_r08 §10)."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    twins = emb.filter(F.col("vec_id") % 25 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_000)
    )
    cents = similarity.kmeans_centroids(emb, iters=2, centroid_limit=32)
    return similarity.semantic_dedup(
        emb.unionByName(twins), threshold=0.9, centroids=cents, max_cluster=12
    )

def q_hybrid_retrieval_rrf(spark, sf_dir):
    """Hybrid retrieval (similarity.hybrid_retrieval_rrf): BM25 top-50
    and brute-cosine top-50 against the vec_id=0 embedding, fused by
    Reciprocal Rank Fusion 1/(60+rank) — the Elasticsearch-style
    hybrid-search composition over this engine's own lexical and
    vector arms. Each arm is TakeOrderedAndProject (no global sort);
    the rank windows run over the post-limit <=50-row frames."""
    return similarity.hybrid_retrieval_rrf(
        _documents(spark, sf_dir), load_table(spark, sf_dir, "embeddings")
    )

def q_pca_top_component(spark, sf_dir):
    """Distributed PCA (similarity.pca_top_component): top principal
    component of the first 16 embedding dims via ONE single-row
    covariance aggregate + a fixed unrolled power iteration + a
    broadcast projection pass — distributed linear algebra where the
    only corpus-wide shuffle carries d means + d(d+1)/2 Gram sums.
    The oracle (_pca_sql) replays covariance, the 1/sqrt(16) start
    vector, and all twelve normalized iterations expression-for-
    expression on the same rounding grid; the Rayleigh-quotient
    quality contract vs numpy's exact eigh is pinned in pytest."""
    return similarity.pca_top_component(
        load_table(spark, sf_dir, "embeddings"), dim=16, iters=12
    )

def q_knn_ivf_append(spark, sf_dir):
    """Incremental IVF maintenance (similarity.knn_ivf_append): the
    ingest batch — exact twins of every 25th vector under shifted ids,
    so probes verifiably find cosine-1.0 neighbors across the
    base/increment boundary — joins the STORED index (centroids fixed
    from the base, base lists materialized once) with increment-only
    assignment work. The oracle is the from-scratch IVF over the
    union, so the hash pins append ≡ full reindex."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    inc = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    return similarity.knn_ivf_append(emb, inc, centroid_limit=32)

def q_pca_residual(spark, sf_dir):
    """ABTT whitening (similarity.pca_residual_norms): remove the
    dominant direction pca_top_component finds and emit each vector's
    projection + residual norm — the embedding de-biasing step (Mu &
    Viswanath 2018) composed directly on the PCA primitive; still one
    single-row corpus aggregate + a broadcast map pass. The oracle
    replays the identical generated expressions including the
    rounded-pc1 subtraction."""
    return similarity.pca_residual_norms(
        load_table(spark, sf_dir, "embeddings"), dim=16, iters=12
    )

# shared by the semantic_dedup_capped entry and the r11
# semantic_dup_components composition (CC over the dropped edges)
SEMANTIC_DEDUP_CAPPED_SQL = f"""
WITH {_kmeans_ctes("vec_id < 32")},
corpus_raw AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, embedding::DOUBLE[]
  FROM embeddings WHERE vec_id % 25 = 0
),
corpus AS (
  SELECT vec_id, emb FROM corpus_raw
  WHERE sqrt(list_dot_product(emb, emb)) > 0
),
cents AS (SELECT cent_id, cent AS cent_emb FROM c2),
sd_scored AS (
  SELECT c.vec_id, c.emb, k.cent_id,
         list_dot_product(c.emb, k.cent_emb)
         / (sqrt(list_dot_product(c.emb, c.emb)) * sqrt(list_dot_product(k.cent_emb, k.cent_emb))) AS cent_cos
  FROM corpus c CROSS JOIN cents k
),
sd_ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cent_cos DESC, cent_id) AS crank
  FROM sd_scored
),
sd_assigned AS (SELECT vec_id, emb, cent_id FROM sd_ranked WHERE crank = 1),
sd_capped AS (
  SELECT vec_id, emb, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY cent_id
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS crk
    FROM sd_assigned) WHERE crk <= 12
),
sd_pairs AS (
  SELECT a.cent_id AS cluster_id, a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(a.emb, b.emb)
         / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) AS cosine
  FROM sd_capped a JOIN sd_capped b
    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
),
sd_dups AS (SELECT * FROM sd_pairs WHERE cosine >= 0.9),
sd_first AS (
  SELECT *, row_number() OVER (PARTITION BY id_b ORDER BY id_a) AS rn
  FROM sd_dups
)
SELECT id_b AS vec_id, cluster_id, id_a AS dup_of, cosine
FROM sd_first WHERE rn = 1"""

# DuckDB oracle SQL for this domain's registered queries —
# assembled (registration order restored) into plans.registry.ORACLES.
ORACLE_SQL: dict[str, str] = {
    # scale-safe width: 8-bit sign-LSH bands (52x -> 3.5x at 10x data);
    # exact twins planted so the hash covers non-empty candidate+verify
    "embedding_dup_wide": _embedding_dup_sql(
        n_planes=32,
        bands=4,
        base_sql=(
            "SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings"
            " UNION ALL SELECT vec_id + 1000000, embedding::DOUBLE[]"
            " FROM embeddings WHERE vec_id % 25 = 0"
        ),
    ),
    # trained-index SemDeDup: the _kmeans_ctes chain (c2 = trained
    # centroids, dims rounded to the shared 1e-9 grid per round) feeds
    # the same assignment/pair/drop replay as semantic_dedup
    "semantic_dedup_trained": f"""
WITH {_kmeans_ctes("vec_id < 32")},
corpus_raw AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, embedding::DOUBLE[]
  FROM embeddings WHERE vec_id % 25 = 0
),
corpus AS (
  SELECT vec_id, emb FROM corpus_raw
  WHERE sqrt(list_dot_product(emb, emb)) > 0
),
cents AS (SELECT cent_id, cent AS cent_emb FROM c2),
sd_scored AS (
  SELECT c.vec_id, c.emb, k.cent_id,
         list_dot_product(c.emb, k.cent_emb)
         / (sqrt(list_dot_product(c.emb, c.emb)) * sqrt(list_dot_product(k.cent_emb, k.cent_emb))) AS cent_cos
  FROM corpus c CROSS JOIN cents k
),
sd_ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cent_cos DESC, cent_id) AS crank
  FROM sd_scored
),
sd_assigned AS (SELECT vec_id, emb, cent_id FROM sd_ranked WHERE crank = 1),
sd_pairs AS (
  SELECT a.cent_id AS cluster_id, a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(a.emb, b.emb)
         / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) AS cosine
  FROM sd_assigned a JOIN sd_assigned b
    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
),
sd_dups AS (SELECT * FROM sd_pairs WHERE cosine >= 0.9),
sd_first AS (
  SELECT *, row_number() OVER (PARTITION BY id_b ORDER BY id_a) AS rn
  FROM sd_dups
)
SELECT id_b AS vec_id, cluster_id, id_a AS dup_of, cosine
FROM sd_first WHERE rn = 1""",
    # capped SemDeDup: identical chain + the md5-priority top-12
    # member cap per cluster (the guard the r8 sf10 straggler
    # measurement motivated; 12 BINDS at sf0.01 where clusters
    # reach 25 — a non-binding cap would be vacuous, ADVICE r8)
    "semantic_dedup_capped": SEMANTIC_DEDUP_CAPPED_SQL,
    # r11: dropped attribution edges -> log-round star CC -> transitive
    # dup groups labeled by the component minimum; the recursive
    # reachability mirrors the dup_clusters_star oracle structure over
    # the SAME capped-detector SQL
    "semantic_dup_components": (
        "WITH RECURSIVE dropped AS ("
        + SEMANTIC_DEDUP_CAPPED_SQL
        + """
),
edges AS (
  SELECT dup_of AS a, vec_id AS b FROM dropped
  UNION ALL
  SELECT vec_id AS a, dup_of AS b FROM dropped
),
reach(node, r) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges) n
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
)
SELECT node AS vec_id, min(r) AS component_id FROM reach GROUP BY node"""
    ),
    # scale-safe seed rule: fixed K=32 (the modulus rule makes
    # K = N/101, i.e. N^2 assignment — measured 53x at 10x data)
    "kmeans_centroids_fixed": _kmeans_sql("vec_id < 32"),
    "knn_quantized": """
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS raw FROM embeddings),
m AS (SELECT vec_id, raw,
             list_max(list_transform(raw, x -> abs(x))) AS mx FROM base),
q AS (
  SELECT vec_id,
         list_transform(raw,
           x -> CAST(floor(x * (127.0 / mx) + 0.5) AS BIGINT)) AS q
  FROM m WHERE mx > 0
),
sized AS (SELECT vec_id, q, list_dot_product(q, q) AS n FROM q),
probes AS (SELECT vec_id AS probe_id, q AS q_p, n AS np
           FROM sized WHERE vec_id % 50 = 0),
scored AS (
  SELECT probe_id, vec_id AS neighbor_id,
         list_dot_product(q, q_p)
           / (sqrt(n::DOUBLE) * sqrt(np::DOUBLE)) AS cosine_q8
  FROM sized CROSS JOIN probes WHERE vec_id <> probe_id
)
SELECT probe_id, neighbor_id, cosine_q8, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY cosine_q8 DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= 5""",
    "embedding_normalize": """
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS raw FROM embeddings),
n AS (SELECT vec_id, raw, sqrt(list_dot_product(raw, raw)) AS l2 FROM base)
SELECT vec_id, round(l2, 7) AS l2_norm,
       CASE WHEN l2 > 0 THEN md5(array_to_string(
         list_transform(raw, x -> CAST(floor(x / l2 * 1000000 + 0.5) AS BIGINT)),
         ',')) END AS emb_digest
FROM n""",
    "embedding_quantize": """
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS raw FROM embeddings),
m AS (SELECT vec_id, raw,
             list_max(list_transform(raw, x -> abs(x))) AS mx FROM base)
SELECT vec_id,
       CASE WHEN mx > 0 THEN round(127.0 / mx, 7) END AS scale,
       CASE WHEN mx > 0 THEN md5(array_to_string(
         list_transform(raw,
           x -> CAST(CAST(floor(x * (127.0 / mx) + 0.5) AS INTEGER) AS VARCHAR)),
         ',')) END AS q_digest
FROM m""",
    "knn_brute_vectorized": _knn_sql(bucketed=False, round_decimals=9),
    "knn_lsh_multiprobe": _knn_sql(bucketed=True, multiprobe=True),
    # scale-safe configurations (r5 verdict item #2): fixed-C coarse
    # index / 256-bucket LSH, each with its own exact oracle
    "knn_ivf_fixed": _knn_ivf_sql("vec_id < 32"),
    # fixed C AND fixed probes — the production shape; the fixture's
    # %50 probe rule (probe count ∝ N) stays on the other entries
    "knn_ivf_full_fixed": _knn_ivf_sql("vec_id < 32", "vec_id < 200"),
    "knn_lsh_planes8": _knn_sql(bucketed=True, n_planes=8, plant_shift=1_000_001),
    # recall@5 of each approximate index vs brute truth — floors must
    # stay in sync with similarity.knn_recall's defaults
    "knn_recall": f"""
WITH truth AS ({_knn_sql(bucketed=False)}),
lsh AS ({_knn_sql(bucketed=True)}),
lsh_mp AS ({_knn_sql(bucketed=True, multiprobe=True)}),
ivf AS ({KNN_IVF_SQL}),
t AS (SELECT count(*) AS n_truth FROM truth),
hits AS (
  SELECT 'lsh' AS method,
         (SELECT count(*) FROM truth x JOIN lsh a
            ON a.probe_id = x.probe_id AND a.neighbor_id = x.neighbor_id) AS n_hits,
         0.10 AS fl
  UNION ALL
  SELECT 'lsh_mp',
         (SELECT count(*) FROM truth x JOIN lsh_mp a
            ON a.probe_id = x.probe_id AND a.neighbor_id = x.neighbor_id),
         0.30
  UNION ALL
  SELECT 'ivf',
         (SELECT count(*) FROM truth x JOIN ivf a
            ON a.probe_id = x.probe_id AND a.neighbor_id = x.neighbor_id),
         0.40
)
SELECT method, n_truth, n_hits::BIGINT AS n_hits,
       CASE WHEN n_truth > 0 THEN round(n_hits * 1.0 / n_truth, 6) END AS recall_at_k,
       coalesce(CASE WHEN n_truth > 0
                     THEN round(n_hits * 1.0 / n_truth, 6) >= fl END,
                FALSE) AS meets_floor
FROM hits, t""",
    # The full PQ construction replayed in SQL: codebook means, argmin
    # encode (ties by code), ADC tables, top-k (ties by neighbor).
    # Same 1e-9 rounding grid at the same three points as the engine.
    "knn_pq_recall": f"""
WITH {PQ_SEARCH_CTES},
pq AS (
  SELECT probe_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY probe_id
                                 ORDER BY adc_dist, neighbor_id) AS rank
    FROM adc) WHERE rank <= 5
),
pr AS (SELECT vec_id AS probe_id, emb AS p FROM base WHERE vec_id % 50 = 0),
sc AS (
  SELECT pr.probe_id, b.vec_id AS neighbor_id,
         round(list_dot_product(b.emb, b.emb) + list_dot_product(pr.p, pr.p)
               - 2 * list_dot_product(pr.p, b.emb), 9) AS l2
  FROM base b CROSS JOIN pr WHERE b.vec_id <> pr.probe_id
),
truth AS (
  SELECT probe_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY l2, neighbor_id) AS rank
    FROM sc) WHERE rank <= 5
),
agg AS (
  SELECT (SELECT count(*) FROM truth t JOIN pq USING (probe_id, neighbor_id)) AS n_hits,
         (SELECT count(DISTINCT probe_id) FROM truth) AS n_probes
)
SELECT 'pq' AS method, n_probes::BIGINT AS n_probes, n_hits::BIGINT AS n_hits,
       round(n_hits / (5.0 * n_probes), 6) AS recall_at_k,
       round(n_hits / (5.0 * n_probes), 6) >= 0.30 AS meets_floor
FROM agg""",
    "knn_pq": f"""
WITH {PQ_SEARCH_CTES}
SELECT probe_id, neighbor_id, adc_dist, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY adc_dist, neighbor_id) AS rank
  FROM adc) WHERE rank <= 5""",
    # IVF routing (the knn_ivf oracle's cosine coarse assignment) bolted
    # onto the PQ training/encode/ADC CTEs; the full-corpus `adc` CTE in
    # PQ_SEARCH_CTES goes unreferenced here and is never evaluated
    "knn_ivf_pq": f"""
WITH {PQ_SEARCH_CTES},
{IVF_ROUTE_CTES}
SELECT probe_id, neighbor_id, adc_dist, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY adc_dist, neighbor_id) AS rank
  FROM adc_ivf) WHERE rank <= 5""",
    "knn_ivf_pq_recall": f"""
WITH {PQ_SEARCH_CTES},
{IVF_ROUTE_CTES},
ivfpq AS (
  SELECT probe_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY probe_id
                                 ORDER BY adc_dist, neighbor_id) AS rank
    FROM adc_ivf) WHERE rank <= 5
),
pr AS (SELECT vec_id AS probe_id, emb AS p FROM base WHERE vec_id % 50 = 0),
sc AS (
  SELECT pr.probe_id, b.vec_id AS neighbor_id,
         round(list_dot_product(b.emb, b.emb) + list_dot_product(pr.p, pr.p)
               - 2 * list_dot_product(pr.p, b.emb), 9) AS l2
  FROM base b CROSS JOIN pr WHERE b.vec_id <> pr.probe_id
),
truth AS (
  SELECT probe_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY l2, neighbor_id) AS rank
    FROM sc) WHERE rank <= 5
),
agg AS (
  SELECT (SELECT count(*) FROM truth t JOIN ivfpq USING (probe_id, neighbor_id)) AS n_hits,
         (SELECT count(DISTINCT probe_id) FROM truth) AS n_probes
)
SELECT 'ivf_pq' AS method, n_probes::BIGINT AS n_probes, n_hits::BIGINT AS n_hits,
       round(n_hits / (5.0 * n_probes), 6) AS recall_at_k,
       round(n_hits / (5.0 * n_probes), 6) >= 0.10 AS meets_floor
FROM agg""",
    "knn_ivf_trained": KNN_IVF_TRAINED_SQL,
    # RRF fusion of the BM25 replay (shared _BM25_SQL, nested WITH) and
    # the brute-cosine arm (list_dot_product idiom of the knn oracles);
    # ranks are row_number over (score DESC, id) AFTER each arm's
    # LIMIT 50, mirroring the engine's post-TakeOrdered rank window
    "hybrid_retrieval_rrf": f"""
WITH lex_all AS ({_BM25_SQL}),
lex AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
  FROM (SELECT * FROM lex_all ORDER BY bm25 DESC, doc_id LIMIT 50)
),
emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings),
probe AS (SELECT emb AS probe_emb FROM emb WHERE vec_id = 0),
cos AS (
  SELECT vec_id,
         list_dot_product(probe_emb, emb)
         / (sqrt(list_dot_product(probe_emb, probe_emb)) * sqrt(list_dot_product(emb, emb))) AS cosine
  FROM emb, probe WHERE vec_id <> 0
),
vec AS (
  SELECT vec_id, row_number() OVER (ORDER BY cosine DESC, vec_id) AS vec_rank
  FROM (SELECT * FROM cos ORDER BY cosine DESC, vec_id LIMIT 50)
),
f AS (
  SELECT coalesce(l.doc_id, v.vec_id) AS doc_id, l.lex_rank, v.vec_rank
  FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.vec_id
)
SELECT doc_id, lex_rank::INT AS lex_rank, vec_rank::INT AS vec_rank,
       round(coalesce(1.0 / (60 + lex_rank), 0) + coalesce(1.0 / (60 + vec_rank), 0), 6)
         AS rrf_score
FROM f""",
    # power-iteration PCA: generated, mirrored expression-for-expression
    "pca_top_component": _pca_sql(dim=16, iters=12),
    # ABTT residuals: same generated walk + rounded-pc1 subtraction
    "pca_residual": _pca_residual_sql(dim=16, iters=12),
    # incremental IVF: from-scratch oracle over the union pins
    # append == full reindex (assignment is per-row deterministic)
    "knn_ivf_append": _knn_ivf_sql(
        cent_where="vec_id < 32",
        base_sql=(
            "SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings"
            " UNION ALL SELECT vec_id + 1000000, embedding::DOUBLE[]"
            " FROM embeddings WHERE vec_id % 25 = 0"
        ),
    ),
}
