"""Corpus-curation compositions: splits, samplers (incl. DSIR
Gumbel top-k), sequence/token packing, and the end-to-end curation
pipelines (v1/v2/v3) whose oracles compose sibling-domain fragments.

Split verbatim from plans/registry.py (r11 verdict item #2); the
facade registry module re-exports every name and asserts the
assembled surface is byte-identical to the pre-split snapshot.
"""

from __future__ import annotations

from ...operators import classifier, corpus
from ...operators import sampling
from ...operators.classifier import (
    QCLF_BUCKETS,
    QCLF_ITERS,
    QCLF_LEN_SCALE,
    QCLF_LR,
    QCLF_SALT,
)
from .common import (
    _materialize_ctes,
    QUALITY_GATE,
    _documents,
    quality_sum_ws_sql,
    split_bucket_sql,
    split_case_from_bucket_sql,
    split_case_sql,
    split_holdout_pred_sql,
    split_train_pred_sql,
)
from .dedup import _leakage_safe_split_sql, _minhash_lsh_parts
from .text import NORM_TEXT_SQL, STOPWORDS_SQL, WORDS_SQL, _bpe_encode_ctes

def q_curation_pipeline(spark, sf_dir):
    """The composed end-to-end corpus pipeline: quality gate -> exact
    dedup -> deterministic split -> decontamination -> per-(split,
    lang) manifest. One registered query proving the operators compose
    as DataFrames. The operator caches the (dimension-sized) deduped
    corpus across the pipeline's three consumers — the in-session
    stand-in for the stage-materialization boundary the operator
    docstring prescribes at 100 TB."""
    return corpus.curation_pipeline(_documents(spark, sf_dir))

def q_dataset_split(spark, sf_dir):
    """Deterministic train/val/test split by content hash: counts per
    (split, lang) — the reproducible-split primitive for training
    corpora (same key => same split across runs and engines)."""
    from pyspark.sql import functions as F

    return (
        sampling.train_val_test_split(_documents(spark, sf_dir), "doc_id")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"))
    )

def q_deterministic_sample(spark, sf_dir):
    """Hash-threshold 10% sample of documents — reproducible and
    consistent (kept keys stay kept when the fraction grows)."""
    return sampling.deterministic_sample(
        _documents(spark, sf_dir), "doc_id", 0.1
    ).select("doc_id", "lang", "n_chars")

def _bpe_pack_sql(rounds: int = 3, budget: int = 512) -> str:
    """Oracle for [[q_bpe_pack]]: the trained-tokenizer token counts
    ([[_bpe_encode_ctes]]) fed through the pack_chunks cumsum — the
    same shard-local window / chunk-range arithmetic as the
    ``pack_chunks`` oracle with n_tokens_bpe as the budget unit.
    Documents with no words are absent from ``enc`` (the word explode
    drops them) and re-enter with 0 tokens via the LEFT join, exactly
    like the engine's coalesce."""
    return (
        _bpe_encode_ctes(rounds)
        + f""",
t AS (
  SELECT d.doc_id, d.source,
         coalesce(e.n_tokens_bpe, 0)::BIGINT AS n_tokens_bpe
  FROM documents d LEFT JOIN enc e ON d.doc_id = e.doc_id
),
c AS (
  SELECT *, sum(n_tokens_bpe) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING)::BIGINT AS end_tokens
  FROM t
)
SELECT doc_id, source, n_tokens_bpe,
       (CASE WHEN n_tokens_bpe > 0
             THEN (end_tokens - n_tokens_bpe) // {budget} END)::BIGINT AS first_chunk,
       (CASE WHEN n_tokens_bpe > 0 THEN (end_tokens - 1) // {budget} END)::BIGINT AS last_chunk,
       (CASE WHEN n_tokens_bpe > 0
             THEN (end_tokens - 1) // {budget} - (end_tokens - n_tokens_bpe) // {budget} + 1
             ELSE 0 END)::BIGINT AS n_chunks
FROM c"""
    )

# Per-language sampling rates for the registered stratified sample:
# heavy downsample of the majority language, full keep of a minority
# one, and implicit drop of strata not listed (zh).
STRATA_FRACTIONS = {"en": 0.05, "de": 0.25, "es": 0.5, "fr": 1.0}

PACK_STRIDE = 256

PACK_BUDGET = 512

def _strata_case_sql() -> str:
    """Threshold when-chain for the stratified-sample oracle, derived
    from STRATA_FRACTIONS so query and oracle can never drift."""
    whens = " ".join(
        f"WHEN '{s}' THEN {round(f * 10000)}"
        for s, f in sorted(STRATA_FRACTIONS.items())
    )
    return f"CASE lang {whens} ELSE 0 END"

def q_stratified_sample(spark, sf_dir):
    """Per-stratum deterministic sampling: rebalance the corpus by
    language with content-hash thresholds (map-only, reproducible)."""
    return corpus.stratified_sample(
        _documents(spark, sf_dir), "doc_id", "lang", STRATA_FRACTIONS
    ).select("doc_id", "lang", "source")

def q_pack_chunks(spark, sf_dir):
    """Concat-and-chunk token packing manifest per source shard
    (budget 512 regex tokens per context window)."""
    return corpus.pack_chunks(_documents(spark, sf_dir), budget=PACK_BUDGET)

def q_pack_chunks_overlap(spark, sf_dir):
    """Sliding-window (RAG-style) packing manifest: budget 512, stride
    256 — each document lists every overlapping window it touches."""
    return corpus.pack_chunks(
        _documents(spark, sf_dir), budget=PACK_BUDGET, stride=PACK_BUDGET // 2
    )

def q_leakage_safe_split(spark, sf_dir):
    """Near-duplicate-aware train/val/test split
    (sampling.leakage_safe_split, r9): every doc in a near-dup
    CLUSTER (log-round star CC over the MinHash-LSH verified pair
    graph) gets the SAME md5-bucket split, so an eval doc can never
    have a near-copy in train — the contamination mode a doc_id-keyed
    split cannot prevent. md5 hash family so the oracle replays the
    pair graph bit-for-bit (the xxhash64 production family keeps its
    recall pins in pytest); the oracle replays CC as recursive
    reachability and the split as the same md5 threshold."""
    return sampling.leakage_safe_split(
        _documents(spark, sf_dir), hash_family="md5"
    )

def q_mixture_sample(spark, sf_dir):
    """Temperature-weighted source mixing (sampling.mixture_sample):
    the fixture's sources are uniform, so the query derives a skewed
    60/30/10 source split from doc_id first — small sources must come
    out up-weighted (higher accept rate) vs proportional sampling."""
    from pyspark.sql import functions as F

    docs = _documents(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 10 < 6, F.lit("web"))
        .when(F.col("doc_id") % 10 < 9, F.lit("books"))
        .otherwise(F.lit("code"))
        .alias("mix_source"),
    )
    return sampling.mixture_sample(
        docs, group_col="mix_source", key="doc_id", budget_frac=0.5
    )

def q_curation_pipeline_v2(spark, sf_dir):
    """Composed round-5 curation (corpus.curation_pipeline_v2): Gopher
    gate -> span dedup -> exact dedup on the post-span text ->
    temperature mixture -> per-source manifest. The oracle replays
    every stage in one SQL chain."""
    return corpus.curation_pipeline_v2(_documents(spark, sf_dir))

def q_bpe_pack(spark, sf_dir):
    """Token-budget packing under the TRAINED tokenizer
    (corpus.pack_chunks_bpe — r9 verdict item #5): [[q_pack_chunks]]'
    manifest with [[q_bpe_encode]]'s exact per-document token counts
    as the budget unit, closing the BPE family end-to-end — train →
    encode → pack is the pipeline a pretraining run ships. Budget 512
    trained-tokenizer tokens per context window, disjoint; the oracle
    composes the training/encode CTE chain with the pack_chunks
    cumsum structurally ([[_bpe_pack_sql]])."""
    return corpus.pack_chunks_bpe(
        _documents(spark, sf_dir), rounds=3, budget=PACK_BUDGET
    )

def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (sampling.dsir_weights, arXiv:2302.03169):
    hashed-unigram bucket LM ratio of the corpus's own lang='en' slice
    vs the raw corpus, add-1 smoothed over 256 md5 buckets — the
    data-selection scorer that tilts a crawl toward a curated target
    without training a classifier. Bucket counts are windows over the
    exploded stream; the 1-row totals frame joins broadcast."""
    return sampling.dsir_weights(_documents(spark, sf_dir))

def q_dsir_sample(spark, sf_dir):
    """DSIR importance RESAMPLING (sampling.dsir_sample, r10 — the
    step that completes arXiv:2302.03169's recipe): top-200 documents
    by log_weight + deterministic Gumbel noise (hash_unit of doc_id —
    2^32-level md5 noise since the ADVICE r10 widening), i.e. a
    k-sample without replacement proportional to exp(log_weight)
    (hash-quantized) that replays bit-for-bit in SQL. The draw is a
    map-side key + TakeOrdered (orderBy().limit — per-partition
    top-k, no global sort); the weights chain is [[q_dsir_weights]]'.
    The driver hash covers the weights, the Gumbel arithmetic, and
    the selection boundary."""
    return sampling.dsir_sample(_documents(spark, sf_dir), k=200)

def q_curation_pipeline_v3(spark, sf_dir):
    """The end-to-end pretraining pipeline (corpus.curation_pipeline_v3,
    r10 verdict item #3): quality gate -> MinHash-LSH near-dup dedup
    (md5 family) -> deterministic split (cluster-keyed via the
    canonical survivor) -> shingle decontamination -> DSIR Gumbel
    top-k resample (k=200) -> token-true BPE packing of the selected
    train corpus (tokenizer trained on the selection itself). The
    driver hash covers every stage boundary: a change in any gate,
    pair, split, contamination verdict, importance weight, merge
    table, or chunk edge moves the output. The oracle composes the
    SAME generated parts as the per-stage oracles
    ([[_minhash_lsh_parts]], [[_dsir_scored_parts]],
    [[_bpe_encode_ctes]]) re-pointed at the upstream CTEs."""
    return corpus.curation_pipeline_v3(_documents(spark, sf_dir))

# DSIR scored-weights CTE chain (shared by dsir_weights and the
# Gumbel top-k resampler dsir_sample — the parts posture)
def _dsir_scored_parts(source: str = "documents") -> str:
    """The DSIR hashed-unigram scoring chain (toks..scored) WITHOUT the
    WITH prefix, parameterized on the corpus source so composed oracles
    ([[_curation_v3_sql]]) can score an upstream CTE; the module-level
    ``DSIR_SCORED_CTES`` below keeps the rendered default
    byte-identical."""
    return rf"""toks AS (
  SELECT doc_id, lang = 'en' AS tgt,
         list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w <> '') AS ws
  FROM {source}
),
d AS (SELECT doc_id, tgt, ws FROM toks WHERE len(ws) > 0),
occ AS (
  SELECT doc_id, tgt,
         (('0x' || substr(md5('dsir' || w), 1, 8))::UBIGINT % 256)::BIGINT AS b
  FROM (SELECT doc_id, tgt, unnest(ws) AS w FROM d)
),
counted AS (
  SELECT doc_id, b,
         count(*) OVER (PARTITION BY b) AS n_raw,
         sum(CASE WHEN tgt THEN 1 ELSE 0 END) OVER (PARTITION BY b) AS n_tgt
  FROM occ
),
totals AS (
  SELECT count(*) AS t_raw, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS t_tgt FROM occ
),
scored AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens,
         round(sum(ln((n_tgt + 1) / (t_tgt + 256))
                   - ln((n_raw + 1) / (t_raw + 256))), 6) AS log_weight
  FROM counted, totals
  GROUP BY doc_id
)"""

DSIR_SCORED_CTES = "\nWITH " + _dsir_scored_parts()

# _materialize_ctes moved to oracles/common.py (r14: the media-domain
# composed oracles need it too, and media importing corpus at module
# top would cycle through corpus's import-time ORACLE_SQL rendering).

def _curation_tail_sql(k: int = 200, rounds: int = 3, budget: int = 512) -> str:
    """Stages 2-6 of the composed pipeline oracle (near-dup pair
    graph -> recursive star-CC -> canonical survivors -> md5-bucket
    split -> capped-shingle decontamination -> DSIR Gumbel top-k ->
    BPE train/encode/pack) -- the tail [[_curation_v3_sql]] and
    [[_curation_v4_sql]] share VERBATIM, mirroring the engine's
    shared corpus._curation_stages. Expects an upstream CTE ``q``
    with (doc_id, text, lang, source); the caller wraps the result
    in WITH RECURSIVE and applies _materialize_ctes over
    _CURATION_TAIL_MATERIALIZE (which includes the gate CTE q)."""
    mh_ctes, mh_select = _minhash_lsh_parts(source="q")
    assert mh_ctes.startswith("WITH ")
    mh_ctes = mh_ctes[len("WITH ") :]
    return f"""{mh_ctes},
pairs AS (
{mh_select}
),
edges AS (
  SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
  UNION ALL
  SELECT doc_id_b AS a, doc_id_a AS b FROM pairs
),
reach(node, r) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges) n
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
),
comp AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
surv AS (
  SELECT q.doc_id, q.text, q.lang, q.source
  FROM q LEFT JOIN comp ON q.doc_id = comp.doc_id
  WHERE comp.cluster_id IS NULL OR comp.cluster_id = q.doc_id
),
spl AS (
  SELECT doc_id,
         {split_case_sql("doc_id")} AS split
  FROM surv
),
cpost AS (SELECT sh.doc_id, unnest(sh.shingles) AS sg
          FROM sh JOIN surv ON sh.doc_id = surv.doc_id),
csp AS (SELECT cpost.doc_id, cpost.sg, spl.split
        FROM cpost JOIN spl ON cpost.doc_id = spl.doc_id),
ckept AS (SELECT sg FROM csp GROUP BY sg HAVING count(*) <= 100),
cfp AS (SELECT csp.doc_id, csp.sg, csp.split FROM csp JOIN ckept USING (sg)),
ctr AS (SELECT doc_id, sg FROM cfp WHERE split = 'train'),
ctst AS (SELECT doc_id AS tdoc, sg FROM cfp WHERE split = 'test'),
csizes AS (SELECT doc_id, count(*) AS n_sh FROM ctr GROUP BY doc_id),
chits AS (
  SELECT ctr.doc_id, count(DISTINCT ctr.sg) AS n_hit
  FROM ctr JOIN ctst USING (sg) GROUP BY ctr.doc_id
),
contaminated AS (
  SELECT chits.doc_id FROM chits JOIN csizes USING (doc_id)
  WHERE n_hit::DOUBLE / n_sh >= 0.5
),
train_clean AS (
  SELECT surv.* FROM surv JOIN spl ON surv.doc_id = spl.doc_id
  WHERE spl.split = 'train'
    AND surv.doc_id NOT IN (SELECT doc_id FROM contaminated)
),
{_dsir_scored_parts("train_clean")},
g AS (
  SELECT doc_id,
         round(log_weight
               + -ln(-ln((('0x' || substr(md5('gumbel' || doc_id::VARCHAR), 1, 8))::BIGINT
                          + 0.5) / 4294967296)), 6) AS gumbel_key
  FROM scored
),
sel AS (SELECT doc_id FROM g ORDER BY gumbel_key DESC, doc_id LIMIT {k}),
selected AS (
  SELECT train_clean.doc_id, train_clean.text, train_clean.source
  FROM train_clean JOIN sel ON train_clean.doc_id = sel.doc_id
),
{_bpe_encode_ctes(rounds, source="selected", with_prefix="")},
pt AS (
  SELECT sd.doc_id, sd.source,
         coalesce(e.n_tokens_bpe, 0)::BIGINT AS n_tokens_bpe
  FROM selected sd LEFT JOIN enc e ON sd.doc_id = e.doc_id
),
pc AS (
  SELECT *, sum(n_tokens_bpe) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING)::BIGINT AS end_tokens
  FROM pt
)
SELECT doc_id, source, n_tokens_bpe,
       (CASE WHEN n_tokens_bpe > 0
             THEN (end_tokens - n_tokens_bpe) // {budget} END)::BIGINT AS first_chunk,
       (CASE WHEN n_tokens_bpe > 0 THEN (end_tokens - 1) // {budget} END)::BIGINT AS last_chunk,
       (CASE WHEN n_tokens_bpe > 0
             THEN (end_tokens - 1) // {budget} - (end_tokens - n_tokens_bpe) // {budget} + 1
             ELSE 0 END)::BIGINT AS n_chunks
FROM pc"""

# the stage CTEs every composed-pipeline oracle pins AS MATERIALIZED
# (see _materialize_ctes); the gate CTE q is first
_CURATION_TAIL_MATERIALIZE = (
    "q",
    "sh",
    "sig",
    "cand",
    "surv",
    "spl",
    "train_clean",
    "scored",
    "selected",
    "enc",
)

def _curation_v3_sql(k: int = 200, rounds: int = 3, budget: int = 512) -> str:
    """Oracle for [[q_curation_pipeline_v3]] — the end-to-end
    pretraining pipeline composed from the SAME generated parts as the
    per-stage oracles, each re-pointed at its upstream CTE: quality
    gate (the curation_pipeline qw/q pair) -> [[_minhash_lsh_parts]]
    over ``q`` -> recursive star-CC (the leakage_safe_split pattern)
    -> canonical-survivor filter -> md5-bucket split -> capped-shingle
    decontamination (reusing the minhash ``sh`` shingles, restricted
    to survivors) -> [[_dsir_scored_parts]] over ``train_clean`` +
    the wide-hash Gumbel top-{k} -> [[_bpe_encode_ctes]] trained and
    encoded over ``selected`` -> the pack cumsum tail. Every stage is
    bit-exact vs the engine (established per stage by the
    leakage_safe_split / contamination / dsir_sample / bpe_pack
    driver rows)."""
    sql = f"""
WITH RECURSIVE qw AS (
  SELECT doc_id, text, lang, source, {WORDS_SQL} AS ws FROM documents
),
q AS (
  SELECT doc_id, text, lang, source FROM (
    SELECT doc_id, text, lang, source,
      {quality_sum_ws_sql(STOPWORDS_SQL)} AS quality
    FROM qw
  ) WHERE quality >= {QUALITY_GATE}
),
{_curation_tail_sql(k, rounds, budget)}"""
    return _materialize_ctes(sql, _CURATION_TAIL_MATERIALIZE)

# ---------------------------------------------------------------------------
# Trained quality classifier (r11 verdict item #3): oracle CTE
# generators replaying classifier.train_quality_classifier's K
# full-batch balanced-logistic gradient rounds bit-exactly (margins /
# probabilities / weights rounded to the 1e-9 grid each round, exact
# IEEE feature arithmetic — see the operator module docstring).
# ---------------------------------------------------------------------------

# the md5-bucket train filter (sampling.train_val_test_split's 'train'
# slice) applied INSIDE the lab source subquery — the shared
# common.split_* constants (r12 verdict item #2)
QCLF_TRAIN_WHERE = f"\n      WHERE {split_train_pred_sql('doc_id')}"


def _qclf_bucket_sql(expr: str, buckets: int, salt: str) -> str:
    """hash_bucket twin: first-8-hex md5 value mod buckets."""
    return (
        f"(('0x' || substr(md5('{salt}' || {expr}), 1, 8))::UBIGINT"
        f" % {buckets})::BIGINT"
    )


def _qclf_lab_sql(source: str = "documents", where: str = "") -> str:
    """(doc_id, n, ws, y): tokenized docs with >= 1 token and the
    with_quality teacher label — the quality CASE chain is the same
    battery the heuristic oracles use, composed >= 0.7. The len(ws)>0
    guards of the standalone forms are superfluous here (the outer
    WHERE already drops empty docs)."""
    return f"""(
  SELECT doc_id, len(ws) AS n, ws,
         {quality_sum_ws_sql(STOPWORDS_SQL, guarded=False)} >= {QUALITY_GATE} AS y
  FROM (SELECT doc_id, {WORDS_SQL} AS ws FROM {source}{where})
  WHERE len(ws) > 0
)"""


def _qclf_feats_sql(
    lab: str,
    buckets: int = QCLF_BUCKETS,
    salt: str = QCLF_SALT,
    len_scale: int = QCLF_LEN_SCALE,
) -> str:
    """classifier.hashed_features twin: hashed-unigram TF cells + bias
    (b = buckets, x = 1) + exact-rational length feature
    (b = buckets + 1, x = n / (n + len_scale))."""
    b = _qclf_bucket_sql("w", buckets, salt)
    return f"""(
  SELECT doc_id, {b} AS b,
         count(*)::DOUBLE / n AS x
  FROM (SELECT doc_id, n, unnest(ws) AS w FROM {lab})
  GROUP BY doc_id, n, {b}
  UNION ALL SELECT doc_id, {buckets}::BIGINT AS b, 1.0 AS x FROM {lab}
  UNION ALL SELECT doc_id, {buckets + 1}::BIGINT AS b,
                   n::DOUBLE / (n + {len_scale})::DOUBLE AS x FROM {lab}
)"""


def _qclf_parts(
    source: str = "documents",
    train_where: str = "",
    iters: int = QCLF_ITERS,
    lr: float = QCLF_LR,
    buckets: int = QCLF_BUCKETS,
) -> str:
    """The training chain (qc_lab .. qc_w{iters}) WITHOUT the WITH
    prefix: label + features + balanced class weights, then per round
    the margin aggregate (qc_m), weighted error (qc_e), bucket-keyed
    gradient (qc_g), and weight update (qc_w). qc_lab / qc_feats /
    qc_wd / every qc_w are MATERIALIZED inline: each is referenced
    more than once and DuckDB would otherwise inline the round
    recursion into a 2^iters tree (the _materialize_ctes rationale,
    applied at generation time because the names are generated)."""
    parts = [f"""qc_lab AS MATERIALIZED {_qclf_lab_sql(source, train_where)},
qc_feats AS MATERIALIZED {_qclf_feats_sql("qc_lab", buckets)},
qc_tot AS (
  SELECT count(*) AS n_all, sum(CASE WHEN y THEN 1 ELSE 0 END) AS n_pos FROM qc_lab
),
qc_wd AS MATERIALIZED (
  SELECT doc_id, CASE WHEN y THEN 1.0 ELSE 0.0 END AS y,
         CASE WHEN n_pos = 0 OR n_pos = n_all THEN 1.0
              WHEN y THEN n_all::DOUBLE / (2.0 * n_pos)
              ELSE n_all::DOUBLE / (2.0 * (n_all - n_pos)) END AS cw,
         n_all
  FROM qc_lab, qc_tot
),
qc_w0 AS MATERIALIZED (
  SELECT unnest(range({buckets + 2}))::BIGINT AS b, 0.0 AS w
)"""]
    for k in range(1, iters + 1):
        parts.append(f"""qc_m{k} AS (
  SELECT f.doc_id, round(sum(f.x * w.w), 9) AS m
  FROM qc_feats f JOIN qc_w{k - 1} w USING (b) GROUP BY f.doc_id
),
qc_e{k} AS (
  SELECT m.doc_id,
         (round(1.0 / (1.0 + exp(-m.m)), 9) - d.y) * d.cw AS e, d.n_all
  FROM qc_m{k} m JOIN qc_wd d USING (doc_id)
),
qc_g{k} AS (
  SELECT f.b, round(sum(f.x * e.e), 6) AS g, max(e.n_all) AS n_all
  FROM qc_feats f JOIN qc_e{k} e USING (doc_id) GROUP BY f.b
),
qc_w{k} AS MATERIALIZED (
  SELECT w.b, round(w.w - {lr} * coalesce(g.g / g.n_all, 0.0), 9) AS w
  FROM qc_w{k - 1} w LEFT JOIN qc_g{k} g USING (b)
)""")
    return ",\n".join(parts)


def _qclf_score_sql(feats: str, w_final: str) -> str:
    """score_quality twin: margin aggregate against the trained
    weights, then the rounded sigmoid."""
    return f"""(
  SELECT f.doc_id,
         round(1.0 / (1.0 + exp(-round(sum(f.x * w.w), 9))), 9) AS score
  FROM {feats} f JOIN {w_final} w USING (b) GROUP BY f.doc_id
)"""


def _qclf_scores_ctes() -> str:
    """Shared CTE chain of the scores and auc oracles: train on the
    'train' split, then score EVERY >= 1-token document (qc_all /
    qc_feats_all are the full-corpus twins of the training frames,
    exactly like the engine's score_quality re-derives features over
    the full input)."""
    return f"""{_qclf_parts(train_where=QCLF_TRAIN_WHERE)},
qc_all AS MATERIALIZED {_qclf_lab_sql()},
qc_feats_all AS MATERIALIZED {_qclf_feats_sql("qc_all")},
qc_score AS {_qclf_score_sql("qc_feats_all", f"qc_w{QCLF_ITERS}")}"""


def _curation_v4_sql(k: int = 200, rounds: int = 3, budget: int = 512) -> str:
    """Oracle for [[q_curation_pipeline_v4]]: the classifier training
    chain over the FULL corpus (the engine trains the v4 gate on the
    whole input against the heuristic teacher), the 0.5-threshold
    keep set as the gate CTE ``q``, then the VERBATIM
    [[_curation_tail_sql]] the v3 oracle uses — oracle composition
    mirrors engine composition (corpus._curation_stages)."""
    sql = f"""
WITH RECURSIVE {_qclf_parts()},
qc_score AS {_qclf_score_sql("qc_feats", f"qc_w{QCLF_ITERS}")},
q AS (
  SELECT d.doc_id, d.text, d.lang, d.source
  FROM documents d JOIN qc_score s ON d.doc_id = s.doc_id
  WHERE s.score >= 0.5
),
{_curation_tail_sql(k, rounds, budget)}"""
    return _materialize_ctes(sql, _CURATION_TAIL_MATERIALIZE)


def q_quality_classifier_weights(spark, sf_dir):
    """The trained filter itself (classifier.train_quality_classifier):
    hashed-BoW balanced logistic regression fit by 4 full-batch
    gradient rounds on the md5-bucket 'train' split — every round two
    keyed shuffles over the persisted feature stream plus a broadcast
    of the 66-row weight vector, the whole run on a fixed-point grid
    so the oracle replays training bit-for-bit."""
    from pyspark.sql import functions as F

    docs = _documents(spark, sf_dir)
    train = (
        sampling.train_val_test_split(docs, "doc_id")
        .filter(F.col("split") == "train")
        .drop("split")
    )
    return classifier.train_quality_classifier(train)


def q_quality_classifier_scores(spark, sf_dir):
    """The trained filter APPLIED (classifier.score_quality): score
    every document with the train-split model — a pure map + one
    broadcast weight join + one doc-keyed aggregate, the shape that
    scores each new crawl shard without touching the training corpus.
    Output carries the split and the teacher label so the held-out
    disagreement is visible in the row itself."""
    from pyspark.sql import functions as F

    docs = _documents(spark, sf_dir)
    split = sampling.train_val_test_split(docs, "doc_id")
    # One feature/label build for train AND score (OPTIMIZATION_r15,
    # guide §5): features and teacher labels are pure per-doc maps, so
    # the train-split frames are FILTERED SLICES of the full-corpus
    # frames (the split is a pure function of doc_id) — build each
    # once, persist, slice for training, score from the full cache.
    # The r14 shape ran the tokenize scan four times (train feats,
    # train labels, score feats, label join). Values unchanged.
    feats_all = classifier.hashed_features(docs).persist()
    lab_all = classifier._labeled(docs).persist()
    feats_train = (
        sampling.train_val_test_split(feats_all, "doc_id")
        .filter(F.col("split") == "train")
        .drop("split")
    )
    lab_train = (
        sampling.train_val_test_split(lab_all, "doc_id")
        .filter(F.col("split") == "train")
        .drop("split")
    )
    wts = classifier.train_quality_classifier(
        docs, features=feats_train, labels=lab_train
    )
    scored = classifier.score_quality(docs, wts, features=feats_all)
    # the teacher label for every SCORED doc (scored rows exist only
    # for >=1-token docs, exactly _labeled's population, so the inner
    # join against lab_all is row-identical to the with_quality join)
    lab = lab_all.select("doc_id", F.col("y").alias("label"))
    return (
        scored.join(lab, "doc_id")
        .join(split.select("doc_id", "split"), "doc_id")
        .select("doc_id", "split", "score", "predicted", "label")
    )


def q_quality_classifier_auc(spark, sf_dir):
    """Held-out eval of the trained filter: Mann-Whitney AUC
    (corpus.ranking_auc, distinct-score form) of the classifier score
    against the teacher label on the val+test splits the model never
    saw — the leakage-aware composition (train on 'train', evaluate
    on the rest). 0.998 at sf0.01; a model that memorized hash noise
    instead of lexical evidence would collapse here."""
    from pyspark.sql import functions as F

    scores = q_quality_classifier_scores(spark, sf_dir)
    held = scores.filter(F.col("split") != "train")
    return corpus.ranking_auc(held, score_col="score", label_col="label")


def q_quality_classifier_disagreement(spark, sf_dir):
    """Student-teacher disagreement profile — the diagnostic a
    production pipeline reviews BEFORE swapping a trained filter in
    for the rule battery: per (source, teacher verdict, student
    verdict) doc counts + within-source fractions. Composition is the
    scores chain + one small keyed aggregate + a window over the
    |sources|x4-row profile table — the corpus-sized work is exactly
    the scoring pass, everything after is dimension-sized. At sf0.01
    the profile shows zero (teacher=False, student=True) cells — the
    trained gate admits nothing the rules reject — and per-source miss
    rates of 0-8%, the numbers a rollout review wants in one frame."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    scores = q_quality_classifier_scores(spark, sf_dir)
    docs = _documents(spark, sf_dir).select("doc_id", "source")
    j = scores.join(docs, "doc_id").select(
        "source",
        F.col("label").alias("teacher_keep"),
        F.col("predicted").alias("student_keep"),
    )
    counts = j.groupBy("source", "teacher_keep", "student_keep").agg(
        F.count("*").alias("n_docs")
    )
    w = Window.partitionBy("source")
    return counts.withColumn(
        "source_frac",
        F.round(F.col("n_docs").cast("double") / F.sum("n_docs").over(w), 6),
    )


def _curation_v5_sql(
    k: int = 200,
    rounds: int = 3,
    budget: int = 512,
    payload_mod: int = 3,
    max_hamming: int = 3,
) -> str:
    """Oracle for [[q_curation_pipeline_v5]]: the v4 classifier chain
    plus the perceptual-drop CTE set (the prefixed dHash replay from
    oracles.media over the payload slice, clustered by recursive
    reach, rn>1 per cluster by resolution-then-id — the exact
    complement of the media_dup_survivors oracle's rn=1), anti-joined
    inside the gate CTE ``q``; the tail is the VERBATIM
    [[_curation_tail_sql]] all pipeline versions share."""
    from .media import _phash_hash_ctes, _phash_label_ctes, _phash_pair_ctes

    payload_src = (
        f"(SELECT doc_id FROM documents WHERE doc_id % {payload_mod} = 0)"
    )
    sql = f"""
WITH RECURSIVE {_qclf_parts()},
qc_score AS {_qclf_score_sql("qc_feats", f"qc_w{QCLF_ITERS}")},
{_phash_hash_ctes("pd_", "dhash", source=payload_src)},
{_phash_pair_ctes("pd_", max_hamming)},
{_phash_label_ctes("pd_")},
pd_drops AS (
  SELECT doc_id FROM (
    SELECT l.doc_id,
           row_number() OVER (PARTITION BY l.cluster_id
                              ORDER BY d.w * d.h DESC, l.doc_id) AS rn
    FROM pd_labeled l JOIN pd_dims d USING (doc_id)
  ) WHERE rn > 1
),
q AS (
  SELECT d.doc_id, d.text, d.lang, d.source
  FROM documents d JOIN qc_score s ON d.doc_id = s.doc_id
  WHERE s.score >= 0.5
    AND d.doc_id NOT IN (SELECT doc_id FROM pd_drops)
),
{_curation_tail_sql(k, rounds, budget)}"""
    return _materialize_ctes(
        sql,
        _CURATION_TAIL_MATERIALIZE
        + ("pd_hashes", "pd_reps", "pd_pairs", "pd_edges"),
    )


def _curation_v6_sql(
    k: int = 200,
    rounds: int = 3,
    budget: int = 512,
    modality_mod: int = 3,
    image_max_hamming: int = 3,
    audio_max_hamming: int = 2,
    video_max_hamming: int = 1,
) -> str:
    """Oracle for [[q_curation_pipeline_v6]]: the v4 classifier chain
    plus ALL THREE perceptual families' drop CTE sets — the prefixed
    dHash/afp/vfp replay chains over their modality slices
    (doc_id % mod = 0/1/2), each clustered by recursive reach and
    ranked by its family's quality (resolution / duration / frame
    volume), drops unioned and anti-joined inside the gate CTE ``q``;
    the tail is the VERBATIM [[_curation_tail_sql]] every pipeline
    version shares."""
    from .media import (
        _afp_hash_ctes,
        _phash_hash_ctes,
        _phash_label_ctes,
        _phash_pair_ctes,
        _vfp_hash_ctes,
    )

    def _slice(residue: int) -> str:
        return (
            f"(SELECT doc_id FROM documents"
            f" WHERE doc_id % {modality_mod} = {residue})"
        )

    sql = f"""
WITH RECURSIVE {_qclf_parts()},
qc_score AS {_qclf_score_sql("qc_feats", f"qc_w{QCLF_ITERS}")},
{_phash_hash_ctes("c6i_", "dhash", source=_slice(0))},
{_phash_pair_ctes("c6i_", image_max_hamming)},
{_phash_label_ctes("c6i_")},
{_afp_hash_ctes("c6a_", source=_slice(1))},
{_phash_pair_ctes("c6a_", audio_max_hamming)},
{_phash_label_ctes("c6a_")},
{_vfp_hash_ctes("c6v_", source=_slice(2))},
{_phash_pair_ctes("c6v_", video_max_hamming)},
{_phash_label_ctes("c6v_")},
c6_drops AS (
  SELECT doc_id FROM (
    SELECT l.doc_id,
           row_number() OVER (PARTITION BY l.cluster_id
                              ORDER BY d.w * d.h DESC, l.doc_id) AS rn
    FROM c6i_labeled l JOIN c6i_dims d USING (doc_id)
  ) WHERE rn > 1
  UNION ALL
  SELECT doc_id FROM (
    SELECT l.doc_id,
           row_number() OVER (PARTITION BY l.cluster_id
                              ORDER BY d.n DESC, l.doc_id) AS rn
    FROM c6a_labeled l JOIN c6a_adims d USING (doc_id)
  ) WHERE rn > 1
  UNION ALL
  SELECT doc_id FROM (
    SELECT l.doc_id,
           row_number() OVER (PARTITION BY l.cluster_id
                              ORDER BY d.nf * d.w * d.h DESC, l.doc_id) AS rn
    FROM c6v_labeled l JOIN c6v_vdims d USING (doc_id)
  ) WHERE rn > 1
),
q AS (
  SELECT d.doc_id, d.text, d.lang, d.source
  FROM documents d JOIN qc_score s ON d.doc_id = s.doc_id
  WHERE s.score >= 0.5
    AND d.doc_id NOT IN (SELECT doc_id FROM c6_drops)
),
{_curation_tail_sql(k, rounds, budget)}"""
    return _materialize_ctes(
        sql,
        _CURATION_TAIL_MATERIALIZE
        + (
            "c6i_hashes", "c6i_reps", "c6i_pairs", "c6i_edges",
            "c6a_hashes", "c6a_reps", "c6a_pairs", "c6a_edges",
            "c6v_hashes", "c6v_reps", "c6v_pairs", "c6v_edges",
        ),
    )


def q_curation_pipeline_v6(spark, sf_dir):
    """The end-to-end pipeline with the FULL multimodal gate
    (corpus.curation_pipeline_v6): every doc carries exactly one
    payload modality (doc_id % 3: image / audio / video), and the
    trained keep set is anti-joined against the UNION of the three
    perceptual families' drop sets (image resolution, audio duration,
    video frame volume survivorship — radii 3/2/1). The v5 tail is
    byte-shared (corpus._curation_stages); the gate differs by the
    union of two more bounded drop plans (late-r14)."""
    return corpus.curation_pipeline_v6(_documents(spark, sf_dir))


def q_curation_pipeline_v4(spark, sf_dir):
    """The end-to-end pipeline with the TRAINED gate
    (corpus.curation_pipeline_v4): classifier-gated stage 1, then the
    identical shared stage chain (MinHash dedup -> cluster-keyed
    split -> decontaminate -> DSIR resample -> token-true BPE pack).
    The oracle composes the classifier CTE chain with the same
    generated tail as v3."""
    return corpus.curation_pipeline_v4(_documents(spark, sf_dir))


def q_curation_pipeline_v5(spark, sf_dir):
    """The end-to-end pipeline with the MEDIA stage
    (corpus.curation_pipeline_v5, r13 verdict item #5): trained
    classifier gate AND perceptual-dup survivorship over the payload
    slice (doc_id % 3 == 0 carries a PPM payload; per dHash cluster
    only the highest-resolution copy survives), then the identical
    shared stage chain. The v4 tail is byte-shared
    (corpus._curation_stages); the gate differs by ONE anti-join."""
    return corpus.curation_pipeline_v5(_documents(spark, sf_dir))


# DuckDB oracle SQL for this domain's registered queries —
# assembled (registration order restored) into plans.registry.ORACLES.
ORACLE_SQL: dict[str, str] = {
    "curation_pipeline": f"""
WITH qw AS (
  SELECT doc_id, text, lang, {WORDS_SQL} AS ws FROM documents
),
q AS (
  SELECT doc_id, text, lang FROM (
    SELECT doc_id, text, lang,
      {quality_sum_ws_sql(STOPWORDS_SQL)} AS quality
    FROM qw
  ) WHERE quality >= {QUALITY_GATE}
),
d AS (
  SELECT doc_id, text, lang FROM (
    SELECT *, row_number() OVER (
      PARTITION BY md5({NORM_TEXT_SQL}) ORDER BY doc_id
    ) AS rn FROM q
  ) WHERE rn = 1
),
sp AS (
  SELECT doc_id, text, lang,
         {split_case_sql("doc_id")} AS split
  FROM d
),
dws AS (SELECT doc_id, {WORDS_SQL} AS ws FROM d),
dsh AS (
  SELECT doc_id,
         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                        for i in range(1, len(ws) - 1)]) AS shingles
  FROM dws WHERE len(ws) >= 3
),
post AS (SELECT doc_id, unnest(shingles) AS sg FROM dsh),
spp AS (
  SELECT post.doc_id, post.sg, sp.split
  FROM post JOIN sp ON post.doc_id = sp.doc_id
),
kept AS (SELECT sg FROM spp GROUP BY sg HAVING count(*) <= 100),
fpp AS (SELECT spp.doc_id, spp.sg, spp.split FROM spp JOIN kept USING (sg)),
tr AS (SELECT doc_id, sg FROM fpp WHERE split = 'train'),
te AS (SELECT doc_id AS tdoc, sg FROM fpp WHERE split = 'test'),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM tr GROUP BY doc_id),
hits AS (
  SELECT tr.doc_id, count(DISTINCT tr.sg) AS n_hit
  FROM tr JOIN te USING (sg) GROUP BY tr.doc_id
),
contaminated AS (
  SELECT hits.doc_id FROM hits JOIN sizes USING (doc_id)
  WHERE n_hit::DOUBLE / n_sh >= 0.5
),
clean AS (
  SELECT * FROM sp
  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT split, lang, count(*)::BIGINT AS n_docs,
       sum(len(regexp_extract_all(lower(text),
               '[a-z]+|[0-9]+|[^a-z0-9\\s]')))::BIGINT AS n_tokens
FROM clean GROUP BY split, lang""",
    "dataset_split": f"""
WITH b AS (
  SELECT lang,
         {split_bucket_sql("doc_id")} AS bucket
  FROM documents
)
SELECT {split_case_from_bucket_sql("bucket")} AS split,
       lang, count(*)::BIGINT AS n_docs
FROM b GROUP BY 1, 2""",
    "deterministic_sample": """
SELECT doc_id, lang, n_chars FROM documents
WHERE CAST(('0x' || substring(md5('sample' || doc_id::VARCHAR), 1, 8)) AS BIGINT)
      % 10000 < 1000""",
    "stratified_sample": f"""
SELECT doc_id, lang, source FROM documents
WHERE CAST(('0x' || substring(md5('strat' || doc_id::VARCHAR), 1, 8)) AS BIGINT)
      % 10000 < {_strata_case_sql()}""",
    "pack_chunks": f"""
WITH t AS (
  SELECT doc_id, source,
         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_tokens
  FROM documents),
c AS (
  -- ::BIGINT: DuckDB's sum() over BIGINT widens to HUGEINT, which
  -- pandas would surface as float64 and break the int-dtype hash
  SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING)::BIGINT AS end_tokens
  FROM t)
SELECT doc_id, source, n_tokens,
       (CASE WHEN n_tokens > 0 THEN (end_tokens - n_tokens) // {PACK_BUDGET} END)::BIGINT AS first_chunk,
       (CASE WHEN n_tokens > 0 THEN (end_tokens - 1) // {PACK_BUDGET} END)::BIGINT AS last_chunk,
       (CASE WHEN n_tokens > 0
             THEN (end_tokens - 1) // {PACK_BUDGET} - (end_tokens - n_tokens) // {PACK_BUDGET} + 1
             ELSE 0 END)::BIGINT AS n_chunks
FROM c""",
    "pack_chunks_overlap": f"""
WITH t AS (
  SELECT doc_id, source,
         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_tokens
  FROM documents),
c AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING)::BIGINT AS end_tokens
  FROM t),
b AS (
  -- floor() over DOUBLE division: the first-chunk numerator can go
  -- negative, where integer // would have engine-specific semantics
  SELECT doc_id, source, n_tokens, end_tokens,
         greatest(0, CAST(floor((end_tokens - n_tokens - {PACK_BUDGET})::DOUBLE
                                / {PACK_STRIDE}) AS BIGINT) + 1) AS first_c,
         CAST(floor((end_tokens - 1)::DOUBLE / {PACK_STRIDE}) AS BIGINT) AS last_c
  FROM c)
SELECT doc_id, source, n_tokens,
       (CASE WHEN n_tokens > 0 THEN first_c END)::BIGINT AS first_chunk,
       (CASE WHEN n_tokens > 0 THEN last_c END)::BIGINT AS last_chunk,
       (CASE WHEN n_tokens > 0 THEN last_c - first_c + 1 ELSE 0 END)::BIGINT AS n_chunks
FROM b""",
    "leakage_safe_split": _leakage_safe_split_sql(),
    # end-to-end pretraining pipeline (r11): composed from the same
    # generated stage parts, re-pointed at the upstream CTEs
    "curation_pipeline_v3": _curation_v3_sql(),
    # Stage chain replayed verbatim: gopher gate (paper thresholds as
    # one WHERE), span dedup on the gated corpus, exact-dup window on
    # the post-span fingerprint, mixture rates computed on the DEDUPED
    # counts, per-source manifest.
    "curation_pipeline_v2": r"""
WITH ws0 AS (
  SELECT doc_id, source, text,
         list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w <> '') AS ws,
         regexp_split_to_array(text, '\n') AS lines
  FROM documents
),
g AS (
  SELECT doc_id, source, ws FROM ws0
  WHERE len(ws) > 0
    AND len(ws) >= 50 AND len(ws) <= 100000
    AND (length(array_to_string(ws, '')) / len(ws)) >= 3.0
    AND (length(array_to_string(ws, '')) / len(ws)) <= 10.0
    AND ((len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\.\.\.'))) / len(ws)) < 0.1
    AND (len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]'))) / len(lines)) < 0.90
    AND (len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) / len(lines)) < 0.30
    AND (len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) / len(ws)) >= 0.80
    AND len(list_filter(['the','be','to','of','and','that','have','with'], s -> list_contains(ws, s))) >= 1
),
full_docs AS (SELECT doc_id, source, ws, len(ws) AS n FROM g WHERE len(ws) >= 8),
idx AS (SELECT doc_id, source, ws, n, unnest(generate_series(0, n // 8 - 1)) AS j FROM full_docs),
spans AS (
  SELECT doc_id, source, j, array_to_string(ws[j*8+1 : j*8+8], ' ') AS span_text,
         CASE WHEN n % 8 > 0 THEN array_to_string(ws[n - n % 8 + 1 : n], ' ') END AS remainder
  FROM idx
),
cnts AS (SELECT span_text, count(*) AS span_df FROM spans GROUP BY span_text),
k AS (SELECT s.*, c.span_df < 2 AS keep FROM spans s JOIN cnts c USING (span_text)),
sd AS (
  SELECT doc_id, any_value(source) AS source,
         concat_ws(' ',
           string_agg(span_text, ' ' ORDER BY j) FILTER (WHERE keep),
           any_value(remainder)) AS text_kept
  FROM k GROUP BY doc_id
),
sd2 AS (SELECT * FROM sd WHERE text_kept <> ''),
dd AS (
  SELECT doc_id, source, text_kept FROM (
    SELECT sd2.*, row_number() OVER (
      PARTITION BY md5(trim(regexp_replace(lower(text_kept), '\s+', ' ', 'g')))
      ORDER BY doc_id) AS rn
    FROM sd2) WHERE rn = 1
),
counts AS (SELECT source, count(*) AS n FROM dd GROUP BY source),
tot AS (SELECT sum(n) AS total, sum(sqrt(n)) AS z FROM counts),
rates AS (
  SELECT source, n AS n_source,
         round(least(1.0, 0.8 * total * (sqrt(n) / z) / n), 9) AS rate
  FROM counts, tot
),
mixed AS (
  SELECT d.doc_id, d.source, d.text_kept, r.n_source, r.rate
  FROM dd d JOIN rates r USING (source)
  WHERE CAST(('0x' || substring(md5('mix' || d.doc_id::VARCHAR), 1, 8)) AS BIGINT)
        % 10000 < round(r.rate * 10000)
)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(len(regexp_extract_all(lower(text_kept), '[a-z]+|[0-9]+|[^a-z0-9\s]')))::BIGINT AS n_tokens,
       max(n_source)::BIGINT AS docs_before_mix,
       max(rate) AS rate
FROM mixed GROUP BY source""",
    # tau=0.5 via sqrt (correctly-rounded IEEE in every engine — pow is
    # not); the 9-decimal rate round happens BEFORE the value becomes a
    # hash threshold, so both engines compare against the same cutoff.
    "mixture_sample": """
WITH src AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 < 6 THEN 'web'
              WHEN doc_id % 10 < 9 THEN 'books'
              ELSE 'code' END AS mix_source
  FROM documents
),
counts AS (SELECT mix_source, count(*) AS n FROM src GROUP BY mix_source),
tot AS (SELECT sum(n) AS total, sum(sqrt(n)) AS z FROM counts),
rates AS (
  SELECT mix_source, n AS n_source,
         round(least(1.0, 0.5 * total * (sqrt(n) / z) / n), 9) AS rate
  FROM counts, tot
)
SELECT s.doc_id, s.mix_source, r.n_source, r.rate
FROM src s JOIN rates r USING (mix_source)
WHERE CAST(('0x' || substring(md5('mix' || s.doc_id::VARCHAR), 1, 8)) AS BIGINT)
      % 10000 < round(r.rate * 10000)""",
    # trained-tokenizer packing: encode chain + pack cumsum, composed
    "bpe_pack": _bpe_pack_sql(rounds=3, budget=PACK_BUDGET),
    # DSIR hashed-unigram importance weights: bucket = first 32 bits of
    # md5('dsir' || token) mod 256 (sampling.hash_bucket idiom), add-1
    # smoothing over the 256 cells, target = lang='en' occurrences
    "dsir_weights": f"""{DSIR_SCORED_CTES}
SELECT doc_id, n_tokens, log_weight, log_weight > 0 AS target_like FROM scored""",
    # importance RESAMPLING: the weights chain + deterministic Gumbel
    # top-k (noise from the md5 bucket of doc_id, the hash_bucket
    # idiom) — ORDER BY ... LIMIT replays the engine's TakeOrdered
    "dsir_sample": f"""{DSIR_SCORED_CTES},
g AS (
  SELECT doc_id, n_tokens, log_weight,
         round(log_weight
               + -ln(-ln((('0x' || substr(md5('gumbel' || doc_id::VARCHAR), 1, 8))::BIGINT
                          + 0.5) / 4294967296)), 6) AS gumbel_key
  FROM scored
)
SELECT doc_id, n_tokens, log_weight, gumbel_key FROM g
ORDER BY gumbel_key DESC, doc_id LIMIT 200""",
    # trained quality classifier (r12): the full K-round balanced
    # logistic training chain on the md5-bucket 'train' split, replayed
    # bit-exactly (fixed-point rounds; exact IEEE features)
    "quality_classifier_weights": f"""
WITH {_qclf_parts(train_where=QCLF_TRAIN_WHERE)}
SELECT b AS bucket, w AS weight FROM qc_w{QCLF_ITERS}""",
    # the trained filter applied to every document, with split +
    # teacher label carried for the held-out comparison
    "quality_classifier_scores": f"""
WITH {_qclf_scores_ctes()}
SELECT s.doc_id,
       {split_case_sql("s.doc_id")} AS split,
       s.score, s.score >= 0.5 AS predicted, a.y AS label
FROM qc_score s JOIN qc_all a USING (doc_id)""",
    # held-out Mann-Whitney AUC of the trained filter vs the teacher
    # label (the ranking_auc distinct-score form)
    "quality_classifier_auc": f"""
WITH {_qclf_scores_ctes()},
ho AS (
  SELECT s.score, a.y AS label
  FROM qc_score s JOIN qc_all a USING (doc_id)
  WHERE {split_holdout_pred_sql("s.doc_id")}
),
c AS (
  SELECT score AS sv,
         sum(CASE WHEN label THEN 1 ELSE 0 END) AS p,
         sum(CASE WHEN label THEN 0 ELSE 1 END) AS n
  FROM ho GROUP BY score
),
b AS (
  SELECT *, coalesce(sum(n) OVER (ORDER BY sv
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
  FROM c
)
SELECT round(CASE WHEN sum(p) > 0 AND sum(n) > 0
             THEN sum(p * neg_below + 0.5 * p * n) / (sum(p) * sum(n)) END, 6) AS auc,
       round(sum(p * neg_below + 0.5 * p * n), 1) AS u_stat,
       sum(p)::BIGINT AS n_pos, sum(n)::BIGINT AS n_neg
FROM b""",
    # the end-to-end pipeline behind the TRAINED gate: classifier CTEs
    # -> 0.5-threshold keep set -> the verbatim v3 stage tail
    "curation_pipeline_v4": _curation_v4_sql(),
    "curation_pipeline_v5": _curation_v5_sql(),
    "curation_pipeline_v6": _curation_v6_sql(),
    # per-(source, teacher, student) rollout-review profile over the
    # trained filter's verdicts
    "quality_classifier_disagreement": f"""
WITH {_qclf_scores_ctes()},
j AS (
  SELECT d.source, a.y AS teacher_keep, s.score >= 0.5 AS student_keep
  FROM qc_score s JOIN qc_all a USING (doc_id)
       JOIN documents d ON s.doc_id = d.doc_id
)
SELECT source, teacher_keep, student_keep,
       count(*)::BIGINT AS n_docs,
       round(count(*)::DOUBLE / sum(count(*)) OVER (PARTITION BY source), 6) AS source_frac
FROM j GROUP BY source, teacher_keep, student_keep""",
}
