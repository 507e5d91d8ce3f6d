"""Deduplication surface: exact/URL/incremental(+Bloom),
MinHash-LSH, SimHash, n-gram Jaccard, span cutters, connected
components, fuzzy linkage, and cross-split contamination, with the
shared shingle/LSH oracle fragment generators.

Split verbatim from plans/registry.py (r11 verdict item #2); the
facade registry module re-exports every name and asserts the
assembled surface is byte-identical to the pre-split snapshot.
"""

from __future__ import annotations

from ...operators import corpus
from ...operators import text
from .common import (
    _documents,
    quality_sum_stats_sql,
    split_bucket_sql,
    split_case_from_bucket_sql,
)
from .text import NORM_TEXT_SQL, TEXT_STATS_SQL, WORDS_SQL
from ...operators import dedup

def q_contamination(spark, sf_dir):
    """Train/test decontamination report: shared-shingle counts between
    the deterministic hash split's train and test documents."""
    return dedup.cross_split_contamination(
        _documents(spark, sf_dir), n=3, max_df=100
    )

def q_exact_dedup(spark, sf_dir):
    return dedup.exact_dedup(_documents(spark, sf_dir))

# Registered df cap: a genuine posting-list bound (sum(df^2) per shingle
# <= cap * postings) that does NOT bind at fixture scale — max shingle df
# is 9/7/25 at sf0.001/0.01/0.1 — so capped results equal uncapped there
# (pinned by pytest); the oracle replays the cap's filtered-universe
# semantics so the row stays green even when the cap binds.
NGRAM_MAX_DF = 1000

def q_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(
        _documents(spark, sf_dir),
        n=3,
        threshold=0.5,
        max_df=NGRAM_MAX_DF,
    )

def q_minhash_lsh(spark, sf_dir):
    # md5 family: same banded-LSH plan as the xxhash64 production
    # default, but reproducible in DuckDB => full three-way oracle row.
    # The xxhash64 default's recall vs exact Jaccard is pinned in pytest.
    return dedup.minhash_lsh_pairs(
        _documents(spark, sf_dir),
        n=3,
        threshold=0.5,
        hash_family="md5",
    )

def q_url_dedup(spark, sf_dir):
    """URL-level dedup (dedup.url_dedup) over deterministic synthetic
    URLs: host from source, bucketed path from doc_id, plus www./
    trailing-slash/query-string spelling variants that normalization
    must collapse."""
    from pyspark.sql import functions as F

    docs = _documents(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("www.")).otherwise(F.lit("")),
            F.col("source"),
            F.lit(".example.com/p/"),
            (F.col("doc_id") % 97).cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
            F.lit("?id="),
            F.col("doc_id").cast("string"),
            F.lit("&utm_source=feed"),
        ).alias("url"),
    )
    return dedup.url_dedup(docs)

def q_incremental_dedup_bloom(spark, sf_dir):
    """Bloom-prefiltered incremental dedup
    (dedup.incremental_dedup_bloom) — the 100 TB form of the
    crawl-increment join: the accumulated seen-fingerprint table's
    Bloom bitset (a few MiB) broadcasts to every executor, the
    definitely-new majority of the increment bypasses the exact
    anti-join entirely, and only probe-positive rows (true dups + the
    fpp sliver) reach it. Output is BIT-IDENTICAL to
    incremental_dedup — no false negatives by construction (same
    deterministic xxhash64/seed/m family in build and probe), false
    positives removed by the exact verify — so the oracle IS the
    exact incremental-dedup SQL and the driver hash pins the
    equivalence, exactly like salted_join_skew pins salting. The plain
    anti-join (dedup.incremental_dedup) shuffles the whole increment
    against the seen table, which is why only this form is registered.

    The fixtures plant NEAR-dups but zero exact dups, so the increment
    (the odd half of the corpus by doc_id, deduped against the even
    half's fingerprints) PLANTS both drop kinds in-engine: a re-crawl
    of every 10th prior doc under a shifted id (must drop against the
    seen table) and a second copy of every (10k+1)th new doc under a
    higher id (must drop within-batch, min-doc_id survivor), so all
    three drop/survive paths flow through the prefilter."""
    from pyspark.sql import functions as F

    from ...functions.text import normalized_text

    off = 10_000_000
    docs = _documents(spark, sf_dir)
    prior = docs.filter(F.col("doc_id") % 2 == 0)
    new_base = docs.filter(F.col("doc_id") % 2 == 1)
    recrawl = prior.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + off
    )
    within_dup = new_base.filter(F.col("doc_id") % 10 == 1).withColumn(
        "doc_id", F.col("doc_id") + 2 * off
    )
    new = new_base.unionByName(recrawl).unionByName(within_dup)
    seen = prior.select(F.md5(normalized_text(F.col("text"))).alias("fp")).distinct()
    return dedup.incremental_dedup_bloom(new, seen)

def q_dup_rate_by_source(spark, sf_dir):
    """Duplication observability per corpus slice
    (dedup.dup_rate_by_source): per source, docs / distinct contents /
    docs duplicated corpus-wide / dup rate, on exact_dedup's md5
    fingerprint."""
    return dedup.dup_rate_by_source(_documents(spark, sf_dir))

def _shingles_cte(source: str = "documents") -> str:
    """The distinct-3-gram shingle CTE pair (docs, sh), parameterized
    on the corpus source so composed oracles
    ([[_curation_v3_sql]]) can shingle an upstream CTE instead of the
    raw table; ``SHINGLES_CTE`` below keeps the rendered default
    byte-identical."""
    return f"""
docs AS (SELECT doc_id, {WORDS_SQL} AS ws FROM {source}),
sh AS (
  SELECT doc_id,
         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                        for i in range(1, len(ws) - 1)]) AS shingles
  FROM docs WHERE len(ws) >= 3
)"""

SHINGLES_CTE = _shingles_cte()

# df-capped pair generation (mirrors ngram_jaccard_pairs(max_df=...):
# shingles above the document-frequency cap are removed from every doc
# BEFORE sizes/intersections, i.e. the filtered-universe Jaccard).
CAPPED_PAIRS_CTES = f"""{SHINGLES_CTE},
post AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
keep AS (SELECT s FROM post GROUP BY s HAVING count(*) <= {NGRAM_MAX_DF}),
fsh AS (
  SELECT doc_id, list(post.s) AS shingles
  FROM post JOIN keep USING (s) GROUP BY doc_id
),
pairs AS (
  SELECT * FROM (
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           len(list_intersect(a.shingles, b.shingles))::DOUBLE
           / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) AS jaccard
    FROM fsh a JOIN fsh b ON a.doc_id < b.doc_id)
  WHERE jaccard >= 0.5
)"""

def _minhash_lsh_parts(
    bands: int = 16,
    rows: int = 4,
    threshold: float = 0.5,
    source: str = "documents",
) -> tuple[str, str]:
    """Structured (ctes, final_select) pieces of the md5-family
    MinHash+LSH oracle so dependent oracles ([[_leakage_safe_split_sql]],
    [[_curation_v3_sql]]) compose SQL fragments instead of
    pattern-matching the rendered string (ADVICE r9: the old
    rindex-on-a-literal-anchor surgery broke on any cosmetic edit to
    the final SELECT). ``ctes`` is the full ``WITH ...`` clause (no
    trailing comma); ``final_select`` is the verify SELECT that
    consumes the ``cand``/``sh`` CTEs. ``source`` re-points the
    shingle scan at an upstream CTE."""
    k = bands * rows
    sig_entries = ",\n    ".join(
        f"min(h1 + {i} * h2)" for i in range(k)
    )
    band_union = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band,"
        f" md5(array_to_string(sg[{b * rows + 1}:{(b + 1) * rows}], ',')) AS bucket"
        " FROM sig"
        for b in range(bands)
    )
    ctes = f"""WITH {_shingles_cte(source)},
hv AS (
  SELECT doc_id,
         CAST('0x' || substr(m, 1, 7) AS BIGINT) AS h1,
         CAST('0x' || substr(m, 8, 7) AS BIGINT) AS h2
  FROM (SELECT doc_id, md5(s) AS m
        FROM (SELECT doc_id, unnest(shingles) AS s FROM sh))
),
sig AS (
  SELECT doc_id, [
    {sig_entries}
  ] AS sg FROM hv GROUP BY doc_id
),
bb AS (
{band_union}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)"""
    final_select = f"""SELECT doc_id_a, doc_id_b,
       len(list_intersect(x.shingles, y.shingles))::DOUBLE
       / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))) AS jaccard
FROM cand
JOIN sh x ON x.doc_id = doc_id_a
JOIN sh y ON y.doc_id = doc_id_b
WHERE jaccard >= {threshold}"""
    return ctes, final_select

def _minhash_lsh_sql(
    bands: int = 16, rows: int = 4, threshold: float = 0.5
) -> str:
    """DuckDB oracle replaying the md5-family MinHash+LSH bit-for-bit:
    one md5 per shingle -> two 28-bit ints (h1, h2 via '0x' casts, the
    same values Spark's conv parses) -> family member i = h1 + i*h2
    (Kirsch-Mitzenmacher; bounded far below BIGINT overflow) -> K MIN
    aggregates; band buckets are md5 over the comma-joined signature
    slice; candidates verified with exact Jaccard. Rendered from
    [[_minhash_lsh_parts]] so the leakage-split oracle composes the
    same pieces structurally."""
    ctes, final_select = _minhash_lsh_parts(bands, rows, threshold)
    return f"\n{ctes}\n{final_select}"

def _leakage_safe_split_sql() -> str:
    """Oracle for [[q_leakage_safe_split]]: reuse the md5-family
    MinHash+LSH oracle pieces verbatim via [[_minhash_lsh_parts]]
    (the CTE chain keeps its structure; the verify SELECT becomes the
    ``pairs`` CTE body), replay the star-CC labeling as recursive
    reachability with min-label (the dup_clusters_star oracle
    pattern), left-join singletons to their own doc_id, and apply the
    exact md5 bucket thresholds of the dataset_split oracle keyed on
    cluster_id."""
    ctes, final_select = _minhash_lsh_parts()
    assert ctes.startswith("WITH ")
    ctes = "WITH RECURSIVE " + ctes[len("WITH ") :]
    return f"""{ctes},
pairs AS (
{final_select}
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
labeled AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c USING (doc_id)
),
bkt AS (
  SELECT doc_id, cluster_id,
         {split_bucket_sql("cluster_id")} AS bucket
  FROM labeled
)
SELECT doc_id, cluster_id,
       {split_case_from_bucket_sql("bucket")} AS split
FROM bkt"""

def _simhash_sql(max_hamming: int = 3, n_bits: int = 64) -> str:
    """DuckDB oracle for the md5-family SimHash: n_bits signed-bit sums
    over the first n_bits/4 hex chars of md5(shingle) (parsed as 32-bit
    ints — the same '0x' cast values Spark's conv produces), assembled
    into 4 bands of n_bits/4 bits; pigeonhole candidates;
    xor+bit_count verify. ``n_bits=128`` is the scale-safe band width
    (see dedup._simhash_bands_md5)."""
    bb = n_bits // 4
    sums = ",\n         ".join(
        f"sum((((v{j // 32 + 1} >> {j % 32}) & 1) * 2 - 1)) AS b{j}"
        for j in range(n_bits)
    )
    band_cols = ", ".join(
        "("
        + " + ".join(
            f"CASE WHEN b{bb * k + j} > 0 THEN {1 << j} ELSE 0 END" for j in range(bb)
        )
        + f") AS band{k}"
        for k in range(4)
    )
    band_union = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {k} AS band, band{k} AS bucket FROM bands" for k in range(4)
    )
    hamming = " + ".join(f"bit_count(xor(x.band{k}, y.band{k}))" for k in range(4))
    word_cols = ",\n         ".join(
        f"CAST('0x' || substr(md5(s), {1 + 8 * w}, 8) AS BIGINT) AS v{w + 1}"
        for w in range(n_bits // 32)
    )
    return f"""
WITH {SHINGLES_CTE},
hashes AS (
  SELECT doc_id,
         {word_cols}
  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
),
sums AS (
  SELECT doc_id,
         {sums}
  FROM hashes GROUP BY doc_id
),
bands AS (SELECT doc_id, {band_cols} FROM sums),
bb AS (
{band_union}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT doc_id_a, doc_id_b, ({hamming})::BIGINT AS hamming
FROM cand
JOIN bands x ON x.doc_id = doc_id_a
JOIN bands y ON y.doc_id = doc_id_b
WHERE hamming <= {max_hamming}"""

def _simhash_hash_ctes(
    p: str, source: str = "documents", n_bits: int = 64
) -> str:
    """``{p}hashes`` (doc_id, band0..band3) for the md5-family
    SimHash — [[_simhash_sql]]'s fingerprint chain re-shaped to the
    shared perceptual-hash band contract, every CTE name prefixed with
    ``p`` so it composes with the media families'
    ``_phash_pair_ctes``/``_phash_label_ctes`` generators in ONE query
    (the multimodal report oracle runs four modality chains
    side-by-side, its text family at the scale-safe ``n_bits=128``
    wide width). Bit values are identical to dedup.simhash_pairs' md5
    family: signed-bit sums over the first n_bits/4 hex chars of
    md5(shingle) parsed as 32-bit ints."""
    if n_bits not in (64, 128):
        raise ValueError(f"n_bits must be 64 or 128, got {n_bits}")
    bb = n_bits // 4
    sums = ",\n         ".join(
        f"sum((((v{j // 32 + 1} >> {j % 32}) & 1) * 2 - 1)) AS b{j}"
        for j in range(n_bits)
    )
    band_cols = ", ".join(
        "("
        + " + ".join(
            f"CASE WHEN b{bb * k + j} > 0 THEN {1 << j} ELSE 0 END" for j in range(bb)
        )
        + f")::BIGINT AS band{k}"
        for k in range(4)
    )
    word_cols = ",\n         ".join(
        f"CAST('0x' || substr(md5(s), {1 + 8 * w}, 8) AS BIGINT) AS v{w + 1}"
        for w in range(n_bits // 32)
    )
    return f"""{p}docs AS (SELECT doc_id, {WORDS_SQL} AS ws FROM {source}),
{p}sh AS (
  SELECT doc_id,
         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                        for i in range(1, len(ws) - 1)]) AS shingles
  FROM {p}docs WHERE len(ws) >= 3
),
{p}words AS (
  SELECT doc_id,
         {word_cols}
  FROM (SELECT doc_id, unnest(shingles) AS s FROM {p}sh)
),
{p}sums AS (
  SELECT doc_id,
         {sums}
  FROM {p}words GROUP BY doc_id
),
{p}hashes AS (SELECT doc_id, {band_cols} FROM {p}sums)"""


def q_dedup_survivors(spark, sf_dir):
    """End-to-end dedup survivorship: near-dup pairs -> connected
    components (dedup.connected_components_star) -> one canonical doc
    per cluster + all unique docs."""
    docs = _documents(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.5, max_df=NGRAM_MAX_DF
    )
    return corpus.dedup_survivors(docs, dedup.connected_components_star(pairs))

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
def q_span_dedup(spark, sf_dir):
    """Sub-document duplicated-span removal (dedup.span_dedup): the
    chunk-hash approximation of exact-substring dedup (Lee et al.
    2022) — 8-word spans counted corpus-wide, every span occurring
    twice+ dropped from every carrier, text rebuilt from survivors."""
    return dedup.span_dedup(_documents(spark, sf_dir), span_words=8, min_count=2)

def q_repeated_spans_sliding(spark, sf_dir):
    """Alignment-invariant repeated-substring sweep
    (dedup.repeated_spans_sliding — the SLIDING form of span_dedup,
    r8): every overlapping 8-word window counted corpus-wide, flagged
    windows collapsed per doc into maximal word ranges via
    gaps-and-islands. Catches duplicate blocks at ANY offset (the
    suffix-array property of Lee et al. 2022), which the chunked form
    misses whenever the copy is not 8-word aligned — pinned by a
    planted shifted-copy pytest. Engine correlates windows by
    xxhash64; the oracle groups by the window text itself — identical
    counts, and the hash never reaches the output."""
    return dedup.repeated_spans_sliding(
        _documents(spark, sf_dir), span_words=8, min_count=2
    )

def q_remove_repeated_spans(spark, sf_dir):
    """The CUTTER for the sliding-span sweep
    (dedup.remove_repeated_spans, r9): the flagged maximal repeated
    ranges are removed from every carrier and the survivors
    reassembled into the cleaned document — the step that makes
    exact-substring dedup (Lee et al. 2022) a TRANSFORM, not just a
    report. One output row per INPUT doc (cleaning never drops a
    doc): (doc_id, clean_text, n_words_kept, n_words_removed);
    fully-repeated docs come out ''. The hash covers the range
    detection, the positional anti-join cut, and the in-plan
    position-ordered reassembly (collect_list of (pos, word) structs,
    array_sort, transform — no Python)."""
    return dedup.remove_repeated_spans(
        _documents(spark, sf_dir), span_words=8, min_count=2
    )

def q_remove_repeated_spans_keep_first(spark, sf_dir):
    """The ALL-BUT-ONE cutter (dedup.remove_repeated_spans_keep_first,
    r10 — the survivorship-composed form the r9 cutter's docstring
    routes to): each corpus-repeated window keeps its canonical
    occurrence (lexicographic-min (doc_id, start) — deterministic
    first-carrier survivorship) and every other occurrence is cut.
    The hash covers the per-key argmin survivorship, the non-canonical
    flagging, the range collapse, and the positional cut/reassembly.
    Engine correlates windows by xxhash64 and takes the argmin inside
    ONE map-side-combinable aggregate; the oracle groups by the window
    text with a row_number()=1 canonical — identical selections, the
    hash never reaches the output."""
    return dedup.remove_repeated_spans_keep_first(
        _documents(spark, sf_dir), span_words=8, min_count=2
    )

def q_simhash_pairs_wide(spark, sf_dir):
    """The SCALE-SAFE SimHash registration (dedup.simhash_pairs
    n_bits=128): md5's full width as 4x32-bit bands — same plan shape
    as simhash_pairs, but expected bucket collisions fall from
    N^2/2^16 to N^2/2^32, which is what makes the candidate join
    linear at web-corpus scale (the 4x16 default measured 21.9x at
    10x data; this width knob-verified sub-linear — NOTES_r05 §3,
    now driver-hash-verified here). The 64-bit default is only a
    cheaper fixture setting of the same operator, so it is not
    registered."""
    return dedup.simhash_pairs(
        _documents(spark, sf_dir),
        n=3,
        max_hamming=3,
        hash_family="md5",
        n_bits=128,
    )

def q_quality_survivors(spark, sf_dir):
    """Quality-aware dedup survivorship (corpus.quality_survivors):
    within each near-dup cluster keep the HIGHEST-quality member —
    the production keep-rule (duplicates differ by boilerplate and
    truncation, so min-id/first-crawled is wrong). Composes the exact
    ngram pair graph → log-round star connected components
    (dedup.connected_components_star) → quality_score argmax per
    cluster (WindowGroupLimit top-1, ties on doc_id)."""
    docs = _documents(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.5, max_df=NGRAM_MAX_DF
    )
    return corpus.quality_survivors(
        dedup.connected_components_star(pairs), text.quality_score(docs)
    )

def q_dup_clusters_star(spark, sf_dir):
    """Log-round connected components
    (dedup.connected_components_star, Kiveris et al. 2014 alternating
    large-star/small-star) on a fixture BUILT to break one-hop-per-round
    min-label propagation: chain components of diameter ~127 (blocks
    of 64 consecutive doc_ids chained, adjacent block pairs bridged),
    where min-label would need ~127 shuffle rounds and the star
    alternation converges in ~7. Each round is two exchanges per star
    op; the driver reads one changed-edge indicator per round. Oracle:
    the recursive-CTE reachability of the survivors oracles, over the
    same arithmetic edge construction."""
    from pyspark.sql import functions as F

    docs = _documents(spark, sf_dir).select("doc_id")
    chain = docs.filter(F.col("doc_id") % 64 != 63).select(
        F.col("doc_id").alias("doc_id_a"),
        (F.col("doc_id") + F.lit(1)).alias("doc_id_b"),
    )
    bridge = docs.filter(F.col("doc_id") % 128 == 0).select(
        F.col("doc_id").alias("doc_id_a"),
        (F.col("doc_id") + F.lit(96)).alias("doc_id_b"),
    )
    return dedup.connected_components_star(chain.unionByName(bridge))

def _fuzzy_names(spark, sf_dir):
    """The shared fuzzy-linkage corpus base: each document's
    normalized 24-char name slice (length >= 24 guard). Shared by
    [[q_fuzzy_match_blocked]] and [[q_fuzzy_match_multipass]] so the
    slice width / filter / twin recipes can never silently diverge
    between the two registrations (code-review r10)."""
    from pyspark.sql import functions as F

    from ...functions.text import normalized_text

    norm = normalized_text(F.col("text"))
    return (
        _documents(spark, sf_dir)
        .select("doc_id", F.substring(norm, 1, 24).alias("name"))
        .filter(F.length(norm) >= 24)
    )

def _fuzzy_twins(names, mod_rem: int, sub_pos: int, id_offset: int):
    """Planted edit-distance-1 twin family: for doc_id % 7 ==
    ``mod_rem``, substitute '#' at 1-based char ``sub_pos`` of the
    24-char name and shift the id by ``id_offset`` (the
    knn_lsh_planes8 known-answer recipe)."""
    from pyspark.sql import functions as F

    return names.filter(F.col("doc_id") % 7 == mod_rem).select(
        (F.col("doc_id") + id_offset).alias("doc_id"),
        F.concat(
            F.substring("name", 1, sub_pos - 1),
            F.lit("#"),
            F.substring("name", sub_pos + 1, 24 - sub_pos),
        ).alias("name"),
    )

def q_fuzzy_match_blocked(spark, sf_dir):
    """Blocked fuzzy record linkage (dedup.fuzzy_match_blocked):
    edit-distance entity resolution — the primitive behind metadata
    dedup (titles, authors, OCR'd strings) that set-similarity can't
    express. The registered corpus is each document's normalized
    24-char name PLUS a planted twin per doc_id % 7 == 3 (one char
    substituted mid-string, AFTER the 8-char blocking prefix, so each
    twin is a guaranteed same-block edit-distance-1 match — the
    knn_lsh_planes8 known-answer recipe); the driver hash therefore
    covers blocking, the length prefilter, and levenshtein verify on
    non-empty output. Natural prefix-share pairs ride along
    identically in both engines."""
    from ...operators import dedup

    names = _fuzzy_names(spark, sf_dir)
    twins = _fuzzy_twins(names, mod_rem=3, sub_pos=13, id_offset=1_000_001)
    return dedup.fuzzy_match_blocked(
        names.unionByName(twins), name_col="name", id_col="doc_id",
        block_prefix=8, max_dist=2, max_block=200,
    )

def _fuzzy_reorder_twins(names, mod_rem: int):
    """Planted token-REORDER twin family (r10 verdict item #5 — the
    LAST-FIRST/FIRST-LAST convention clash): per doc_id % 7 ==
    ``mod_rem``, TWO short planted rows — "t1 t2" (id + 3,000,003)
    and "t2 t1" (id + 4,000,004) with t1/t2 the first two 2-char
    slices of md5(doc_id) (hex, so normalize is the identity). The
    reorder costs <= 4 Levenshtein edits (two 2-char substitutions),
    changes BOTH the 8-char prefix and the 8-char suffix key, and
    leaves the sorted-token key invariant — each pair is findable
    ONLY by the sorted-token pass (pinned in pytest)."""
    from pyspark.sql import functions as F

    h = F.md5(F.col("doc_id").cast("string"))
    base = names.filter(F.col("doc_id") % 7 == mod_rem).select(
        "doc_id",
        F.substring(h, 1, 2).alias("t1"),
        F.substring(h, 3, 2).alias("t2"),
    )
    fwd = base.select(
        (F.col("doc_id") + 3_000_003).alias("doc_id"),
        F.concat_ws(" ", "t1", "t2").alias("name"),
    )
    rev = base.select(
        (F.col("doc_id") + 4_000_004).alias("doc_id"),
        F.concat_ws(" ", "t2", "t1").alias("name"),
    )
    return fwd.unionByName(rev)

def q_fuzzy_match_multipass(spark, sf_dir):
    """Multi-pass blocked fuzzy linkage (dedup.fuzzy_match_multipass —
    r9 verdict item #7, sorted-token pass r10 verdict item #5): the
    [[q_fuzzy_match_blocked]] corpus PLUS (a) a second planted twin
    family per doc_id % 7 == 5 with the character substitution INSIDE
    the 8-char blocking prefix (char 3) — the documented single-pass
    miss — and (b) a planted token-REORDER pair family per doc_id % 7
    == 1 ([[_fuzzy_reorder_twins]]: "t1 t2" vs "t2 t1" short names,
    <= 4 edits apart, both positional keys changed). THREE passes at
    max_dist=4: the default prefix key (finds same-prefix edits), a
    LAST-8-chars suffix key via right(norm, 8) (finds the in-prefix
    family — right() rather than the old fixed substr(17, 8) so the
    short reorder names keep per-row suffix keys instead of
    degenerating into one '' block), and the permutation-invariant
    sorted-token key (finds exactly the reorder family). Pairs
    unioned and deduplicated; the driver hash covers all three
    passes' blocking, the planted recoveries, and the distinct."""
    from pyspark.sql import functions as F

    from ...operators import dedup

    names = _fuzzy_names(spark, sf_dir)
    twins_mid = _fuzzy_twins(names, mod_rem=3, sub_pos=13, id_offset=1_000_001)
    twins_prefix = _fuzzy_twins(
        names, mod_rem=5, sub_pos=3, id_offset=2_000_002
    )
    twins_reorder = _fuzzy_reorder_twins(names, mod_rem=1)
    return dedup.fuzzy_match_multipass(
        names.unionByName(twins_mid)
        .unionByName(twins_prefix)
        .unionByName(twins_reorder),
        name_col="name",
        id_col="doc_id",
        block_exprs=(
            None,
            F.expr("right(norm, 8)"),
            F.array_join(F.array_sort(F.split(F.col("norm"), " ")), " "),
        ),
        max_dist=4,
        max_block=200,
    )

# shared by incremental_dedup AND incremental_dedup_bloom: the bloom
# prefilter is result-identical to the exact form by construction
INCREMENTAL_DEDUP_SQL = f"""
WITH seen AS (
  SELECT DISTINCT md5({NORM_TEXT_SQL}) AS fp
  FROM documents WHERE doc_id % 2 = 0
),
newdocs AS (
  SELECT doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 10000000, text, lang, source, n_chars
  FROM documents WHERE doc_id % 2 = 0 AND doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 20000000, text, lang, source, n_chars
  FROM documents WHERE doc_id % 10 = 1
),
tagged AS (
  SELECT *, md5({NORM_TEXT_SQL}) AS fp FROM newdocs
),
within AS (SELECT fp, min(doc_id) AS doc_id FROM tagged GROUP BY fp),
survivors AS (
  SELECT w.fp, w.doc_id FROM within w
  WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.fp = w.fp)
)
SELECT t.doc_id, t.fp, t.text, t.lang, t.source, t.n_chars
FROM survivors v JOIN tagged t ON t.fp = v.fp AND t.doc_id = v.doc_id"""

# ---------------------------------------------------------------------------
# Shared sliding-span oracle fragments (code-review r10): the sweep and
# BOTH cutters compose these structurally — a fix to the window build,
# the range collapse, or the positional cut/reassembly lands in exactly
# one place (the _bpe_parts / _minhash_lsh_parts posture).
# ---------------------------------------------------------------------------
SLIDING_WINS_CTES = r"""toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w <> '') AS ws
  FROM documents
),
full_docs AS (SELECT doc_id, ws, len(ws) AS n FROM toks WHERE len(ws) >= 8),
wins AS (
  SELECT doc_id, s AS start, array_to_string(ws[s+1 : s+8], ' ') AS span_text
  FROM (SELECT doc_id, ws, n, unnest(generate_series(0, n - 8)) AS s FROM full_docs)
)"""

# gaps-and-islands collapse of a `hits(doc_id, start)` CTE into maximal
# ranges `ranges(doc_id, rs, rl)`
SPAN_RANGES_CTES = r"""grouped AS (
  SELECT doc_id, start,
         start - row_number() OVER (PARTITION BY doc_id ORDER BY start) AS grp
  FROM hits
),
ranges AS (
  SELECT doc_id, min(start) AS rs, max(start) - min(start) + 8 AS rl
  FROM grouped GROUP BY doc_id, grp
)"""

# positional cut of `ranges` out of `toks` + in-position reassembly
# (DuckDB string_agg ORDER BY pos == Spark array_sort(struct(pos, w)))
SPAN_CUT_TAIL_SQL = r"""wordpos AS (
  SELECT doc_id, ws[i] AS w, i - 1 AS pos
  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM toks)
),
kept AS (
  SELECT wp.doc_id, wp.pos, wp.w FROM wordpos wp
  WHERE NOT EXISTS (
    SELECT 1 FROM ranges r
    WHERE r.doc_id = wp.doc_id AND wp.pos >= r.rs AND wp.pos < r.rs + r.rl)
),
agg AS (
  SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS clean_text,
         count(*) AS n_words_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
       coalesce(a.n_words_kept, 0)::BIGINT AS n_words_kept,
       (len(t.ws) - coalesce(a.n_words_kept, 0))::BIGINT AS n_words_removed
FROM toks t LEFT JOIN agg a USING (doc_id)"""

# DuckDB oracle SQL for this domain's registered queries —
# assembled (registration order restored) into plans.registry.ORACLES.
ORACLE_SQL: dict[str, str] = {
    "contamination": f"""
WITH {SHINGLES_CTE},
post AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sp AS (
  SELECT doc_id, s,
         {split_case_from_bucket_sql("bucket")} AS split
  FROM (
    SELECT doc_id, s,
           {split_bucket_sql("doc_id")} AS bucket
    FROM post
  )
),
kept AS (SELECT s FROM sp GROUP BY s HAVING count(*) <= 100),
fp AS (SELECT sp.doc_id, sp.s, sp.split FROM sp JOIN kept USING (s)),
train AS (SELECT doc_id, s FROM fp WHERE split = 'train'),
test AS (SELECT doc_id AS test_doc_id, s FROM fp WHERE split = 'test'),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n_shingles FROM train GROUP BY doc_id),
hits AS (
  SELECT doc_id,
         count(DISTINCT s)::BIGINT AS n_hit_shingles,
         count(DISTINCT test_doc_id)::BIGINT AS n_test_docs
  FROM train JOIN test USING (s) GROUP BY doc_id
)
SELECT doc_id, n_hit_shingles, n_test_docs, n_shingles,
       n_hit_shingles::DOUBLE / n_shingles AS contamination_ratio
FROM hits JOIN sizes USING (doc_id)""",
    "exact_dedup": f"""
SELECT md5({NORM_TEXT_SQL}) AS fingerprint,
       min(doc_id) AS keep_doc_id,
       count(*)::BIGINT AS n_docs
FROM documents GROUP BY 1""",
    "ngram_jaccard_pairs": f"""
WITH {CAPPED_PAIRS_CTES}
SELECT doc_id_a, doc_id_b, jaccard FROM pairs""",
    "dedup_survivors": f"""
WITH RECURSIVE {CAPPED_PAIRS_CTES},
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
clusters AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT d.doc_id, d.lang,
       CASE WHEN c.cluster_id IS NOT NULL THEN 'canonical' ELSE 'unique' END AS kept_as
FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
WHERE c.cluster_id IS NULL OR c.cluster_id = d.doc_id""",
    "minhash_lsh_pairs": _minhash_lsh_sql(),
    # scale-safe width: 4x32-bit bands over md5's full 128 bits
    "simhash_pairs_wide": _simhash_sql(n_bits=128),
    "url_dedup": r"""
WITH urls AS (
  SELECT doc_id,
         'https://' || CASE WHEN doc_id % 5 = 0 THEN 'www.' ELSE '' END ||
         source || '.example.com/p/' || CAST(doc_id % 97 AS VARCHAR) ||
         CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
         '?id=' || CAST(doc_id AS VARCHAR) || '&utm_source=feed' AS url
  FROM documents
),
norm AS (
  SELECT doc_id, url,
         regexp_replace(lower(regexp_extract(url, 'https?://([^/?#]+)', 1)),
                        '^www\.', '') AS host,
         regexp_replace(regexp_extract(url, 'https?://[^/?#]+([^?#]*)', 1),
                        '/+$', '') AS path
  FROM urls
)
SELECT host, path, count(*)::BIGINT AS n_docs,
       count(DISTINCT url)::BIGINT AS n_variants,
       min(doc_id) AS canonical_doc_id
FROM norm GROUP BY host, path""",
    # sliding windows: oracle groups by the window TEXT (the engine's
    # xxhash64 only correlates); ranges collapse via the same
    # gaps-and-islands walk
    "repeated_spans_sliding": f"""
WITH {SLIDING_WINS_CTES},
dups AS (SELECT span_text FROM wins GROUP BY span_text HAVING count(*) >= 2),
hits AS (SELECT doc_id, start FROM wins JOIN dups USING (span_text)),
grouped AS (
  SELECT doc_id, start,
         start - row_number() OVER (PARTITION BY doc_id ORDER BY start) AS grp
  FROM hits
)
SELECT doc_id, min(start)::INT AS range_start,
       (max(start) - min(start) + 8)::INT AS range_len_words,
       count(*)::BIGINT AS n_windows
FROM grouped GROUP BY doc_id, grp""",
    # the cutter: same sliding-window range detection, then words
    # whose 0-based position falls inside any flagged range are
    # dropped and the survivors re-joined in position order (DuckDB
    # string_agg ORDER BY pos == Spark array_sort(struct(pos, w)))
    "remove_repeated_spans": f"""
WITH {SLIDING_WINS_CTES},
dups AS (SELECT span_text FROM wins GROUP BY span_text HAVING count(*) >= 2),
hits AS (SELECT doc_id, start FROM wins JOIN dups USING (span_text)),
{SPAN_RANGES_CTES},
{SPAN_CUT_TAIL_SQL}""",
    # the ALL-BUT-ONE cutter: same sliding sweep, but each repeated
    # window's canonical occurrence (row_number()=1 over (doc_id,
    # start) per span text == the engine's min(struct) argmin) is NOT
    # flagged; ranges collapse over the non-canonical starts only,
    # then the identical positional cut / reassembly
    "remove_repeated_spans_keep_first": f"""
WITH {SLIDING_WINS_CTES},
occ AS (
  SELECT doc_id, start, span_text,
         count(*) OVER (PARTITION BY span_text) AS span_df,
         row_number() OVER (PARTITION BY span_text
                            ORDER BY doc_id, start) AS rn
  FROM wins
),
hits AS (SELECT doc_id, start FROM occ WHERE span_df >= 2 AND rn > 1),
{SPAN_RANGES_CTES},
{SPAN_CUT_TAIL_SQL}""",
    # Engine groups spans by xxhash64(span_text) (8-byte shuffle key);
    # the oracle groups by the text itself — identical counts, and the
    # hash never reaches the output.
    "span_dedup": r"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w <> '') AS ws
  FROM documents
),
full_docs AS (SELECT doc_id, ws, len(ws) AS n FROM toks WHERE len(ws) >= 8),
idx AS (SELECT doc_id, ws, n, unnest(generate_series(0, n // 8 - 1)) AS j FROM full_docs),
spans AS (
  SELECT doc_id, j, array_to_string(ws[j*8+1 : j*8+8], ' ') AS span_text,
         CASE WHEN n % 8 > 0 THEN array_to_string(ws[n - n % 8 + 1 : n], ' ') END AS remainder
  FROM idx
),
counts AS (SELECT span_text, count(*) AS span_df FROM spans GROUP BY span_text),
k AS (SELECT s.*, c.span_df < 2 AS keep FROM spans s JOIN counts c USING (span_text)),
agg AS (
  SELECT doc_id, count(*) AS n_spans,
         sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_kept,
         string_agg(span_text, ' ' ORDER BY j) FILTER (WHERE keep) AS kept_txt,
         any_value(remainder) AS rem
  FROM k GROUP BY doc_id
)
SELECT doc_id, n_spans::BIGINT AS n_spans, n_kept::BIGINT AS n_kept,
       concat_ws(' ', kept_txt, rem) AS text_kept
FROM agg""",
    "dup_rate_by_source": f"""
WITH base AS (
  SELECT source, md5({NORM_TEXT_SQL}) AS fp, doc_id FROM documents
),
counts AS (SELECT fp, count(*) AS n FROM base GROUP BY fp)
SELECT source,
       count(*)::BIGINT AS n_docs,
       count(DISTINCT b.fp)::BIGINT AS n_distinct,
       sum((n > 1)::INT)::BIGINT AS n_dup_docs,
       round(sum((n > 1)::INT)::DOUBLE / count(*), 9) AS dup_rate
FROM base b JOIN counts c USING (fp)
GROUP BY source""",
    # the increment plants both drop kinds (re-crawled priors under
    # +1e7 ids; second copies of (10k+1)th new docs under +2e7 ids) so
    # the hash pins the against-seen AND within-batch drop paths, not
    # just survive (r5 verdict item #5)
    "incremental_dedup_bloom": INCREMENTAL_DEDUP_SQL,
    # blocked fuzzy record linkage: normalized 24-char names + planted
    # edit-distance-1 twins (substitution at char 13 — inside the name,
    # after the 8-char block prefix); block cap and length prefilter
    # replayed; DuckDB's levenshtein is the same classic edit distance
    # as Spark's
    "fuzzy_match_blocked": f"""
WITH norm AS (
  SELECT doc_id, trim(substr({NORM_TEXT_SQL}, 1, 24)) AS name
  FROM documents WHERE length({NORM_TEXT_SQL}) >= 24
),
corpus AS (
  SELECT doc_id, name FROM norm
  UNION ALL
  SELECT doc_id + 1000001,
         substr(name, 1, 12) || '#' || substr(name, 14)
  FROM norm WHERE doc_id % 7 = 3
),
blocked AS (
  SELECT doc_id, name, substr(name, 1, 8) AS blk, length(name) AS ln
  FROM corpus
),
keep AS (
  SELECT b.* FROM blocked b
  JOIN (SELECT blk FROM blocked GROUP BY blk HAVING count(*) <= 200) s
    USING (blk)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       levenshtein(a.name, b.name)::INT AS edit_dist
FROM keep a JOIN keep b
  ON a.blk = b.blk AND a.doc_id < b.doc_id AND abs(a.ln - b.ln) <= 2
WHERE levenshtein(a.name, b.name) <= 2""",
    # multi-pass blocked fuzzy linkage: the single-pass corpus + a
    # second twin family mutated INSIDE the prefix (char 3) + a
    # token-REORDER pair family ("t1 t2" / "t2 t1" from md5(doc_id),
    # <= 4 edits apart); prefix pass UNION last-8 suffix pass UNION
    # sorted-token pass, max_dist=4, distinct — each pass replays the
    # blocked CTE shape above under its own key
    "fuzzy_match_multipass": f"""
WITH norm AS (
  SELECT doc_id, trim(substr({NORM_TEXT_SQL}, 1, 24)) AS name
  FROM documents WHERE length({NORM_TEXT_SQL}) >= 24
),
corpus AS (
  SELECT doc_id, name FROM norm
  UNION ALL
  SELECT doc_id + 1000001,
         substr(name, 1, 12) || '#' || substr(name, 14)
  FROM norm WHERE doc_id % 7 = 3
  UNION ALL
  SELECT doc_id + 2000002,
         substr(name, 1, 2) || '#' || substr(name, 4)
  FROM norm WHERE doc_id % 7 = 5
  UNION ALL
  SELECT doc_id + 3000003,
         substr(md5(doc_id::VARCHAR), 1, 2) || ' ' || substr(md5(doc_id::VARCHAR), 3, 2)
  FROM norm WHERE doc_id % 7 = 1
  UNION ALL
  SELECT doc_id + 4000004,
         substr(md5(doc_id::VARCHAR), 3, 2) || ' ' || substr(md5(doc_id::VARCHAR), 1, 2)
  FROM norm WHERE doc_id % 7 = 1
),
pre AS (
  SELECT doc_id, name, substr(name, 1, 8) AS blk, length(name) AS ln
  FROM corpus
),
suf AS (
  SELECT doc_id, name, right(name, 8) AS blk, length(name) AS ln
  FROM corpus
),
tok AS (
  SELECT doc_id, name,
         array_to_string(list_sort(string_split(name, ' ')), ' ') AS blk,
         length(name) AS ln
  FROM corpus
),
keep_pre AS (
  SELECT b.* FROM pre b
  JOIN (SELECT blk FROM pre GROUP BY blk HAVING count(*) <= 200) s
    USING (blk)
),
keep_suf AS (
  SELECT b.* FROM suf b
  JOIN (SELECT blk FROM suf GROUP BY blk HAVING count(*) <= 200) s
    USING (blk)
),
keep_tok AS (
  SELECT b.* FROM tok b
  JOIN (SELECT blk FROM tok GROUP BY blk HAVING count(*) <= 200) s
    USING (blk)
)
SELECT DISTINCT id_a, id_b, edit_dist FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         levenshtein(a.name, b.name)::INT AS edit_dist
  FROM keep_pre a JOIN keep_pre b
    ON a.blk = b.blk AND a.doc_id < b.doc_id AND abs(a.ln - b.ln) <= 4
  WHERE levenshtein(a.name, b.name) <= 4
  UNION ALL
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         levenshtein(a.name, b.name)::INT AS edit_dist
  FROM keep_suf a JOIN keep_suf b
    ON a.blk = b.blk AND a.doc_id < b.doc_id AND abs(a.ln - b.ln) <= 4
  WHERE levenshtein(a.name, b.name) <= 4
  UNION ALL
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         levenshtein(a.name, b.name)::INT AS edit_dist
  FROM keep_tok a JOIN keep_tok b
    ON a.blk = b.blk AND a.doc_id < b.doc_id AND abs(a.ln - b.ln) <= 4
  WHERE levenshtein(a.name, b.name) <= 4
)""",
    # quality-aware survivorship: clusters (recursive CTE) x quality
    "quality_survivors": f"""
WITH RECURSIVE {CAPPED_PAIRS_CTES},
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
clusters AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
stats AS ({TEXT_STATS_SQL}),
q AS (
  SELECT doc_id,
         {quality_sum_stats_sql()} AS quality
  FROM stats
),
ranked AS (
  SELECT c.cluster_id, c.doc_id, q.quality,
         count(*) OVER (PARTITION BY c.cluster_id) AS n_members,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY q.quality DESC, c.doc_id) AS rn
  FROM clusters c JOIN q ON c.doc_id = q.doc_id
)
SELECT cluster_id, doc_id AS survivor_id, quality AS survivor_quality,
       n_members
FROM ranked WHERE rn = 1""",
    # log-round CC on the chain-planted graph: reachability replay
    "dup_clusters_star": """
WITH RECURSIVE base AS (SELECT doc_id FROM documents),
pairs AS (
  SELECT doc_id AS a, doc_id + 1 AS b FROM base WHERE doc_id % 64 <> 63
  UNION ALL
  SELECT doc_id AS a, doc_id + 96 AS b FROM base WHERE doc_id % 128 = 0
),
edges AS (
  SELECT a, b FROM pairs
  UNION ALL
  SELECT b, a FROM pairs
),
reach(node, r) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges) n
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
)
SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node""",
}
