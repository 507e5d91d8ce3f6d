"""Quality/agreement tests for the approximate dedup + ANN operators
that have no SQL oracle (MinHash-LSH, SimHash, LSH-ANN): they must agree
with their exact counterparts on the fixture corpus."""

from __future__ import annotations

import shutil

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import (
    load_table,
    table_path,
)
from etl_visualization_of_cryptocurrency_trading_data_spark.operators import (
    dedup,
    multimodal,
    similarity,
)

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMOKE, "documents").cache()


def private_copy(tmp_path, name):
    """An sf dir holding a copy of one SF_SMOKE table: its relation is
    new to the session, so no cache left by another test can match a
    plan built over it."""
    shutil.copy(table_path(SF_SMOKE, name), tmp_path)
    return str(tmp_path)


def has_cached_data(df):
    plan = df._jdf.queryExecution().withCachedData().toString()
    return "InMemoryRelation" in plan


def pairs_set(df):
    return {(r.doc_id_a, r.doc_id_b) for r in df.select("doc_id_a", "doc_id_b").collect()}


def test_minhash_lsh_finds_exact_jaccard_pairs(spark, docs):
    """Every pair LSH emits is jaccard-verified (precision 1.0 by
    construction); recall vs exact inverted-index pairs must be high —
    the fixtures' planted near-dups are far above threshold."""
    exact = pairs_set(dedup.ngram_jaccard_pairs(docs, threshold=0.5))
    approx = pairs_set(dedup.minhash_lsh_pairs(docs, threshold=0.5))
    assert approx <= exact, "LSH emitted a pair exact Jaccard rejects"
    assert len(exact) > 0, "fixture should contain planted near-dups"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.95, f"LSH recall {recall:.2f} too low ({len(approx)}/{len(exact)})"


def test_simhash_pairs_overlap_near_dups(spark, docs):
    """SimHash hamming<=3 pairs must be a plausible near-dup set: all
    verified pairs correspond to high-Jaccard pairs of the exact op."""
    exact_low = pairs_set(dedup.ngram_jaccard_pairs(docs, threshold=0.3))
    sim = pairs_set(dedup.simhash_pairs(docs, max_hamming=3))
    assert len(sim) > 0, "planted near-dups should collide in simhash"
    false_pos = sim - exact_low
    assert len(false_pos) <= max(2, len(sim) // 5), f"too many simhash false positives: {false_pos}"


def test_minhash_md5_family_same_guarantees(spark, docs):
    """The md5 (oracle-mode) hash family runs the identical banded-LSH
    plan: precision 1.0 (verified pairs only) and high recall vs the
    exact inverted-index pairs, same as the xxhash64 default."""
    exact = pairs_set(dedup.ngram_jaccard_pairs(docs, threshold=0.5))
    approx = pairs_set(
        dedup.minhash_lsh_pairs(docs, threshold=0.5, hash_family="md5")
    )
    assert approx <= exact
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.95, f"md5-family LSH recall {recall:.2f} too low"


def test_simhash_md5_family_bounded_false_positives(spark, docs):
    sim = pairs_set(dedup.simhash_pairs(docs, max_hamming=3, hash_family="md5"))
    exact_low = pairs_set(dedup.ngram_jaccard_pairs(docs, threshold=0.3))
    assert len(sim) > 0
    false_pos = sim - exact_low
    assert len(false_pos) <= max(2, len(sim) // 5)


def test_knn_vectorized_matches_hof_brute(spark):
    """The numpy-matmul path must return the same neighbors as the
    higher-order-function path (cosines equal to ~1e-12; identical
    ordering under the shared tiebreak)."""
    emb = load_table(spark, SF_SMOKE, "embeddings").cache()
    a = {(r.probe_id, r.rank): (r.neighbor_id, r.cosine)
         for r in similarity.knn_brute(emb, k=5).collect()}
    b = {(r.probe_id, r.rank): (r.neighbor_id, r.cosine)
         for r in similarity.knn_brute_vectorized(emb, k=5).collect()}
    assert set(a) == set(b)
    # cosines must always agree; neighbor ids may differ only when the
    # cosines tie within float noise
    mismatched = [k for k in a if abs(a[k][1] - b[k][1]) > 1e-9]
    assert not mismatched, f"cosines diverge beyond float noise: {mismatched[:5]}"


def test_knn_lsh_subset_of_brute(spark):
    """Bucketed ANN returns pairs from the same bucket only; each
    (probe, neighbor) it reports must appear in the exact top-50 of
    that probe (sanity: buckets keep genuinely-similar vectors)."""
    emb = load_table(spark, SF_SMOKE, "embeddings").cache()
    brute50 = similarity.knn_brute(emb, k=50)
    lsh = similarity.knn_lsh(emb, k=5)
    b = {(r.probe_id, r.neighbor_id) for r in brute50.collect()}
    l = [(r.probe_id, r.neighbor_id) for r in lsh.collect()]
    assert len(l) > 0
    hit = sum(1 for p in l if p in b) / len(l)
    assert hit >= 0.6, f"LSH neighbors poorly ranked vs brute force: {hit:.2f}"


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"]),
            min_size=0,
            max_size=10,
        ),
        min_size=2,
        max_size=7,
    )
)
def test_ngram_jaccard_property_vs_bruteforce(spark, word_lists):
    """Property: engine inverted-index Jaccard pairs == brute-force
    Python set computation for arbitrary tiny corpora (including docs
    shorter than the shingle width, duplicates, and empty docs)."""
    rows = [(i, " ".join(ws)) for i, ws in enumerate(word_lists)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.3).collect()
    }

    def shingles(ws):
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    want = {}
    for i, a in enumerate(word_lists):
        for j in range(i + 1, len(word_lists)):
            sa, sb = shingles(a), shingles(word_lists[j])
            if sa and sb:
                jac = len(sa & sb) / len(sa | sb)
                if jac >= 0.3:
                    want[(i, j)] = jac
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12


def test_ngram_max_df_cap_does_not_bind_at_fixture_scale(spark, docs):
    """The registered df cap (1000) is a pure scale guard here: max
    shingle df in the fixtures is single/double digits, so capped and
    uncapped results must be IDENTICAL (values included — same integer
    counts feed the same division)."""
    capped = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_df=1000).collect()
    }
    uncapped = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_df=None).collect()
    }
    assert capped == uncapped
    assert len(capped) > 0


def test_ngram_max_df_filtered_universe_semantics(spark):
    """When the cap binds, the dropped shingle leaves BOTH the
    intersection and the set sizes (consistent filtered-universe
    Jaccard), rather than only the intersection (which would
    underestimate). 'w1 w2 w3' has df=3 and is dropped at max_df=2;
    the surviving sets are d0={w2w3w4}, d1={w2w3w5},
    d2={w2w3w4, w3w4w6} -> only (d0,d2) with jaccard 1/2."""
    docs = spark.createDataFrame(
        [
            (0, "w1 w2 w3 w4"),
            (1, "w1 w2 w3 w5"),
            (2, "w1 w2 w3 w4 w6"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.4, max_df=2).collect()
    }
    assert got == {(0, 2): 0.5}
    # inconsistent sizes would have yielded 1/(2+2-1) = 1/3 < 0.4 and
    # dropped the (0,2) pair entirely; and the capped run prunes the
    # (0,1) stopword-gram-only link that uncapped still sees (1/3)
    uncapped = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3, max_df=None).collect()
    }
    assert (0, 1) in uncapped


def test_knn_ivf_neighbors_plausible(spark):
    """IVF candidates come only from the probe's n_probe nearest lists;
    every reported neighbor must rank in the probe's exact top-50."""
    emb = load_table(spark, SF_SMOKE, "embeddings").cache()
    b = {(r.probe_id, r.neighbor_id) for r in similarity.knn_brute(emb, k=50).collect()}
    ivf = [(r.probe_id, r.neighbor_id) for r in similarity.knn_ivf(emb, k=5).collect()]
    assert len(ivf) > 0
    hit = sum(1 for p in ivf if p in b) / len(ivf)
    assert hit >= 0.6, f"IVF neighbors poorly ranked vs brute force: {hit:.2f}"


def test_embedding_dup_pairs_verified(spark):
    """Banded-LSH dup pairs are exact-cosine verified: every emitted
    pair must clear the threshold, and candidates must be symmetric-free
    (id_a < id_b, no duplicates)."""
    emb = load_table(spark, SF_SMOKE, "embeddings").cache()
    rows = similarity.embedding_dup_pairs(emb, threshold=0.4).collect()
    pairs = [(r.id_a, r.id_b) for r in rows]
    assert len(pairs) == len(set(pairs))
    assert all(a < b for a, b in pairs)
    assert all(r.cosine >= 0.4 for r in rows)


def test_media_features_deterministic_shape(spark, docs):
    out = multimodal.decode_features(multimodal.media_table(docs.limit(20)))
    rows = out.collect()
    assert len(rows) == 20
    assert all(len(r.features) == multimodal.FEATURE_DIM for r in rows)
    rows2 = multimodal.decode_features(multimodal.media_table(docs.limit(20))).collect()
    assert sorted(map(str, rows)) == sorted(map(str, rows2))


def test_real_decode_gated(spark, docs):
    # decode_features' real path is the sniff dispatch since mid-r7:
    # media_table's utf-8 payloads match no codec magic, so they come
    # back QUARANTINED (fmt='unknown', NULL features), never raising
    out = multimodal.decode_features(
        multimodal.media_table(docs.limit(3)), real_decode=True
    ).collect()
    assert all(r.media_type == "unknown" for r in out)
    assert all(all(v is None for v in r.features) for r in out)
    # extract_frames' real path dispatches WAV (audio windows) and
    # animated GIF (display frames) since r8: any OTHER payload is a
    # caller bug and refuses at decode time
    with pytest.raises(Exception, match="frame extraction unsupported"):
        multimodal.extract_frames(
            multimodal.media_table(docs.limit(2)), real_decode=True
        ).collect()
    # resize_media's real path EXISTS since r7 (resize_pixels) but
    # refuses non-image payloads at decode time instead of pretending
    with pytest.raises(Exception, match="not a binary PPM"):
        multimodal.resize_media(
            multimodal.media_table(docs.limit(2)), real_decode=True
        ).collect()


def test_resize_media_shape(spark, docs):
    out = multimodal.resize_media(multimodal.media_table(docs.limit(10)), 224, 224)
    rows = out.collect()
    assert len(rows) == 10
    expected_len = 224 * 224 // 64
    assert all(len(r.payload) == expected_len for r in rows)
    assert all(r.width == 224 and r.height == 224 for r in rows)


def test_resample_nearest_handcrafted():
    """2x2 -> 4x4 nearest: each source pixel becomes a 2x2 block
    (src = (dst * 2) // 4), and resizing to the SAME dims is the
    identity — the integer mapping the registered oracle replays."""
    import numpy as np

    px = np.array(
        [[[10, 11, 12], [20, 21, 22]], [[30, 31, 32], [40, 41, 42]]],
        dtype=np.uint8,
    )
    up = multimodal._resample(px, 4, 4, "nearest")
    assert up.shape == (4, 4, 3)
    for ro in range(4):
        for co in range(4):
            assert (up[ro, co] == px[ro // 2, co // 2]).all()
    same = multimodal._resample(px, 2, 2, "nearest")
    assert (same == px).all()


def test_resample_bilinear_handcrafted():
    """1x2 [0, 255] -> 1x4 under half-pixel-centered bilinear with
    edge clamp: positions -0.25, 0.25, 0.75, 1.25 give exactly
    [0, 64, 191, 255] (0.25/0.75 blends, round half up)."""
    import numpy as np

    px = np.array([[[0], [255]]], dtype=np.uint8)  # h=1, w=2, c=1
    out = multimodal._resample(px, 1, 4, "bilinear")
    assert out[0, :, 0].tolist() == [0, 64, 191, 255]
    # identity resize reproduces the source exactly (frac = 0 everywhere)
    same = multimodal._resample(px, 1, 2, "bilinear")
    assert (same == px).all()


def test_resize_pixels_composes_with_decode(spark, docs):
    """decode -> resize -> decode: the resized payload is a complete
    P6 file decode_ppm opens, dims are the target, and the channel
    means equal a numpy replay of the same nearest mapping."""
    import numpy as np

    media = multimodal.ppm_table(docs.limit(12))
    resized = multimodal.resize_pixels(media, target_w=6, target_h=5)
    decoded = {r.doc_id: r for r in multimodal.decode_ppm(resized).collect()}
    for src in media.collect():
        d = src.doc_id
        w, h, _, off = multimodal._ppm_parse_header(bytes(src.payload))
        px = np.frombuffer(
            bytes(src.payload), dtype=np.uint8, count=w * h * 3, offset=off
        ).reshape(h, w, 3)
        want = multimodal._resample(px, 5, 6, "nearest").astype(np.float64)
        got = decoded[d]
        assert (got.width, got.height, got.n_pixels) == (6, 5, 30)
        assert got.mean_r == pytest.approx(want[:, :, 0].mean())
        assert got.mean_g == pytest.approx(want[:, :, 1].mean())
        assert got.mean_b == pytest.approx(want[:, :, 2].mean())


def test_frame_extract_matches_schedule(spark, docs):
    media = multimodal.media_table(docs)
    sched = multimodal.frame_schedule(media, every_s=10.0)
    frames = multimodal.extract_frames(media, every_s=10.0)
    assert frames.count() == sched.count()
    r = frames.limit(5).collect()
    assert all(len(x.frame_features) == multimodal.FEATURE_DIM for x in r)
    # no frame timestamp at or past the clip duration (fencepost)
    joined = sched.join(
        media.select("doc_id", "duration_s"), "doc_id"
    )
    assert joined.filter(F.col("frame_ts") >= F.col("duration_s")).count() == 0


def test_media_stages_compose(spark, docs):
    """resize keeps all metadata, so frame sampling runs on its output."""
    media = multimodal.media_table(docs.limit(30))
    resized = multimodal.resize_media(media, 224, 224)
    assert set(resized.columns) == set(media.columns)
    frames = multimodal.extract_frames(resized, every_s=10.0)
    assert frames.count() == multimodal.frame_schedule(media, 10.0).count()


# ---------------------------------------------------------------------------
# normalize / quantize
# ---------------------------------------------------------------------------


def test_normalize_embeddings_units_and_zero(spark):
    import math

    from pyspark.sql import functions as F

    emb = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r.vec_id: r for r in similarity.normalize_embeddings(emb).collect()}
    assert rows[1].l2_norm == pytest.approx(5.0)
    assert rows[1].emb == pytest.approx([0.6, 0.8])
    # unit norm after normalization
    assert math.hypot(*rows[1].emb) == pytest.approx(1.0)
    # zero vector -> null direction, norm 0
    assert rows[2].emb is None and rows[2].l2_norm == 0.0


def test_quantize_embeddings_roundtrip_error_bounded(spark):
    emb = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r.vec_id: r for r in similarity.quantize_embeddings(emb).collect()}
    r = rows[1]
    # max|x| = 1.0 -> scale 127; codes are round(x * 127)
    assert r.scale == pytest.approx(127.0)
    assert r.q == [64, -127, 32]  # floor(63.5+0.5), floor(-127+0.5), floor(31.75+0.5)
    # dequantized error bounded by half a quantization step
    for orig, code in zip([0.5, -1.0, 0.25], r.q):
        assert abs(orig - code / r.scale) <= 0.5 / r.scale + 1e-12
    assert rows[2].scale is None and rows[2].q is None


def test_kmeans_centroids_converges_to_cluster_means(spark):
    # Two well-separated clusters; ids 1 and 102 (both ≡ 1 mod 101)
    # seed the two initial centroids.
    pts = {
        1: [0.0, 0.0], 2: [1.0, 0.0], 3: [0.0, 1.0],          # cluster A
        102: [10.0, 10.0], 103: [11.0, 10.0], 104: [10.0, 11.0],  # cluster B
    }
    emb = spark.createDataFrame(
        [(i, v) for i, v in pts.items()], "vec_id long, embedding array<float>"
    )
    rows = {r.cent_id: r for r in similarity.kmeans_centroids(emb, iters=2).collect()}
    assert set(rows) == {1, 102}
    assert rows[1].n_members == 3 and rows[102].n_members == 3
    assert rows[1].cent == pytest.approx([1 / 3, 1 / 3])
    assert rows[102].cent == pytest.approx([31 / 3, 31 / 3])


def test_knn_ivf_caches_the_assignment_only_for_passed_centroids(spark, tmp_path):
    """Trained centroids carry their training subtree into both
    consumers of the ranked assignment, so it is cached; sample
    centroids are cheap and their identical subtrees hit
    ReuseExchange, so it is not."""
    emb = load_table(spark, private_copy(tmp_path, "embeddings"), "embeddings")
    cents = similarity.kmeans_centroids(emb, iters=2)
    assert has_cached_data(similarity.knn_ivf(emb, centroids=cents))
    assert not has_cached_data(similarity.knn_ivf(emb))


@pytest.mark.parametrize("name", ["dedup_survivors", "quality_survivors"])
def test_survivors_queries_cache_the_posting_table(spark, tmp_path, name):
    """Both survivors queries build their pair graph with
    ngram_jaccard_pairs, which caches its posting table (four
    consumers). The pair graph is checkpointed eagerly inside
    connected_components_star, so the cache shows in the session's
    cache manager, not in the returned plan."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.plans.registry import (
        QUERIES,
    )

    sf = private_copy(tmp_path, "documents")
    QUERIES[name](spark, sf)
    postings = dedup._shingle_postings(load_table(spark, sf, "documents"), 3)
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.lookupCachedData(postings._jdf).isDefined()
    postings.unpersist()


def test_kmeans_requires_at_least_one_iter(spark):
    emb = spark.createDataFrame([(1, [0.0])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError):
        similarity.kmeans_centroids(emb, iters=0)


def test_knn_ivf_accepts_trained_centroids(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    brute = {(r.probe_id, r.neighbor_id) for r in similarity.knn_brute(emb, k=5).collect()}
    cents = similarity.kmeans_centroids(emb, iters=2)
    trained = similarity.knn_ivf(emb, k=5, centroids=cents)
    got = {(r.probe_id, r.neighbor_id) for r in trained.collect()}
    # same output contract as the sample-centroid path
    assert trained.columns == similarity.knn_ivf(emb, k=5).columns
    # measured 0.62 at this sf; floor well below to avoid flakiness
    assert len(got & brute) / len(brute) >= 0.5


def test_knn_quantized_recall_vs_exact(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    brute = {(r.probe_id, r.neighbor_id) for r in similarity.knn_brute(emb, k=5).collect()}
    q8 = {(r.probe_id, r.neighbor_id) for r in similarity.knn_quantized(emb, k=5).collect()}
    # int8 cosine distorts ranks only near ties; recall stays high
    recall = len(q8 & brute) / len(brute)
    assert recall >= 0.8, recall


def test_url_dedup_collapses_spelling_variants(spark):
    """www./trailing-slash/query-string spellings of one page collapse
    to a single normalized row with a deterministic (min id) survivor."""
    rows = [
        (1, "https://www.EXAMPLE.com/a/b/?utm=x"),
        (2, "https://example.com/a/b?id=2"),
        (3, "https://example.com/a/b"),
        (4, "https://example.com/a/c"),
        (5, "https://other.org/a/b"),
    ]
    out = dedup.url_dedup(
        spark.createDataFrame(rows, ["doc_id", "url"])
    ).toPandas().set_index(["host", "path"])
    assert out.loc[("example.com", "/a/b")].to_dict() == {
        "n_docs": 3, "n_variants": 3, "canonical_doc_id": 1
    }
    assert out.loc[("example.com", "/a/c")]["n_docs"] == 1
    assert out.loc[("other.org", "/a/b")]["n_docs"] == 1
    assert len(out) == 3


def test_knn_recall_floors_hold_on_fixture(spark):
    """The ANN quality contract must clear its floors on the fixture
    corpus, and recall must equal n_hits/n_truth exactly."""
    out = similarity.knn_recall(
        load_table(spark, SF_SMOKE, "embeddings")
    ).toPandas().set_index("method")
    assert set(out.index) == {"lsh", "lsh_mp", "ivf"}
    assert bool(out["meets_floor"].all())
    for m in ("lsh", "lsh_mp", "ivf"):
        r = out.loc[m]
        assert r["recall_at_k"] == round(r["n_hits"] / r["n_truth"], 6)
    # strict quality ordering on these fixtures, worth pinning:
    # multiprobe dominates single-probe (it searches a superset of
    # buckets), and ivf's two coarse lists beat both
    assert out.loc["lsh_mp", "recall_at_k"] > out.loc["lsh", "recall_at_k"]
    assert out.loc["ivf", "recall_at_k"] > out.loc["lsh_mp", "recall_at_k"]


def test_decode_ppm_parses_real_payloads(spark):
    """decode_ppm is a REAL parser: a handcrafted spec-compliant P6
    payload (with a header comment and non-trivial whitespace) decodes
    to the exact pixel means; a non-PPM payload raises rather than
    guessing."""
    import numpy as np

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(3, 2, 3)
    payload = b"P6\n# a comment\n2 3\n255\n" + px.tobytes()
    out = (
        multimodal.decode_ppm(
            spark.createDataFrame([(7, bytearray(payload))], "doc_id long, payload binary")
        )
        .toPandas()
        .iloc[0]
    )
    assert (out["width"], out["height"], out["n_pixels"]) == (2, 3, 6)
    for i, c in enumerate(["mean_r", "mean_g", "mean_b"]):
        assert out[c] == round(float(px[:, :, i].mean()), 6)
    import pytest as _pytest

    with _pytest.raises(Exception, match="PPM|P6"):
        multimodal.decode_ppm(
            spark.createDataFrame(
                [(8, bytearray(b"GIF89a not a ppm"))], "doc_id long, payload binary"
            )
        ).collect()


def test_ppm_corpus_roundtrip(spark, docs):
    """ppm_table payloads are complete image files: decode_ppm's
    header-derived dims must equal the generator's metadata columns."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    media = multimodal.ppm_table(docs.limit(20))
    decoded = multimodal.decode_ppm(media)
    j = media.select("doc_id", F.col("width").alias("w"), F.col("height").alias("h")).join(
        decoded, "doc_id"
    )
    bad = j.filter((F.col("w") != F.col("width")) | (F.col("h") != F.col("height")))
    assert j.count() == 20 and bad.count() == 0


def test_wav_corpus_opens_with_stdlib_wave(spark, docs):
    """wav_table payloads are complete RIFF/WAVE files: the stdlib
    ``wave`` module (an independent third-party parser) must open them
    and agree with the generator's metadata AND the raw samples."""
    import io
    import wave as wave_mod

    import numpy as np

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    rows = multimodal.wav_table(docs.limit(10)).collect()
    assert len(rows) == 10
    for r in rows:
        with wave_mod.open(io.BytesIO(bytes(r.payload))) as w:
            assert w.getnchannels() == r.n_channels
            assert w.getframerate() == r.sample_rate
            assert w.getnframes() == r.n_frames
            assert w.getsampwidth() == 2
            frames = np.frombuffer(w.readframes(r.n_frames), dtype="<i2")
        d = r.doc_id
        i = np.arange(r.n_frames, dtype=np.int64)[:, None]
        ch = np.arange(r.n_channels, dtype=np.int64)[None, :]
        expect = (d * 31 + i * 17 + ch * 7919) % 65536 - 32768
        assert (frames.reshape(r.n_frames, r.n_channels) == expect).all()


def test_decode_wav_chunk_walker(spark):
    """decode_wav is a REAL RIFF parser: chunks in non-canonical order
    with an unknown odd-sized chunk in between (word-aligned skip per
    the spec) still decode to the exact sample sums; a non-WAV payload
    raises rather than guessing."""
    import struct

    import numpy as np
    import pytest as _pytest

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    samples = np.array([-3, 0, 5, 32767, -32768, 12], dtype="<i2")  # 3 stereo frames
    data = samples.tobytes()
    junk = b"JUNK" + struct.pack("<I", 3) + b"abc" + b"\x00"  # odd size, padded
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 8000, 8000 * 4, 4, 16)
    body = junk + b"data" + struct.pack("<I", len(data)) + data + fmt
    payload = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    out = (
        multimodal.decode_wav(
            spark.createDataFrame([(3, bytearray(payload))], "doc_id long, payload binary")
        )
        .toPandas()
        .iloc[0]
    )
    s = samples.astype(np.int64)
    assert (out["n_channels"], out["sample_rate"], out["n_frames"]) == (2, 8000, 3)
    assert out["sum_amp"] == s.sum() and out["sum_sq"] == (s * s).sum()
    assert out["rms"] == round(float(np.sqrt((s * s).sum() / s.size)), 6)

    with _pytest.raises(Exception, match="RIFF|WAVE"):
        multimodal.decode_wav(
            spark.createDataFrame(
                [(4, bytearray(b"OggS not a wav file"))], "doc_id long, payload binary"
            )
        ).collect()


def test_knn_pq_recall_vs_exact_l2(spark, docs):
    """PQ-ADC top-5 must overlap the EXACT L2 top-5 (numpy ground
    truth) well above chance, every probe must get exactly k
    neighbors, and every corpus vector must encode to m in-range
    codes."""
    import numpy as np

    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import load_table
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import similarity

    emb = load_table(spark, SF_SMOKE, "embeddings")
    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    probes = [v for v in vecs if v % 50 == 0]

    out = similarity.knn_pq(emb, k=5).collect()
    got = {}
    for r in out:
        got.setdefault(r.probe_id, []).append(r.neighbor_id)
    assert set(got) == set(probes)
    assert all(len(v) == 5 for v in got.values())

    hits = total = 0
    for p in probes:
        d = {v: float(((vecs[p] - x) ** 2).sum()) for v, x in vecs.items() if v != p}
        truth = set(sorted(d, key=lambda v: (d[v], v))[:5])
        hits += len(truth & set(got[p]))
        total += 5
    recall = hits / total
    # 64 codes x 16 subspaces, data-point init + one Lloyd round:
    # measured 0.48 at sf0.001; chance overlap is ~5/500 = 1%.
    assert recall >= 0.30, f"PQ recall@5 {recall:.2f}"

    cb = similarity.pq_codebooks(emb)
    enc = similarity.pq_encode(emb, cb).collect()
    per_vec = {}
    for r in enc:
        assert 0 <= r.code < 64 and 0 <= r.sub < 16
        per_vec.setdefault(r.vec_id, set()).add(r.sub)
    assert all(subs == set(range(16)) for subs in per_vec.values())


def test_knn_ivf_pq_routing_and_recall(spark):
    """The composed index's candidates must respect IVF routing (every
    returned neighbor lives in one of its probe's n_probe probed
    lists), per-probe results never exceed k, and recall@5 vs exact L2
    stays above chance while (by construction) ≤ full-corpus PQ's —
    routing only ever REMOVES candidates."""
    import numpy as np

    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import load_table
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import similarity

    emb = load_table(spark, SF_SMOKE, "embeddings")
    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    probes = [v for v in vecs if v % 50 == 0]

    # replicate the coarse assignment: cosine argmax over the sampled
    # centroids, ties by centroid id
    cents = {v: x for v, x in vecs.items() if v % 101 == 1}

    def ranked_lists(v):
        x = vecs[v]
        cos = {
            c: float(x @ y / (np.linalg.norm(x) * np.linalg.norm(y)))
            for c, y in cents.items()
        }
        return sorted(cos, key=lambda c: (-cos[c], c))

    home = {v: ranked_lists(v)[0] for v in vecs}

    out = similarity.knn_ivf_pq(emb, k=5).collect()
    got = {}
    for r in out:
        got.setdefault(r.probe_id, []).append(r.neighbor_id)
    assert set(got) <= set(probes)
    assert all(len(v) <= 5 for v in got.values())
    for p, neighbors in got.items():
        probed = set(ranked_lists(p)[:2])
        for nb in neighbors:
            assert home[nb] in probed, (p, nb, home[nb], probed)

    pq_out = similarity.knn_pq(emb, k=5).collect()
    pq_pairs = {(r.probe_id, r.neighbor_id) for r in pq_out}

    hits = pq_hits = total = 0
    for p in probes:
        d = {v: float(((vecs[p] - x) ** 2).sum()) for v, x in vecs.items() if v != p}
        truth = set(sorted(d, key=lambda v: (d[v], v))[:5])
        hits += len(truth & set(got.get(p, [])))
        pq_hits += len(truth & {nb for q, nb in pq_pairs if q == p})
        total += 5
    recall = hits / total
    assert recall >= 0.10, f"IVF-PQ recall@5 {recall:.2f}"
    assert hits <= pq_hits, "routing cannot ADD recall over full-corpus PQ"


def test_dup_rate_by_source_cross_source(spark):
    """A content duplicated ACROSS sources counts against every
    carrier; whitespace/case variants collapse to one fingerprint."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "Shared  Text", "en", "web", 11),
            (2, "shared text", "en", "books", 11),   # same normalized content
            (3, "unique one", "en", "web", 10),
            (4, "unique two", "en", "web", 10),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r.source: r for r in dedup.dup_rate_by_source(docs).collect()}
    web = out["web"]
    assert web.n_docs == 3 and web.n_distinct == 3 and web.n_dup_docs == 1
    assert web.dup_rate == round(1 / 3, 9)
    books = out["books"]
    assert books.n_docs == 1 and books.n_dup_docs == 1 and books.dup_rate == 1.0


def test_knn_ivf_pq_recall_contract(spark):
    """The composed-index recall contract: floor met on the fixture,
    and recall ≤ knn_pq_recall's (routing only removes candidates) —
    the decomposition the three contracts exist for."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import load_table
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import similarity

    emb = load_table(spark, SF_SMOKE, "embeddings")
    r = similarity.knn_ivf_pq_recall(emb, k=5).collect()[0]
    assert r.method == "ivf_pq" and r.meets_floor
    pq = similarity.knn_pq_recall(emb, k=5).collect()[0]
    assert r.recall_at_k <= pq.recall_at_k
    assert r.n_probes == pq.n_probes


def test_incremental_dedup_drop_paths(spark):
    """Both drop paths on a handcrafted increment: a doc matching the
    seen table drops, within-batch duplicates collapse to the min
    doc_id, whitespace/case variants hash together, and novel content
    survives with its payload columns intact."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.functions.text import (
        normalized_text,
    )
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import dedup
    from pyspark.sql import functions as F

    prior = spark.createDataFrame(
        [(1, "already ingested content", "en", "web", 24)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    seen = prior.select(F.md5(normalized_text(F.col("text"))).alias("fp")).distinct()
    new = spark.createDataFrame(
        [
            (10, "Already  Ingested content", "en", "web", 25),  # vs history
            (11, "fresh thing", "en", "web", 11),
            (12, "fresh  THING", "en", "books", 12),             # within-batch dup of 11
            (13, "another novel doc", "en", "web", 17),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r.doc_id: r for r in dedup.incremental_dedup(new, seen).collect()}
    assert set(out) == {11, 13}
    assert out[11].source == "web" and out[11].text == "fresh thing"
    assert out[13].n_chars == 17


def test_simhash_wide_bands_and_validation(spark, docs):
    """n_bits=128 (the scale-safe 4x32-bit band width) keeps SimHash's
    contract: identical docs pair at hamming 0, emitted pairs are a
    subset of the 64-bit configuration's near-dup set restricted to the
    SHARED low 64 bits is not required (different metric) — what IS
    required is that every emitted pair verifies at hamming<=3 on the
    128-bit fingerprint, and the planted exact-identical pair appears.
    Non-md5 or unsupported widths must raise, not silently downgrade."""
    two = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "completely unrelated text about spark shuffles and parquet files"),
        ],
        "doc_id long, text string",
    )
    wide = dedup.simhash_pairs(two, hash_family="md5", n_bits=128).collect()
    assert {(r.doc_id_a, r.doc_id_b, r.hamming) for r in wide} == {(1, 2, 0)}

    # fixture corpus: every wide pair is hamming-verified <= 3
    rows = dedup.simhash_pairs(docs, hash_family="md5", n_bits=128).collect()
    assert all(r.hamming <= 3 for r in rows)

    with pytest.raises(ValueError, match="md5"):
        dedup.simhash_pairs(docs, n_bits=128)  # xxhash64 is 64-bit only
    with pytest.raises(ValueError, match="64 or 128"):
        dedup.simhash_pairs(docs, hash_family="md5", n_bits=96)


def test_lsh_hyperplanes_are_prefix_stable():
    """hyperplanes(8)[:4] == hyperplanes(4): the seeded generator draws
    row-major, so widening the plane count REFINES the bucketing (every
    8-plane bucket is a subset of a 4-plane bucket) instead of
    rehashing the space — which is what makes the n_planes dial a
    monotone candidate-set shrink."""
    assert similarity.hyperplanes(8)[:4] == similarity.hyperplanes(4)


def test_knn_lsh_planes8_refines_4plane_buckets(spark):
    """Every neighbor the 8-plane search returns shares the probe's
    4-plane bucket too (prefix-stability above made concrete on the
    fixture corpus): the scale-safe configuration only ever SHRINKS
    candidate sets."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    out = similarity.knn_lsh(emb, k=5, n_planes=8)
    planes4 = similarity.hyperplanes(4)
    b4 = emb.select(
        "vec_id",
        similarity.lsh_bucket(
            F.transform("embedding", lambda x: x.cast("double")), planes4
        ).alias("b4"),
    )
    joined = (
        out.join(b4.withColumnRenamed("vec_id", "probe_id").withColumnRenamed("b4", "pb"), "probe_id")
        .join(b4.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed("b4", "nb"), "neighbor_id")
    )
    assert joined.filter(F.col("pb") != F.col("nb")).count() == 0
    assert out.count() > 0


def test_knn_lsh_planes8_planted_recall_floor(spark):
    """The registered knn_lsh_planes8 corpus plants an exact twin of
    every probe under vec_id + 1000001 (registry.q_knn_lsh_planes8):
    identical sign bits collide in EVERY bucketing, so planted recall
    must be 1.0 — each probe's rank-1 neighbor is its twin at cosine
    ~1. This is what makes the driver row non-vacuous on quality
    (r6: 256 buckets over ~500 random fixture vectors => recall ≈ 0,
    the hash certified candidate generation only)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    twins = emb.filter(F.col("vec_id") % 50 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_001)
    )
    out = similarity.knn_lsh(emb.unionByName(twins), k=5, n_planes=8)
    probes = [r.vec_id for r in emb.filter(F.col("vec_id") % 50 == 0).select("vec_id").collect()]
    assert probes, "fixture has no probes"
    top1 = {
        r.probe_id: (r.neighbor_id, r.cosine)
        for r in out.filter(F.col("rank") == 1).collect()
    }
    for p in probes:
        assert p in top1, f"probe {p} found no candidates"
        nid, cos = top1[p]
        assert nid == p + 1_000_001, f"probe {p} rank-1 is {nid}, not its twin"
        assert cos == pytest.approx(1.0)


def test_knn_ivf_fixed_c_recall_floor(spark):
    """The fixed-C coarse index (centroid_limit=32) must stay a usable
    ANN index, not just a fast one: recall@5 vs brute truth >= 0.25 on
    the fixture corpus (measured 0.40 at sf0.001 / 0.30 at sf0.01 —
    floor sits under both with margin)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    truth = {
        (r.probe_id, r.neighbor_id)
        for r in similarity.knn_brute(emb, k=5).select("probe_id", "neighbor_id").collect()
    }
    approx = {
        (r.probe_id, r.neighbor_id)
        for r in similarity.knn_ivf(emb, k=5, centroid_limit=32)
        .select("probe_id", "neighbor_id")
        .collect()
    }
    assert len(truth) > 0
    assert len(truth & approx) / len(truth) >= 0.25


def test_decode_png_handcrafted_all_filters(spark):
    """decode_png is a REAL decoder: a handcrafted PNG whose five
    scanlines use filter types 0..4 (None/Sub/Up/Average/Paeth)
    reconstructs the exact pixels; a corrupted CRC and a non-PNG
    payload raise rather than guessing."""
    import struct
    import zlib

    import numpy as np

    w, h = 2, 5
    px = (np.arange(w * h * 3, dtype=np.int64) * 37 % 256).astype(np.uint8).reshape(h, w * 3)
    stream = bytearray()
    prev = bytes(w * 3)
    for r in range(h):
        raw = px[r].tobytes()
        stream += bytes([r % 5]) + multimodal._png_filter_row(r % 5, raw, prev)
        prev = raw
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + multimodal._png_chunk(b"IHDR", ihdr)
        + multimodal._png_chunk(b"IDAT", zlib.compress(bytes(stream)))
        + multimodal._png_chunk(b"IEND", b"")
    )
    out = (
        multimodal.decode_png(
            spark.createDataFrame([(9, bytearray(payload))], "doc_id long, payload binary")
        )
        .toPandas()
        .iloc[0]
    )
    pix = px.reshape(h, w, 3).astype(float)
    assert (out["width"], out["height"], out["n_pixels"]) == (2, 5, 10)
    for i, c in enumerate(["mean_r", "mean_g", "mean_b"]):
        assert out[c] == round(float(pix[:, :, i].mean()), 6)

    corrupted = bytearray(payload)
    corrupted[-5] ^= 0xFF  # last byte of IEND's CRC
    with pytest.raises(Exception, match="CRC"):
        multimodal.decode_png(
            spark.createDataFrame([(10, corrupted)], "doc_id long, payload binary")
        ).collect()
    with pytest.raises(Exception, match="PNG"):
        multimodal.decode_png(
            spark.createDataFrame(
                [(11, bytearray(b"GIF89a not a png"))], "doc_id long, payload binary"
            )
        ).collect()


def test_png_and_ppm_decoders_agree(spark, docs):
    """png_table and ppm_table encode the SAME closed-form pixels in
    two different real formats; decoding each with its own parser must
    produce identical frames — two independent codec paths
    cross-checking each other (the PNG path additionally exercises all
    five scanline filters, cycled per row by the generator)."""
    sample = docs.limit(25)
    via_png = multimodal.decode_png(multimodal.png_table(sample)).toPandas()
    via_ppm = multimodal.decode_ppm(multimodal.ppm_table(sample)).toPandas()
    via_png = via_png.sort_values("doc_id").reset_index(drop=True)
    via_ppm = via_ppm.sort_values("doc_id").reset_index(drop=True)
    assert via_png.equals(via_ppm)


def test_decode_bmp_handcrafted_semantics(spark):
    """decode_bmp's three format hazards pinned on a handcrafted 2x2
    24-bit BMP: rows stored BOTTOM-UP, channels stored BGR, rows
    padded to 4 bytes (2*3=6 -> stride 8). Image-space pixels are
    TL=(1,2,3) TR=(4,5,6) / BL=(7,8,9) BR=(10,11,12); the payload
    stores the bottom row first, each pixel as B,G,R, plus 2 pad
    bytes per row. A top-down variant (height = -2) must decode to
    the same image without the flip."""
    import struct

    def bmp(h_signed: int, row_first: bytes, row_second: bytes) -> bytes:
        body = row_first + b"\x00\x00" + row_second + b"\x00\x00"
        off = 54
        return (
            b"BM"
            + struct.pack("<IHHI", off + len(body), 0, 0, off)
            + struct.pack("<IiiHHIIiiII", 40, 2, h_signed, 1, 24, 0,
                          len(body), 0, 0, 0, 0)
            + body
        )

    top = bytes([3, 2, 1, 6, 5, 4])      # TL, TR as B,G,R
    bottom = bytes([9, 8, 7, 12, 11, 10])  # BL, BR as B,G,R
    bottom_up = bmp(2, bottom, top)      # spec default: bottom row first
    top_down = bmp(-2, top, bottom)      # negative height: image order
    media = spark.createDataFrame(
        [(1, bytearray(bottom_up)), (2, bytearray(top_down))],
        "doc_id long, payload binary",
    )
    got = {r.doc_id: r for r in multimodal.decode_bmp(media).collect()}
    for d in (1, 2):
        r = got[d]
        assert (r.width, r.height, r.n_pixels) == (2, 2, 4)
        # px01 = image-space top-right pixel = (4, 5, 6) in RGB
        assert (r.px01_r, r.px01_g, r.px01_b) == (4, 5, 6)
        assert r.mean_r == pytest.approx((1 + 4 + 7 + 10) / 4)
        assert r.mean_g == pytest.approx((2 + 5 + 8 + 11) / 4)
        assert r.mean_b == pytest.approx((3 + 6 + 9 + 12) / 4)
    with pytest.raises(Exception, match="not a BMP"):
        multimodal.decode_bmp(
            spark.createDataFrame(
                [(9, bytearray(b"P6 not a bmp"))], "doc_id long, payload binary"
            )
        ).collect()


def test_bmp_and_ppm_decoders_agree(spark, docs):
    """bmp_table and ppm_table encode the SAME closed-form pixels in
    two different real formats; decoding each with its own parser must
    produce identical channel statistics — independent codec paths
    cross-checking each other (the BMP path additionally exercises
    bottom-up row order, BGR, and stride padding)."""
    sample = docs.limit(25)
    via_bmp = (
        multimodal.decode_bmp(multimodal.bmp_table(sample))
        .drop("px01_r", "px01_g", "px01_b")
        .toPandas()
    )
    via_ppm = multimodal.decode_ppm(multimodal.ppm_table(sample)).toPandas()
    via_bmp = via_bmp.sort_values("doc_id").reset_index(drop=True)
    via_ppm = via_ppm.sort_values("doc_id").reset_index(drop=True)
    assert via_bmp.equals(via_ppm)


def test_gif_lzw_roundtrip_fuzz():
    """The from-scratch GIF LZW codec round-trips arbitrary byte
    streams — random data (incompressible, max dict growth),
    repetitive data (KwKwK + width bumps), streams long enough to
    force the 4096-entry dictionary reset, and small min-code-sizes."""
    import numpy as np

    enc, dec = multimodal._gif_lzw_encode, multimodal._gif_lzw_decode
    rng = np.random.RandomState(7)
    for _ in range(30):
        data = bytes(rng.randint(0, 256, rng.randint(1, 4000), dtype=np.uint8))
        assert dec(enc(data)) == data
    for pat in [b"\x00" * 10000, bytes(range(256)) * 40, b"ab" * 8000, b"a" * 4097]:
        assert dec(enc(pat)) == pat
    for mcs in (2, 4):
        data = bytes(rng.randint(0, 1 << mcs, 3000, dtype=np.uint8))
        assert dec(enc(data, mcs), mcs) == data
    with pytest.raises(ValueError, match="without EOI"):
        dec(enc(b"abc")[:-2])


def test_decode_gif_handcrafted_with_extension(spark):
    """A handcrafted 2x2 GIF89a with a graphic-control EXTENSION block
    before the image descriptor (decode must skip it), a 4-entry
    palette, and 2-bit LZW codes decodes to the exact palette colors;
    non-GIF bytes and interlaced frames raise."""
    import struct

    palette = bytes(
        [10, 11, 12, 20, 21, 22, 30, 31, 32, 40, 41, 42]
    )  # entries 0..3
    indices = bytes([0, 1, 2, 3])
    lzw = multimodal._gif_lzw_encode(indices, 2)
    ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # GCE: label, 4-byte block, term
    payload = (
        b"GIF89a"
        + struct.pack("<HHBBB", 2, 2, 0x80 | 0x01, 0, 0)  # GCT, 4 entries
        + palette
        + ext
        + b"\x2c"
        + struct.pack("<HHHHB", 0, 0, 2, 2, 0)
        + bytes([2])
        + bytes([len(lzw)])
        + lzw
        + b"\x00\x3b"
    )
    media = spark.createDataFrame(
        [(5, bytearray(payload))], "doc_id long, payload binary"
    )
    r = multimodal.decode_gif(media).collect()[0]
    assert (r.width, r.height, r.n_pixels) == (2, 2, 4)
    assert r.mean_r == pytest.approx((10 + 20 + 30 + 40) / 4)
    assert r.mean_g == pytest.approx((11 + 21 + 31 + 41) / 4)
    assert r.mean_b == pytest.approx((12 + 22 + 32 + 42) / 4)
    with pytest.raises(Exception, match="not a GIF"):
        multimodal.decode_gif(
            spark.createDataFrame(
                [(9, bytearray(b"BM not a gif"))], "doc_id long, payload binary"
            )
        ).collect()
    interlaced = payload.replace(
        struct.pack("<HHHHB", 0, 0, 2, 2, 0), struct.pack("<HHHHB", 0, 0, 2, 2, 0x40)
    )
    with pytest.raises(Exception, match="interlaced"):
        multimodal.decode_gif(
            spark.createDataFrame(
                [(6, bytearray(interlaced))], "doc_id long, payload binary"
            )
        ).collect()


def test_incremental_dedup_bloom_equals_exact(spark, docs):
    """The Bloom-prefiltered increment must be BIT-IDENTICAL to the
    exact form on the full planted increment (re-crawled priors,
    within-batch copies, genuinely-new docs) — the equivalence the
    driver hash pins at sf0.01, pinned here at sf0.001 with a small
    filter (m=2^12) so false positives actually occur and flow
    through the exact verify."""
    prior = docs.filter(F.col("doc_id") % 2 == 0)
    new_base = docs.filter(F.col("doc_id") % 2 == 1)
    recrawl = prior.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000_000)
    )
    within = new_base.filter(F.col("doc_id") % 10 == 1).withColumn(
        "doc_id", F.col("doc_id") + F.lit(20_000_000)
    )
    new = new_base.unionByName(recrawl).unionByName(within)
    from etl_visualization_of_cryptocurrency_trading_data_spark.functions.text import (
        normalized_text,
    )

    seen = prior.select(F.md5(normalized_text(F.col("text"))).alias("fp")).distinct()
    exact = {
        (r.doc_id, r.fp) for r in dedup.incremental_dedup(new, seen).collect()
    }
    bloom = {
        (r.doc_id, r.fp)
        for r in dedup.incremental_dedup_bloom(new, seen, m_bits=1 << 12).collect()
    }
    assert bloom == exact and exact


def test_bloom_bitset_contract(spark, docs):
    """Structural Bloom guarantees on the real fingerprint corpus:
    every inserted key probes POSITIVE (no false negatives — the
    property that keeps incremental_dedup_bloom exact), and at the
    default sizing most fresh keys probe NEGATIVE (the prefilter
    actually skips work; fpp at m=2^20, k=3, n≈250 is ~0)."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.functions.text import (
        normalized_text,
    )

    seen = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.md5(normalized_text(F.col("text"))).alias("fp"))
        .distinct()
    )

    def probe(keys):
        m_bits, k = 1 << 20, 3
        bitset = dedup.bloom_bitset(seen, m_bits=m_bits, k=k)
        probes = keys.select(
            "fp",
            F.posexplode(
                F.array(
                    *[
                        F.pmod(F.xxhash64(F.col("fp"), F.lit(s)), F.lit(m_bits))
                        for s in range(k)
                    ]
                )
            ).alias("_", "pos"),
        ).select(
            "fp",
            (F.col("pos") / 64).cast("long").alias("word"),
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("mask"),
        )
        return (
            probes.join(F.broadcast(bitset), "word", "left")
            .withColumn(
                "hit",
                F.coalesce(
                    F.col("bits").bitwiseAND(F.col("mask")) != 0, F.lit(False)
                ),
            )
            .groupBy("fp")
            .agg(F.min("hit").alias("maybe_seen"))
        )

    inserted = probe(seen)
    assert inserted.filter(~F.col("maybe_seen")).count() == 0  # no false negatives
    fresh = probe(
        spark.range(500).select(F.md5(F.concat(F.lit("fresh"), "id")).alias("fp"))
    )
    n_pos = fresh.filter(F.col("maybe_seen")).count()
    assert n_pos <= 25, f"{n_pos}/500 fresh keys probed positive (fpp too high)"


def test_pq_assignment_stays_in_hash_aggregate(spark):
    """The PQ argmin must never silently downgrade to SortAggregate:
    any non-primitive aggregation buffer (min over a struct, first
    over an array) forces sort-based aggregation, which SORTS the
    |corpus|*m*codes candidate stream per group (measured +0.4 s per
    assignment pass at sf0.1). The packed-long argmin + per-element
    first()s keep every buffer primitive — pin it in the plan."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    plan = similarity.knn_pq(emb)._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan


def test_semantic_dedup_drop_rule_and_boundary_miss(spark):
    """semantic_dedup drops a vector iff a smaller-id near-dup shares
    its CLUSTER: within-cluster dups are dropped with smallest-id
    attribution, exact copies score cosine 1, and a high-cosine pair
    that straddles the cluster boundary is MISSED — SemDeDup's
    documented trade for the bounded pair space."""
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),    # seed centroid 0
            (1, [0.0, 1.0]),    # seed centroid 1
            (2, [1.0, 0.01]),   # near-dup of 0, cluster 0
            (3, [0.99, 0.02]),  # near-dup of 0 AND 2 -> dup_of = 0
            (4, [0.0, 1.0]),    # exact copy of 1, cluster 1
            (5, [0.5, -0.5]),   # cluster 0, far from everything
            (6, [1.0, 1.02]),   # boundary pair half, lands cluster 1
            (7, [1.02, 1.0]),   # other half, lands cluster 0
        ],
        "vec_id long, embedding array<float>",
    )
    rows = {
        r.vec_id: r
        for r in similarity.semantic_dedup(
            emb, threshold=0.9, n_clusters=2
        ).collect()
    }
    assert set(rows) == {2, 3, 4}
    assert rows[2].cluster_id == 0 and rows[2].dup_of == 0
    # 3 duplicates both 0 and 2; attribution picks the smallest id
    assert rows[3].cluster_id == 0 and rows[3].dup_of == 0
    assert rows[4].cluster_id == 1 and rows[4].dup_of == 1
    assert rows[4].cosine == pytest.approx(1.0)
    # cos(6, 7) ~ 0.9998 >= threshold, but 6 clusters with [0,1] and
    # 7 with [1,0]: the cross-cluster near-dup survives by design
    assert 6 not in rows and 7 not in rows


def test_semantic_dedup_accepts_trained_centroids(spark):
    """The trained-index hook mirrors knn_ivf's: passing
    kmeans_centroids output must keep the output contract, and exact
    twins must still be caught — identical vectors always share a
    cluster whatever the centroids are."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    twins = emb.filter(F.col("vec_id") % 25 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_000)
    )
    corpus = emb.unionByName(twins)
    cents = similarity.kmeans_centroids(emb, iters=1)
    got = similarity.semantic_dedup(corpus, threshold=0.9, centroids=cents)
    assert got.columns == ["vec_id", "cluster_id", "dup_of", "cosine"]
    rows = {r.vec_id: r.dup_of for r in got.collect()}
    planted = {
        r.vec_id + 1_000_000: r.vec_id
        for r in emb.filter(F.col("vec_id") % 25 == 0).select("vec_id").collect()
    }
    # every planted twin is dropped and attributed to its original
    # (or to an even-smaller-id dup — attribution picks the minimum)
    for twin, orig in planted.items():
        assert twin in rows and rows[twin] <= orig


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from([0.0, 1.0, -1.0, 0.5]), min_size=4, max_size=4
        ).filter(lambda v: any(x != 0.0 for x in v)),
        min_size=3,
        max_size=10,
    )
)
def test_semantic_dedup_property_vs_bruteforce(spark, vecs):
    """Property: for arbitrary tiny corpora, semantic_dedup's dropped
    set equals a brute-force Python replay of the SAME definition —
    assign to argmax-cosine seed (ties by cent_id), drop iff a
    smaller-id same-cluster vector has cosine >= threshold, attribute
    to the smallest such id."""
    import math

    n_clusters = 2
    rows = [(i, v) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r.vec_id: (r.cluster_id, r.dup_of)
        for r in similarity.semantic_dedup(
            emb, threshold=0.9, n_clusters=n_clusters
        ).collect()
    }

    def cos(a, b):
        # math.sqrt(left-to-right fold) — the exact expression shape of
        # similarity._norm; math.hypot can differ by 1 ulp and flake a
        # near-tie assignment or threshold comparison (ADVICE r6).
        def norm(v):
            return math.sqrt(sum(x * x for x in v))

        num = sum(x * y for x, y in zip(a, b))
        return num / (norm(a) * norm(b))

    cents = [(i, v) for i, v in enumerate(vecs) if i < n_clusters]
    assign = {}
    for i, v in enumerate(vecs):
        best = max(cents, key=lambda c: (cos(v, c[1]), -c[0]))
        assign[i] = best[0]
    want = {}
    for j, vj in enumerate(vecs):
        dups = [
            i for i, vi in enumerate(vecs)
            if i < j and assign[i] == assign[j] and cos(vi, vj) >= 0.9
        ]
        if dups:
            want[j] = (assign[j], min(dups))
    assert got == want


def test_jpeg_roundtrip_closed_form(spark):
    """Baseline-JPEG corpus decodes EXACTLY to the closed-form block
    means: flat 8x8 blocks keep only the DC coefficient, q[DC]=8 makes
    the DC-only IDCT exact in doubles, so the lossy format loses
    nothing on this corpus. doc_id 250 forces a DC wrap (250 -> 1),
    covering the negative-diff Huffman path; 0 covers the zero-diff
    category-0 path."""
    ids = spark.createDataFrame(
        [(0,), (1,), (5,), (12,), (123,), (250,)], "doc_id long"
    )
    got = {
        r.doc_id: r
        for r in multimodal.decode_jpeg(multimodal.jpeg_table(ids)).collect()
    }
    for d in [0, 1, 5, 12, 123, 250]:
        w, h = 8 * (1 + d % 3), 8 * (1 + d % 2)
        n_blocks = (w // 8) * (h // 8)
        want = sum((d + 7 * b) % 256 for b in range(n_blocks)) / n_blocks
        r = got[d]
        assert (r.width, r.height, r.n_pixels) == (w, h, w * h)
        assert r.mean_gray == round(want, 6)


def test_decode_jpeg_rejects_non_jpeg_and_progressive(spark):
    """The decoder refuses what it cannot honestly decode: payloads
    without SOI, and progressive scans (SOF2) — mutated from a valid
    baseline payload so everything else is intact."""
    import pytest as _pytest

    ids = spark.createDataFrame([(3,)], "doc_id long")
    payload = bytes(
        multimodal.jpeg_table(ids).collect()[0].payload
    )
    bad_soi = b"\x00" + payload[1:]
    progressive = payload.replace(b"\xff\xc0", b"\xff\xc2", 1)
    for buf, msg in [(bad_soi, "SOI"), (progressive, "baseline")]:
        broken = spark.createDataFrame(
            [(1, buf)], "doc_id long, payload binary"
        )
        with _pytest.raises(Exception) as ei:
            multimodal.decode_jpeg(broken).collect()
        assert msg in str(ei.value)


# ---------------------------------------------------------------------------
# Count-Min Sketch (operators/sketches.py)
# ---------------------------------------------------------------------------

def test_cms_grid_is_mergeable(spark):
    """The CMS scale contract: the grid of A ∪ B equals the cell-wise
    SUM of A's and B's grids — what lets daily sketch tables merge
    without re-touching facts (same pattern as the HLL rollup)."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import sketches

    a = spark.range(300).selectExpr("cast(id % 7 as string) key")
    b = spark.range(500).selectExpr("cast(id % 11 as string) key")
    ga = sketches.cms_build(a, F.col("key"), width=64, depth=3)
    gb = sketches.cms_build(b, F.col("key"), width=64, depth=3)
    summed = {
        (r.seed, r.col): r.n
        for r in ga.unionByName(gb)
        .groupBy("seed", "col")
        .agg(F.sum("n").alias("n"))
        .collect()
    }
    whole = {
        (r.seed, r.col): r.n
        for r in sketches.cms_build(
            a.unionByName(b), F.col("key"), width=64, depth=3
        ).collect()
    }
    assert summed == whole


def test_cms_contract_and_collision_overshoot(spark):
    """Never-underestimate holds even under FORCED collisions (width 4
    « 40 keys): every estimate >= exact. At the registered 4x1024
    sizing over the fixture feed, all within_bound booleans are TRUE
    (what the driver hash pins)."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import sketches
    from etl_visualization_of_cryptocurrency_trading_data_spark.plans.registry import (
        _price_base,
    )

    skewed = spark.range(2000).selectExpr("cast(id % 40 as string) key")
    tight = sketches.cms_frequencies(skewed, F.col("key"), width=4, depth=2)
    rows = tight.collect()
    assert all(r.is_overestimate for r in rows)
    # width 4 forces heavy collisions: at least one real overshoot,
    # proving the estimate is a genuine sketch, not a disguised count
    assert any(r.cms_n > r.exact_n for r in rows)
    registered = sketches.cms_frequencies(
        _price_base(spark, SF_SMOKE), F.col("coin_id")
    ).collect()
    assert registered and all(r.is_overestimate and r.within_bound for r in registered)


@settings(max_examples=60, deadline=None)
@given(
    st.integers(0, 4),
    st.binary(min_size=3, max_size=30).filter(lambda b: len(b) % 3 == 0),
    st.binary(min_size=3, max_size=30).filter(lambda b: len(b) % 3 == 0),
)
def test_png_filter_unfilter_inverse_property(ftype, raw, prev):
    """Property: _png_unfilter_row inverts _png_filter_row for EVERY
    filter type over arbitrary scanlines and prior rows (equal-length
    pairs; the generator only ever exercises the corpus's pixel
    pattern, this covers the full byte space — including the
    sequential Sub/Average/Paeth recursion where each reconstructed
    byte feeds the next predictor)."""
    n = min(len(raw), len(prev))
    n -= n % 3
    raw, prev = raw[:n], prev[:n]
    filt = multimodal._png_filter_row(ftype, raw, prev)
    back = multimodal._png_unfilter_row(ftype, filt, prev)
    assert back == raw


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 255), st.integers(0, 255), st.integers(0, 255))
def test_paeth_predictor_spec_property(a, b, c):
    """RFC 2083 §6.6 Paeth: the predictor returns whichever of
    left/up/up-left is nearest to a + b - c, ties broken in the order
    left, up, up-left — checked against a literal transcription of
    the spec pseudocode."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    want = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
    assert multimodal._paeth(a, b, c) == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.integers(0, 9), min_size=1, max_size=60),
    st.integers(2, 5),
)
def test_cms_estimate_property_vs_bruteforce(spark, keys, width_pow):
    """Property: for arbitrary tiny corpora and filter widths, the
    Spark CMS estimate EQUALS a brute-force Python replay of the same
    definition (same md5 positions, same per-row counters, min over
    rows) — not just the overestimate bound, the exact value."""
    import hashlib
    from collections import Counter

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import sketches

    width, depth = 1 << width_pow, 3
    df = spark.createDataFrame([(str(k),) for k in keys], "key string")
    got = {
        r.key: r.cms_n
        for r in sketches.cms_frequencies(
            df, F.col("key"), width=width, depth=depth
        ).collect()
    }

    def col(key: str, seed: int) -> int:
        return int(hashlib.md5(f"{key}s{seed}".encode()).hexdigest()[:8], 16) % width

    grid: Counter = Counter()
    for k in map(str, keys):
        for s in range(depth):
            grid[(s, col(k, s))] += 1
    want = {
        k: min(grid[(s, col(k, s))] for s in range(depth))
        for k in set(map(str, keys))
    }
    assert got == want


def test_sniff_media_magic_bytes():
    """The dispatcher recognizes each real-codec magic and returns
    'unknown' (never raises) on garbage."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators.multimodal import sniff_media

    assert sniff_media(b"P6 2 2 255\n" + b"\x00" * 12) == "ppm"
    assert sniff_media(b"\x89PNG\r\n\x1a\n" + b"x") == "png"
    assert sniff_media(b"BM" + b"\x00" * 30) == "bmp"
    assert sniff_media(b"GIF89a" + b"\x00" * 7) == "gif"
    assert sniff_media(b"GIF87a" + b"\x00" * 7) == "gif"
    assert sniff_media(b"\xff\xd8\xff\xe0") == "jpeg"
    assert sniff_media(b"RIFF\x00\x00\x00\x00WAVE") == "wav"
    assert sniff_media(b"") == "unknown"
    assert sniff_media(b"plain text payload") == "unknown"
    assert sniff_media(b"RIFF\x00\x00\x00\x00AVI ") == "unknown"  # RIFF != WAVE


def test_media_features_auto_mixed_corpus(spark, docs):
    """One mixed frame with every format + a garbage row: each row is
    decoded by the right parser (features match the single-format
    decoders) and the garbage row is quarantined as fmt='unknown'."""
    from pyspark.sql import functions as F

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    base = docs.limit(6)
    mixed = (
        multimodal.ppm_table(base.filter(F.col("doc_id") % 6 == 0))
        .select("doc_id", "payload")
        .unionByName(
            multimodal.gif_table(base.filter(F.col("doc_id") % 6 == 3)).select(
                "doc_id", "payload"
            )
        )
        .unionByName(
            multimodal.wav_table(base.filter(F.col("doc_id") % 6 == 5)).select(
                "doc_id", "payload"
            )
        )
        .unionByName(
            spark.createDataFrame(
                [(999, bytearray(b"not a media file"))], ["doc_id", "payload"]
            )
        )
    )
    out = {r.doc_id: r for r in multimodal.media_features_auto(mixed).collect()}
    fmts = {r.fmt for r in out.values()}
    assert out[999].fmt == "unknown"
    assert out[999].width is None and out[999].mean_0 is None
    assert {"ppm", "gif", "wav"} <= fmts
    # ppm arm agrees with decode_ppm exactly
    ppm_ids = [i for i, r in out.items() if r.fmt == "ppm"]
    ref = {
        r.doc_id: r
        for r in multimodal.decode_ppm(
            multimodal.ppm_table(base.filter(F.col("doc_id") % 6 == 0))
        ).collect()
    }
    for i in ppm_ids:
        assert (out[i].width, out[i].height) == (ref[i].width, ref[i].height)
        assert out[i].mean_0 == ref[i].mean_r
        assert out[i].mean_2 == ref[i].mean_b
    # wav arm: n_pixels is TOTAL samples (frames x channels)
    wav_ids = [i for i, r in out.items() if r.fmt == "wav"]
    for i in wav_ids:
        assert out[i].n_pixels == (64 + i % 129) * (1 + i % 2)
        assert out[i].width is None and out[i].mean_2 is None


def test_media_features_auto_quarantines_malformed_bodies(spark):
    """The r7-ADVICE gap: payloads whose MAGIC matches a known format
    but whose BODY is malformed must be quarantined as fmt='unknown'
    with NULL features (the documented production contract), not fail
    the job. One row per failure class: text that happens to start
    with 'P6'/'BM'/'GIF8', a truncated PNG, a truncated WAV."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    bad = [
        (1, b"P6 is how this sentence begins, not a pixmap"),
        (2, b"BMW maintenance schedule, quarter two"),
        (3, b"GIF89a" + b"\x00" * 4),  # truncated mid-screen-descriptor
        (4, b"\x89PNG\r\n\x1a\n" + b"\x00" * 16),  # no valid chunks
        (5, b"\xff\xd8 jpeg magic, no segments"),
        (6, b"RIFF\x00\x00\x00\x00WAVE"),  # no fmt/data chunks
    ]
    media = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in bad], ["doc_id", "payload"]
    )
    out = {r.doc_id: r for r in multimodal.media_features_auto(media).collect()}
    assert len(out) == len(bad)
    for i, _ in bad:
        assert out[i].fmt == "unknown", f"doc {i} not quarantined: {out[i]}"
        assert out[i].width is None and out[i].n_pixels is None
        assert out[i].mean_0 is None and out[i].mean_1 is None


def test_parse_gif_truncated_raises_valueerror():
    """Truncation anywhere in the sub-block walks raises the documented
    ValueError (r7 ADVICE: the naive `while buf[pos]` loops leaked
    IndexError). Built by slicing a VALID payload at every prefix
    length — no prefix may raise anything but ValueError."""
    import numpy as np
    import pytest

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    # build one real payload via the corpus generator's recipe
    spark_free = multimodal._gif_lzw_encode(
        ((7 + np.arange(20, dtype=np.int64)) % 256).astype(np.uint8).tobytes()
    )
    import struct

    j = np.arange(256, dtype=np.int64)
    gct = (
        np.stack([j % 256, (2 * j) % 256, (3 * j) % 256], axis=1)
        .astype(np.uint8)
        .tobytes()
    )
    blocks = b"".join(
        bytes([len(spark_free[o : o + 255])]) + spark_free[o : o + 255]
        for o in range(0, len(spark_free), 255)
    )
    payload = (
        b"GIF89a" + struct.pack("<HHBBB", 5, 4, 0xF7, 0, 0) + gct
        + b"\x21\xfe" + b"\x03abc\x00"  # comment extension: sub-blocks
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, 5, 4, 0) + bytes([8])
        + blocks + b"\x00\x3b"
    )
    w, h, px = multimodal._parse_gif(payload)  # sanity: full payload decodes
    assert (w, h) == (5, 4)
    for cut in range(6, len(payload)):
        try:
            multimodal._parse_gif(payload[:cut])
        except ValueError:
            pass  # the documented malformed-file contract
        # any other exception type fails the test by propagating


def _handmade_gif(
    frames, sw, sh, delays, disposals=None, transparents=None, bg=0
):
    """Build an animated GIF payload from (left, top, rect) frames —
    rect is an index array — with per-frame graphics-control delays,
    disposal methods, transparent indices (None = opaque), and a
    screen-descriptor background index."""
    import struct

    import numpy as np

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    j = np.arange(256, dtype=np.int64)
    gct = (
        np.stack([j % 256, (2 * j) % 256, (3 * j) % 256], axis=1)
        .astype(np.uint8)
        .tobytes()
    )
    body = bytearray()
    for k, ((left, top, rect), delay) in enumerate(zip(frames, delays)):
        h, w = rect.shape
        disp = (disposals or [0] * len(frames))[k]
        transp = (transparents or [None] * len(frames))[k]
        packed = (disp << 2) | (1 if transp is not None else 0)
        lzw = multimodal._gif_lzw_encode(rect.astype(np.uint8).tobytes())
        blocks = b"".join(
            bytes([len(lzw[o : o + 255])]) + lzw[o : o + 255]
            for o in range(0, len(lzw), 255)
        )
        body += (
            b"\x21\xf9\x04"
            + struct.pack("<BHB", packed, delay, transp or 0) + b"\x00"
            + b"\x2c" + struct.pack("<HHHHB", left, top, w, h, 0)
            + bytes([8]) + blocks + b"\x00"
        )
    return (
        b"GIF89a" + struct.pack("<HHBBB", sw, sh, 0xF7, bg, 0) + gct
        + bytes(body) + b"\x3b"
    )


def test_parse_gif_frames_compositing():
    """Handcrafted 2-frame animation: the second frame is a PARTIAL
    1x1 update at (1,1) composited over the first (disposal 1 — the
    normal animation encoding); delays differ per frame and frame_ts
    must be the cumulative PRIOR delay."""
    import numpy as np

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    f0 = np.array([[10, 20], [30, 40]], dtype=np.uint8)
    f1 = np.array([[99]], dtype=np.uint8)
    payload = _handmade_gif(
        [(0, 0, f0), (1, 1, f1)], 2, 2, delays=[25, 50], disposals=[1, 1]
    )
    sw, sh, frames = multimodal._parse_gif_frames(payload)
    assert (sw, sh) == (2, 2)
    assert [d for d, _ in frames] == [25, 50]
    # palette entry j is (j, 2j, 3j): frame 0 canvas R-channel
    np.testing.assert_array_equal(frames[0][1][:, :, 0], f0)
    # frame 1: only (1,1) changed, rest carried from frame 0
    want = f0.copy()
    want[1, 1] = 99
    np.testing.assert_array_equal(frames[1][1][:, :, 0], want)
    np.testing.assert_array_equal(frames[1][1][:, :, 1], (want.astype(int) * 2) % 256)
    # frame 0 must be immutable after compositing (copy semantics)
    np.testing.assert_array_equal(frames[0][1][:, :, 0], f0)


def test_parse_gif_frames_rejects_unsupported():
    """Disposal 4-7 (undefined by the spec) and a nonstandard GCE
    block size each raise rather than guess (ADVICE r8 / r8 verdict
    item #4: transparency and disposal 2/3 are now SUPPORTED — see
    the disposal/transparency compositing tests)."""
    import numpy as np
    import pytest

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    f0 = np.zeros((2, 2), dtype=np.uint8)
    with pytest.raises(ValueError, match="disposal"):
        multimodal._parse_gif_frames(
            _handmade_gif([(0, 0, f0)], 2, 2, [10], disposals=[4])
        )
    good = _handmade_gif([(0, 0, f0)], 2, 2, [10])
    gce_at = good.index(b"\x21\xf9\x04")
    bad = bytearray(good)
    bad[gce_at + 2] = 5  # nonstandard GCE body size
    with pytest.raises(ValueError, match="GCE"):
        multimodal._parse_gif_frames(bytes(bad))


def test_parse_gif_frames_disposal_and_transparency():
    """Handcrafted 4-frame animation pinning the GIF89a disposal /
    transparency walk on exact pixel values (screen 3x2, bg index 7):

    - frame 0: partial FIRST frame at (1,0) 1x1 — composites over the
      background-initialized canvas (the old full-screen restriction
      is gone); disposal 2.
    - frame 1: full-screen with the (0,1) pixel TRANSPARENT — frame
      0's rect reverted to bg first (disposal 2), and the transparent
      pixel shows that restored background, not frame 0's pixel;
      disposal 3.
    - frame 2: 1x1 overwrite at (0,0); before it, frame 1's rect
      (full screen) reverts to the pre-frame-1 canvas (disposal 3),
      i.e. all-bg with nothing from frame 1 surviving.
    - frame 3: 1x1 at (2,1), disposal 0 — composites over frame 2's
      displayed canvas (disposal 0 of frame 2 keeps it).
    """
    import numpy as np

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    BG = 7
    f0 = np.array([[50]], dtype=np.uint8)
    f1 = np.array([[10, 99, 30]], dtype=np.uint8)  # 99 = transparent
    f2 = np.array([[60]], dtype=np.uint8)
    f3 = np.array([[70]], dtype=np.uint8)
    payload = _handmade_gif(
        [(1, 0, f0), (0, 0, np.vstack([f1, [[11, 12, 13]]])), (0, 0, f2),
         (2, 1, f3)],
        3, 2, delays=[10, 20, 30, 40],
        disposals=[2, 3, 0, 0],
        transparents=[None, 99, None, None],
        bg=BG,
    )
    sw, sh, frames = multimodal._parse_gif_frames(payload)
    assert (sw, sh) == (3, 2)
    assert [d for d, _ in frames] == [10, 20, 30, 40]
    r = [c[:, :, 0].tolist() for _, c in frames]  # R channel = index
    assert r[0] == [[BG, 50, BG], [BG, BG, BG]]  # partial first over bg
    # disposal 2 reverted (1,0) to bg BEFORE frame 1; transparent (0,1)
    # shows that restored bg, everything else is frame 1's pixels
    assert r[1] == [[10, BG, 30], [11, 12, 13]]
    # disposal 3 reverted the full screen to the pre-frame-1 canvas
    # (all bg — frame 0's rect was already disposed), then 1x1 at (0,0)
    assert r[2] == [[60, BG, BG], [BG, BG, BG]]
    # disposal 0: frame 2's canvas survives under frame 3's update
    assert r[3] == [[60, BG, BG], [BG, BG, 70]]
    # G channel follows the palette: entry j -> 2j % 256
    assert frames[3][1][1, 2, 1] == (2 * 70) % 256


def test_parse_gif_frames_disposal_truncation_contract():
    """Malformed-input contract over the NEW code paths: every prefix
    of a valid disposal/transparency payload either parses (a shorter
    but valid frame list) or raises ValueError — never IndexError /
    struct.error. Also: a background index outside a SMALL palette
    raises the documented ValueError instead of indexing out of
    bounds — for the BACKGROUND index and for decoded PIXEL indices
    alike (ADVICE r9: palette[indices] was unguarded)."""
    import struct

    import numpy as np
    import pytest

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    payload = _handmade_gif(
        [(0, 0, np.array([[1, 2], [3, 4]], dtype=np.uint8)),
         (1, 1, np.array([[5]], dtype=np.uint8))],
        2, 2, delays=[10, 20], disposals=[2, 3],
        transparents=[None, 5], bg=7,
    )
    multimodal._parse_gif_frames(payload)  # sanity: full payload decodes
    for cut in range(6, len(payload)):
        try:
            multimodal._parse_gif_frames(payload[:cut])
        except ValueError:
            pass  # the documented malformed-file contract
        # any other exception type fails the test by propagating
    # 4-entry palette (packed size bits 001 -> 2<<1), bg index 200: the
    # background restore must raise, not index out of the palette
    small_gct = bytes(range(12))
    idx = np.zeros((1, 1), dtype=np.uint8)
    lzw = multimodal._gif_lzw_encode(idx.tobytes())
    bad_bg = (
        b"GIF89a" + struct.pack("<HHBBB", 1, 1, 0x81, 200, 0) + small_gct
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, 1, 1, 0)
        + bytes([8]) + bytes([len(lzw)]) + lzw + b"\x00\x3b"
    )
    with pytest.raises(ValueError, match="background index"):
        multimodal._parse_gif_frames(bad_bg)
    # same small palette, VALID bg, but a decoded pixel index (200)
    # outside the 4-entry palette: the compositing step must raise
    # ValueError, never numpy IndexError
    big_idx = np.full((1, 1), 200, dtype=np.uint8)
    lzw2 = multimodal._gif_lzw_encode(big_idx.tobytes())
    bad_px = (
        b"GIF89a" + struct.pack("<HHBBB", 1, 1, 0x81, 0, 0) + small_gct
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, 1, 1, 0)
        + bytes([8]) + bytes([len(lzw2)]) + lzw2 + b"\x00\x3b"
    )
    with pytest.raises(ValueError, match="pixel index"):
        multimodal._parse_gif_frames(bad_px)
    # the SIBLING single-frame parser shares the contract (code-review
    # r10: the guard was first added only to the animation path)
    with pytest.raises(ValueError, match="pixel index"):
        multimodal._parse_gif(bad_px)


def test_gif_table_disposal_matches_oracle_formula(spark, docs):
    """gif_frames_real over the disposal/transparency corpus equals
    the registered oracle's CASE formula pixel-for-pixel (the same
    arithmetic the driver hash covers at sf0.01)."""
    import numpy as np

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    base = docs.limit(6)
    out = multimodal.gif_frames_real(
        multimodal.gif_table_disposal(base)
    ).collect()
    assert len(out) == 6 * 3
    for row in out:
        d, f = row.doc_id, row.frame_idx
        w, h, bg = 4 + d % 5, 3 + d % 4, (7 * d) % 256
        p = np.arange(w * h, dtype=np.int64)
        y, x = p // w, p % w
        if f == 0:
            j = (d + p) % 256
        elif f == 1:
            rr = (y - 1) * (w - 2) + (x - 1)
            in_rect = (y >= 1) & (y <= h - 2) & (x >= 1) & (x <= w - 2)
            j = np.where(in_rect & (rr != 0), (d + 5 + rr) % 256, bg)
        else:
            j = np.where((y == 0) & (x <= w - 2), (d + 9 + x) % 256, bg)
        assert row.delay_cs == 10 + d % 5
        assert row.frame_ts == (f * (10 + d % 5)) / 100.0
        assert (row.width, row.height, row.n_pixels) == (w, h, w * h)
        assert row.mean_r == round(float(j.mean()), 6)
        assert row.mean_g == round(float(((2 * j) % 256).mean()), 6)
        assert row.mean_b == round(float(((3 * j) % 256).mean()), 6)


def test_gif_frames_real_and_dispatch(spark, docs):
    """gif_frames_real over the animated corpus: n_frames = 2 + d%3
    rows per doc, frame_ts = frame_idx * delay/100 (constant per-doc
    delay), channel means equal the closed-form palette formula; and
    extract_frames(real_decode=True) routes GIF payloads here."""
    import numpy as np

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    base = docs.limit(5)
    table = multimodal.gif_table_animated(base)
    out = multimodal.gif_frames_real(table).collect()
    by_key = {(r.doc_id, r.frame_idx): r for r in out}
    metas = {r.doc_id: r for r in table.select("doc_id", "width", "height", "n_frames").collect()}
    assert len(out) == sum(m.n_frames for m in metas.values())
    for (d, f), r in by_key.items():
        w, h = 4 + d % 5, 3 + d % 4
        delay = 10 + d % 5
        assert (r.width, r.height, r.n_pixels) == (w, h, w * h)
        assert r.delay_cs == delay
        assert r.frame_ts == (f * delay) / 100.0
        i = np.arange(w * h, dtype=np.int64)
        jj = (d + 17 * f + i) % 256
        assert r.mean_r == round(float(jj.mean()), 6)
        assert r.mean_g == round(float(((2 * jj) % 256).mean()), 6)
        assert r.mean_b == round(float(((3 * jj) % 256).mean()), 6)
    # the unified extract_frames contract carries [n_pixels, means...]
    fr = multimodal.extract_frames(table, real_decode=True).collect()
    assert len(fr) == len(out)
    some = next(r for r in fr if r.frame_idx == 1)
    ref = by_key[(some.doc_id, 1)]
    assert some.frame_features == [
        float(ref.n_pixels), ref.mean_r, ref.mean_g, ref.mean_b,
    ]
    assert some.frame_ts == ref.frame_ts


def test_media_frames_real_windowing(spark):
    """Hand-built stereo WAV: 8 ms windows at 8 kHz are 64 frames; a
    150-frame file yields windows of 128/128/44 samples (stereo), the
    trailing partial kept; sums are exact."""
    import struct

    import numpy as np

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    c, sr, n = 2, 8000, 150
    i = np.arange(n, dtype=np.int64)[:, None]
    ch = np.arange(c, dtype=np.int64)[None, :]
    samples = ((i * 3 + ch * 5) % 200 - 100).astype("<i2")
    data = samples.tobytes()
    payload = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, c, sr, sr * c * 2, c * 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    media = spark.createDataFrame([(7, bytearray(payload))], ["doc_id", "payload"])
    rows = sorted(
        multimodal.media_frames_real(media, every_s=0.008).collect(),
        key=lambda r: r.frame_idx,
    )
    assert [r.n_samples for r in rows] == [128, 128, 44]
    assert [r.frame_ts for r in rows] == [0.0, 0.008, 2 * 0.008]
    full = samples.astype(np.int64)
    for j, r in enumerate(rows):
        seg = full[j * 64 : (j + 1) * 64]
        assert r.sum_amp == int(seg.sum())
        assert r.sum_sq == int((seg * seg).sum())
        assert r.rms == round(float(np.sqrt(r.sum_sq / r.n_samples)), 6)
    # the array-contract wrapper carries [n_samples, mean, rms]
    fr = multimodal.extract_frames(media, every_s=0.008, real_decode=True).collect()
    by_idx = {r.frame_idx: r.frame_features for r in fr}
    assert by_idx[0][0] == 128.0
    assert by_idx[2][0] == 44.0


def test_decode_features_real_routes_dispatch(spark, docs):
    """decode_features(real_decode=True) no longer raises: it returns
    the (doc_id, media_type, features) contract with sniffed formats."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    media = multimodal.png_table(docs.limit(3))
    out = multimodal.decode_features(media, real_decode=True).collect()
    assert len(out) == 3
    for r in out:
        assert r.media_type == "png"
        assert len(r.features) == 6
        w, h, npx = r.features[0], r.features[1], r.features[2]
        assert npx == w * h


def test_hybrid_retrieval_rrf_semantics(spark, docs):
    """RRF invariants on the fixture: scores reconstruct exactly from
    the published ranks, ranks are dense 1..n within each arm (<=50),
    and a doc present in BOTH arms beats any doc a single arm put at
    the same rank."""
    emb = load_table(spark, SF_SMOKE, "embeddings").cache()
    out = similarity.hybrid_retrieval_rrf(docs, emb).collect()
    assert out
    lex_ranks = sorted(r.lex_rank for r in out if r.lex_rank is not None)
    vec_ranks = sorted(r.vec_rank for r in out if r.vec_rank is not None)
    assert lex_ranks == list(range(1, len(lex_ranks) + 1)) and len(lex_ranks) <= 50
    assert vec_ranks == list(range(1, len(vec_ranks) + 1)) and len(vec_ranks) <= 50
    for r in out:
        expect = (1.0 / (60 + r.lex_rank) if r.lex_rank else 0.0) + (
            1.0 / (60 + r.vec_rank) if r.vec_rank else 0.0
        )
        assert r.rrf_score == round(expect, 6)
    both = [r for r in out if r.lex_rank and r.vec_rank]
    single = [r for r in out if (r.lex_rank is None) != (r.vec_rank is None)]
    if both and single:
        # equal-rank comparison: two arms at rank k always beat one
        k = both[0]
        one = min(single, key=lambda r: r.lex_rank or r.vec_rank)
        if (one.lex_rank or one.vec_rank) >= min(k.lex_rank, k.vec_rank):
            assert k.rrf_score > one.rrf_score


def test_fuzzy_match_blocked_handcrafted(spark):
    """Known-answer record linkage: substitution/insertion matches
    inside the block are found with the right distances; a pair that
    differs inside the blocking prefix is invisible (the documented
    single-pass blocking tradeoff); a pair beyond max_dist is
    rejected by the verify even though it shares a block."""
    rows = [
        (1, "Satoshi Nakamoto Institute"),
        (2, "satoshi nakamoto institute"),   # dist 0 after normalize
        (3, "satoshi nakamoto   instituet"),  # swap at the tail: dist 2
        (4, "satoshi nakamQto institute"),    # dist 1 (substitution)
        (5, "xatoshi nakamoto institute"),    # differs in prefix: other block
        (6, "satoshi nakamoto aaaaaaaaa"),    # same block, dist > 2
        (7, "zzz unrelated name"),
    ]
    out = dedup.fuzzy_match_blocked(
        spark.createDataFrame(rows, "doc_id long, name string"),
        block_prefix=8, max_dist=2, max_block=None,
    )
    got = {(r.id_a, r.id_b): r.edit_dist for r in out.collect()}
    # (3, 4) is absent: the tail swap (2) plus the 'q' substitution (1)
    # puts that pair at distance 3 > max_dist even though it shares a block
    assert got == {(1, 2): 0, (1, 3): 2, (1, 4): 1, (2, 3): 2, (2, 4): 1}


def test_fuzzy_match_blocked_cap_and_length_prefilter(spark):
    """max_block drops an oversized block entirely (the max_df
    posture); the length bound is a true prefilter — a same-block
    name whose length differs by more than max_dist never reaches
    levenshtein, and its absence is also correct (edit distance >=
    length difference)."""
    hot = [(i, f"prefix00 hot {i:04d}") for i in range(10)]
    cold = [(100, "coldpref one"), (101, "coldpref one!"),
            (102, "coldpref one extra words beyond")]
    df = spark.createDataFrame(hot + cold, "doc_id long, name string")
    out = dedup.fuzzy_match_blocked(df, block_prefix=8, max_dist=2, max_block=5)
    got = {(r.id_a, r.id_b): r.edit_dist for r in out.collect()}
    assert got == {(100, 101): 1}, got


def test_fuzzy_match_blocked_unique_id_guard(spark):
    """assert_unique_ids=True fails the job at execution on a
    duplicate id_col value (ADVICE r9: duplicate ids otherwise fan
    candidates out against every duplicate's text — SILENT wrong
    output) and is a no-op on unique ids (same pairs as the default
    plan)."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    rows = [(1, "coldpref one"), (2, "coldpref one!")]
    df = spark.createDataFrame(rows, "doc_id long, name string")
    ok = dedup.fuzzy_match_blocked(
        df, block_prefix=8, max_dist=2, assert_unique_ids=True
    )
    assert {(r.id_a, r.id_b): r.edit_dist for r in ok.collect()} == {(1, 2): 1}
    dup = spark.createDataFrame(
        rows + [(1, "coldpref oen")], "doc_id long, name string"
    )
    bad = dedup.fuzzy_match_blocked(
        dup, block_prefix=8, max_dist=2, assert_unique_ids=True
    )
    with pytest.raises((PySparkException, Py4JJavaError)) as ei:
        bad.collect()
    assert "duplicate doc_id value 1" in str(ei.value)


def test_fuzzy_match_multipass_recovers_cross_prefix_pair(spark):
    """Multi-pass blocking (r9 verdict item #7): a planted pair that
    differs INSIDE the 8-char prefix is invisible to the single
    prefix pass (the documented miss) and recovered by the suffix
    pass; pairs caught by BOTH passes (edits between prefix and
    suffix) appear exactly once after the distinct."""
    from pyspark.sql import functions as F

    rows = [
        (1, "satoshi nakamoto institute"),
        (2, "sa#oshi nakamoto institute"),  # edit at char 3: cross-prefix
        (3, "satoshi nakam#to institute"),  # edit at char 14: both passes
    ]
    df = spark.createDataFrame(rows, "doc_id long, name string")
    suffix_key = F.substring(F.col("norm"), 17, 8)
    single = {
        (r.id_a, r.id_b)
        for r in dedup.fuzzy_match_blocked(
            df, block_prefix=8, max_dist=2, max_block=None
        ).collect()
    }
    assert (1, 2) not in single and (1, 3) in single
    multi = dedup.fuzzy_match_multipass(
        df, block_exprs=(None, suffix_key), max_dist=2, max_block=None
    ).collect()
    pairs = [(r.id_a, r.id_b, r.edit_dist) for r in multi]
    assert sorted(pairs) == [(1, 2, 1), (1, 3, 1), (2, 3, 2)]
    assert len(pairs) == len(set(pairs))  # distinct collapsed the overlap


def test_fuzzy_match_multipass_sorted_token_pass(spark):
    """r10 verdict item #5 (the worked example): a short token-REORDER
    pair ("ab cd" vs "cd ab", 4 edits) changes BOTH positional block
    keys, so the prefix+suffix pass set misses it even at max_dist=4
    — and the permutation-invariant sorted-token key recovers exactly
    it. A LONG-token reorder (edit distance > max_dist) shares the
    sorted-token block but fails the levenshtein verify: that regime
    belongs to set-similarity, not edit-bounded linkage."""
    from pyspark.sql import functions as F

    rows = [
        (1, "ab cd"),                   # short reorder twin A
        (2, "cd ab"),                   # short reorder twin B (4 edits)
        (3, "jonathan smithfield"),     # long reorder twin A
        (4, "smithfield jonathan"),     # long reorder twin B (>4 edits)
        (5, "unrelated distractor row"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, name string")
    positional = (None, F.expr("right(norm, 8)"))
    sorted_tok = F.array_join(F.array_sort(F.split(F.col("norm"), " ")), " ")
    two = {
        (r.id_a, r.id_b)
        for r in dedup.fuzzy_match_multipass(
            df, block_exprs=positional, max_dist=4, max_block=None
        ).collect()
    }
    assert (1, 2) not in two  # both positional keys flipped: the miss
    three = {
        (r.id_a, r.id_b): r.edit_dist
        for r in dedup.fuzzy_match_multipass(
            df,
            block_exprs=(*positional, sorted_tok),
            max_dist=4,
            max_block=None,
        ).collect()
    }
    assert three.get((1, 2)) == 4  # recovered by the sorted-token pass
    assert (3, 4) not in three  # blocked together but verify-rejected


def test_pca_top_component_rayleigh_contract(spark):
    """The unrolled power iteration is a REPLAYABLE approximation —
    the driver hash pins the replay; this pins the quality CONTRACT:
    lambda1 (the Rayleigh quotient) must reach >= 0.99 of numpy's
    exact top eigenvalue and never exceed it, and the emitted
    projections must be exactly the centered dot products against a
    unit vector (norm check via the variance identity). The fixture
    spectrum is near-degenerate (lambda2/lambda1 ~ 0.96), so the
    VECTOR is ill-determined by nature — variance explained is the
    quality metric whitening actually consumes."""
    import numpy as np

    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    out = similarity.pca_top_component(emb, dim=16, iters=12).orderBy("vec_id")
    rows = out.collect()
    X = np.array(
        [r.embedding[:16] for r in emb.orderBy("vec_id").collect()], dtype=np.float64
    )
    Xc = X - X.mean(axis=0)
    cov = Xc.T @ Xc / len(X)
    evals = np.linalg.eigh(cov)[0]
    top_val = evals[-1]
    lam = rows[0].lambda1
    assert 0 < lam <= top_val + 1e-6, (lam, top_val)
    assert lam >= 0.99 * top_val, f"Rayleigh quotient not converged: {lam} vs {top_val}"
    # projections of a unit component: their variance IS the Rayleigh
    # quotient — ties the per-row output to the aggregate contract
    got = np.array([r.pc1 for r in rows])
    assert abs(got.mean()) < 1e-4
    assert abs(got.var() - lam) <= 2e-4 * max(1.0, lam)


def test_connected_components_star_log_rounds_on_long_chain(spark):
    """The reason the star form exists: a 121-node chain has diameter
    120, so min-label propagation would move the label one hop per
    round (120 rounds) while the star alternation converges within 12
    checkpoint-truncated rounds — and still labels every node with the
    chain minimum. The 120 edges sit far under the single-task gate, so
    the gate is forced to 0 to run the alternation itself."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(7, 127)], "doc_id_a long, doc_id_b long"
    )
    saved = dedup.CC_SINGLE_TASK_MAX_EDGES
    dedup.CC_SINGLE_TASK_MAX_EDGES = 0
    try:
        got = {
            r.doc_id: r.cluster_id
            for r in dedup.connected_components_star(pairs, max_iter=12).collect()
        }
    finally:
        dedup.CC_SINGLE_TASK_MAX_EDGES = saved
    assert got == {i: 7 for i in range(7, 128)}


def test_connected_components_star_canonicalizes_input(spark):
    """Reversed orientations, duplicate pairs and self-loops must not
    change the labeling or duplicate output rows."""
    pairs = spark.createDataFrame(
        [(2, 1), (1, 2), (2, 3), (3, 3), (9, 8)],
        "doc_id_a long, doc_id_b long",
    )
    rows = dedup.connected_components_star(pairs).collect()
    got = {(r.doc_id, r.cluster_id) for r in rows}
    assert len(rows) == len(got) == 5
    assert got == {(1, 1), (2, 1), (3, 1), (8, 8), (9, 8)}


def test_pca_residual_pythagoras_contract(spark):
    """The residual must be orthogonal-decomposition-consistent: for a
    UNIT component, residual² + pc1² == ‖x − mean‖² per vector (up to
    the pinned rounding grids) — ties the ABTT output to the geometry
    without re-deriving the component."""
    import numpy as np

    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    rows = similarity.pca_residual_norms(emb, dim=16, iters=12).orderBy("vec_id").collect()
    X = np.array(
        [r.embedding[:16] for r in emb.orderBy("vec_id").collect()], dtype=np.float64
    )
    Xc = X - X.mean(axis=0)
    cent_sq = (Xc * Xc).sum(axis=1)
    got = np.array([r.residual_norm ** 2 + r.pc1 ** 2 for r in rows])
    np.testing.assert_allclose(got, cent_sq, rtol=0, atol=5e-4)
    pc1 = np.array([r.pc1 for r in rows])
    assert abs(pc1.mean()) < 1e-4


def test_knn_ivf_append_equals_full_reindex_and_finds_twins(spark):
    """Appending a batch to the stored IVF index must equal a
    from-scratch index over the union (assignment is per-row
    deterministic given the fixed base centroids), and the planted
    exact twins must surface: every probe whose twin exists reports it
    at rank 1 with cosine ~1 — across the base/increment boundary in
    BOTH directions."""
    from pyspark.sql import functions as F

    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    inc = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    appended = similarity.knn_ivf_append(emb, inc, centroid_limit=8)
    union = emb.select("vec_id", "embedding").unionByName(inc)
    cents = (
        emb.filter(F.col("vec_id") < 8)
        .selectExpr("vec_id AS cent_id", "CAST(embedding AS array<double>) AS cent")
    )
    scratch = similarity.knn_ivf(union, centroids=cents)
    a = {(r.probe_id, r.rank): (r.neighbor_id, r.cosine) for r in appended.collect()}
    b = {(r.probe_id, r.rank): (r.neighbor_id, r.cosine) for r in scratch.collect()}
    assert len(a) > 0
    assert a == b
    top1 = {p: n for (p, rk), (n, c) in a.items() if rk == 1}
    cos1 = {p: c for (p, rk), (n, c) in a.items() if rk == 1}
    # base probe -> increment twin AND increment probe -> base twin
    twinned = [p for p in top1 if p % 25 == 0]
    assert twinned
    for p in twinned:
        twin = p + 1_000_000 if p < 1_000_000 else p - 1_000_000
        assert top1[p] == twin, (p, top1[p])
        assert cos1[p] > 0.999999


def _make_color_jpeg(w, h, y_val, cb_val, cr_val, subsample=True):
    """Handcrafted baseline color JPEG: flat planes at the given
    Y/Cb/Cr values (DC-only blocks, q=8), 4:2:0 when subsample else
    4:4:4 — the NON-neutral-chroma payloads the registered corpus
    deliberately avoids (exact oracle needs neutral chroma; this
    exercises the full conversion path instead)."""
    import struct

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import (
        multimodal as M,
    )

    dc = M._jpeg_huff_codes(M._JPEG_DC_BITS, M._JPEG_DC_VALS)
    ac = M._jpeg_huff_codes(M._JPEG_AC_BITS, M._JPEG_AC_VALS)
    y_hv = 0x22 if subsample else 0x11
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([0]) + bytes([8] * 64)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, h, w, 3)
    out += bytes([1, y_hv, 0, 2, 0x11, 0, 3, 0x11, 0])
    dht = bytes(M._JPEG_DC_BITS) + bytes(M._JPEG_DC_VALS)
    out += b"\xff\xc4" + struct.pack(">H", 3 + len(dht)) + bytes([0x00]) + dht
    aht = bytes(M._JPEG_AC_BITS) + bytes(M._JPEG_AC_VALS)
    out += b"\xff\xc4" + struct.pack(">H", 3 + len(aht)) + bytes([0x10]) + aht
    out += b"\xff\xda" + struct.pack(">H", 12) + bytes(
        [3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]
    )
    bw = M._JpegBitWriter()
    eobc, eobl = ac[0]
    mcu_px = 16 if subsample else 8
    preds = {1: 0, 2: 0, 3: 0}

    def put_block(cid, val):
        dcq = val - 128
        diff = dcq - preds[cid]
        preds[cid] = dcq
        size = abs(diff).bit_length()
        c, ln = dc[size]
        bw.put(c, ln)
        if size:
            bits = diff if diff > 0 else diff + (1 << size) - 1
            bw.put(bits, size)
        bw.put(eobc, eobl)

    for _ in range((w // mcu_px) * (h // mcu_px)):
        for _ in range(4 if subsample else 1):
            put_block(1, y_val)
        put_block(2, cb_val)
        put_block(3, cr_val)
    return bytes(out) + bw.flush() + b"\xff\xd9"


@pytest.mark.parametrize("subsample", [True, False])
def test_decode_jpeg_color_nonneutral_chroma(subsample):
    """The color path must apply the REAL JFIF conversion: a flat
    non-neutral (Y, Cb, Cr) image decodes to exactly the RGB the JFIF
    equations give (computed independently here), identical at every
    pixel, for both 4:2:0 and 4:4:4 layouts."""
    import numpy as np

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import (
        multimodal as M,
    )

    y_v, cb, cr = 90, 168, 108
    buf = _make_color_jpeg(32, 16, y_v, cb, cr, subsample=subsample)
    w, h, px = M._parse_jpeg(buf)
    assert (w, h, px.shape) == (32, 16, (16, 32, 3))
    r = np.clip(np.round(y_v + 1.402 * (cr - 128.0)), 0, 255)
    g = np.clip(
        np.round(y_v - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)), 0, 255
    )
    b = np.clip(np.round(y_v + 1.772 * (cb - 128.0)), 0, 255)
    assert (px[:, :, 0] == r).all() and (px[:, :, 1] == g).all() and (
        px[:, :, 2] == b
    ).all(), (px[0, 0], (r, g, b))


def test_jpeg_color_roundtrip_closed_form(spark):
    """jpeg_table_color → decode_jpeg_color equals the closed-form
    block-average oracle (neutral chroma ⇒ channel means equal the
    luma average), and the grayscale decoder refuses color payloads."""
    import numpy as np

    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import load_table
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import (
        multimodal as M,
    )

    docs = load_table(spark, SF_SMOKE, "documents").limit(40)
    out = M.decode_jpeg_color(M.jpeg_table_color(docs)).collect()
    assert len(out) == 40
    for r in out:
        bcount = (r.width // 8) * (r.height // 8)
        want = round(
            float(np.mean([(r.doc_id + 7 * t) % 256 for t in range(bcount)])), 6
        )
        assert r.mean_r == r.mean_g == r.mean_b == want, (r, want)
        assert r.n_pixels == r.width * r.height


def _cc_property_check(spark, edges, gate_override=None):
    """Shared body of the CC property tests: compare
    connected_components_star's labels against a plain union-find with
    component-minimum canonicalization. ``gate_override`` pins
    dedup.CC_SINGLE_TASK_MAX_EDGES for the call (ADVICE r14: every
    test/bench graph is below the production gate, so without the
    override the star-alternation path would be exercised by nothing)."""
    pairs = [(a, b) for a, b in edges if a != b]
    if not pairs:
        return
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    want = {}
    for n in parent:
        root = find(n)
        want.setdefault(root, []).append(n)
    expect = {}
    for members in want.values():
        m = min(members)
        for n in members:
            expect[n] = m
    df = spark.createDataFrame(pairs, "doc_id_a long, doc_id_b long")
    saved = dedup.CC_SINGLE_TASK_MAX_EDGES
    if gate_override is not None:
        dedup.CC_SINGLE_TASK_MAX_EDGES = gate_override
    try:
        got = {
            r.doc_id: r.cluster_id
            for r in dedup.connected_components_star(df).collect()
        }
    finally:
        dedup.CC_SINGLE_TASK_MAX_EDGES = saved
    assert got == expect


@settings(max_examples=5, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=1,
        max_size=60,
    )
)
def test_connected_components_star_property_vs_union_find(spark, edges):
    """Property: on arbitrary small graphs (self-loops, duplicates,
    both orientations included), the labels (via the small-graph
    single-task union-find gate) equal a plain union-find with
    component-minimum canonicalization."""
    _cc_property_check(spark, edges)


@settings(max_examples=5, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=1,
        max_size=60,
    )
)
def test_connected_components_star_property_star_path(spark, edges):
    """Same property with CC_SINGLE_TASK_MAX_EDGES pinned to 0, forcing
    the large-graph star-alternation loop — the 100 TB path — onto the
    same arbitrary graphs (ADVICE r14: the production gate routes every
    small graph to the union-find task, so this override is the only
    coverage the star loop gets)."""
    _cc_property_check(spark, edges, gate_override=0)


def test_semantic_dedup_max_cluster_guard(spark):
    """The r8 cluster-skew cap: deterministic md5-priority top-K per
    cluster. Pins (a) the cap binds (capped output is a strict subset
    relationship vs uncapped on a skewed fixture), (b) raising the cap
    is a superset (priority is cap-independent), (c) planted twins
    that both survive the cap are still caught."""
    import numpy as np

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import similarity

    rng = np.random.RandomState(8)
    # one dominant mode: 60 vectors near a single direction (one hot
    # cluster under any index), plus 20 scattered
    hot = rng.normal(0, 0.01, (60, 8)) + np.array([1.0] * 8)
    cold = rng.normal(0, 1.0, (20, 8))
    vecs = np.vstack([hot, cold])
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    # plant exact twins of vectors 0 and 1
    rows += [(1000, rows[0][1]), (1001, rows[1][1])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # a 2-centroid index puts the whole hot mode in ONE cluster (the
    # default vec_id<32 seed rule would scatter it across 32 near-
    # identical seed centroids and no cluster would exceed the cap)
    cents = spark.createDataFrame(
        [(0, [1.0] * 8), (1, [1.0, -1.0] * 4)],
        "cent_id long, cent array<double>",
    )
    uncapped = similarity.semantic_dedup(emb, threshold=0.99, centroids=cents)
    capped16 = similarity.semantic_dedup(
        emb, threshold=0.99, centroids=cents, max_cluster=16)
    capped32 = similarity.semantic_dedup(
        emb, threshold=0.99, centroids=cents, max_cluster=32)
    # compare DROP SETS (vec_ids): under a cap a vec's smallest
    # surviving duplicate may be a larger id than uncapped, so the
    # (vec_id, dup_of) tuples legitimately differ — the monotone
    # property is over which vecs get dropped at all
    u = {r.vec_id for r in uncapped.collect()}
    c16 = {r.vec_id for r in capped16.collect()}
    c32 = {r.vec_id for r in capped32.collect()}
    assert c16 < u, "cap=16 must bind on the 60-member hot cluster"
    assert c16 <= c32 <= u, "raising the cap must be a superset"
    # planted exact twins: under the uncapped run both twins are
    # caught; under any cap a caught twin's dup_of must be a smaller
    # id (the smallest SURVIVING duplicate)
    assert {1000, 1001} <= u
    for r in capped32.collect():
        assert r.dup_of < r.vec_id


def test_parse_gif_frames_agrees_with_single_frame_parser(spark, docs):
    """Cross-parser pin: gif_table's single-frame payloads (no
    graphics-control extension at all) decode through the ANIMATED
    walk to exactly one frame with delay 0, pixel-equal to
    _parse_gif's output."""
    import numpy as np

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    payloads = (
        multimodal.gif_table(docs.limit(4)).select("payload").collect()
    )
    for r in payloads:
        buf = bytes(r.payload)
        w1, h1, px1 = multimodal._parse_gif(buf)
        sw, sh, frames = multimodal._parse_gif_frames(buf)
        assert (sw, sh) == (w1, h1)
        assert len(frames) == 1
        delay, canvas = frames[0]
        assert delay == 0
        np.testing.assert_array_equal(canvas, px1)


def test_repeated_spans_sliding_alignment_invariance(spark):
    """A 10-word block pasted at word offset 0 in doc 1 and offset 3
    in doc 2: the sliding sweep finds it in BOTH docs as one maximal
    range (3 overlapping 8-word windows -> range_len 10), while the
    chunked span_dedup misses the misaligned copy entirely (its
    8-word grid never isolates the block in doc 2)."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import dedup

    block = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    filler1 = " ".join(f"pad{i}" for i in range(8))
    filler2 = "uno dos tres"
    docs = spark.createDataFrame(
        [
            (1, f"{block} {filler1}"),
            (2, f"{filler2} {block} " + " ".join(f"tail{i}" for i in range(8))),
        ],
        ["doc_id", "text"],
    )
    ranges = {
        r.doc_id: r
        for r in dedup.repeated_spans_sliding(docs, span_words=8).collect()
    }
    assert set(ranges) == {1, 2}
    assert (ranges[1].range_start, ranges[1].range_len_words) == (0, 10)
    assert (ranges[2].range_start, ranges[2].range_len_words) == (3, 10)
    assert ranges[1].n_windows == ranges[2].n_windows == 3
    # the chunked form cannot see it: doc 2's grid spans mix block and
    # filler words, so no span text repeats
    chunked = dedup.span_dedup(docs, span_words=8, min_count=2).collect()
    assert all(r.n_kept == r.n_spans for r in chunked)


def test_repeated_spans_sliding_no_false_ranges(spark):
    """All-unique corpus: no window repeats, empty output."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(20))) for i in range(5)],
        ["doc_id", "text"],
    )
    assert dedup.repeated_spans_sliding(docs, span_words=8).count() == 0


def test_remove_repeated_spans_cuts_and_reassembles(spark):
    """The cutter on the alignment-invariance fixture: the shared
    10-word block is removed from BOTH carriers (offsets 0 and 3 — a
    per-doc positional cut, never cross-doc), survivors rejoin in
    position order, and every input doc keeps exactly one output row."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import dedup

    block = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    filler1 = " ".join(f"pad{i}" for i in range(8))
    filler2 = "uno dos tres"
    tail = " ".join(f"tail{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (1, f"{block} {filler1}"),
            (2, f"{filler2} {block} {tail}"),
            (3, "short doc"),                      # < span_words: untouched
            (4, block),                            # fully repeated: emptied
            (5, block),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in dedup.remove_repeated_spans(docs).collect()}
    assert set(out) == {1, 2, 3, 4, 5}  # one row per INPUT doc
    assert out[1].clean_text == filler1
    assert (out[1].n_words_kept, out[1].n_words_removed) == (8, 10)
    # doc 2's cut is positional WITHIN doc 2: filler2 (positions 0-2,
    # outside its range) and the tail survive in order
    assert out[2].clean_text == f"{filler2} {tail}"
    assert (out[2].n_words_kept, out[2].n_words_removed) == (11, 10)
    assert out[3].clean_text == "short doc" and out[3].n_words_removed == 0
    for d in (4, 5):
        assert out[d].clean_text == "" and out[d].n_words_kept == 0
        assert out[d].n_words_removed == 10


def test_remove_repeated_spans_keep_first_canonical_survives(spark):
    """The all-but-one cutter: the canonical occurrence (lexicographic
    min (doc_id, start)) of each repeated block SURVIVES, every other
    occurrence — cross-doc or within-doc — is cut; the aggressive
    cutter removes all of them. Keep-one is corpus-level: a doc whose
    copies are both non-canonical loses both."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import dedup

    B = " ".join(f"b{i}" for i in range(8))
    C = " ".join(f"c{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (1, f"{B} x1 x2"),        # canonical carrier of B (start 0)
            (2, f"y1 y2 {B}"),        # non-canonical: loses B
            (3, f"{C} mid {C}"),      # first C canonical, second cut
            (4, f"{B} z1"),           # non-canonical carrier: loses B
        ],
        ["doc_id", "text"],
    )
    keep = {
        r.doc_id: r
        for r in dedup.remove_repeated_spans_keep_first(docs).collect()
    }
    assert set(keep) == {1, 2, 3, 4}
    assert keep[1].clean_text == f"{B} x1 x2" and keep[1].n_words_removed == 0
    assert keep[2].clean_text == "y1 y2"
    assert (keep[2].n_words_kept, keep[2].n_words_removed) == (2, 8)
    assert keep[3].clean_text == f"{C} mid"
    assert (keep[3].n_words_kept, keep[3].n_words_removed) == (9, 8)
    assert keep[4].clean_text == "z1" and keep[4].n_words_removed == 8
    # the aggressive form removes the canonical copies too
    agg = {r.doc_id: r for r in dedup.remove_repeated_spans(docs).collect()}
    assert agg[1].clean_text == "x1 x2"
    assert agg[3].clean_text == "mid"


def test_keep_first_cut_is_subset_of_aggressive_cut(spark, docs):
    """Cross-operator invariant on the real fixture corpus: keep-first
    flags the aggressive sweep's hits MINUS the canonical occurrences,
    so per document its removed-word count never exceeds the
    aggressive cutter's, and the aggressive survivors are a
    subsequence of the keep-first survivors (every position the
    aggressive form keeps, keep-first keeps too)."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import dedup

    agg = {
        r.doc_id: r for r in dedup.remove_repeated_spans(docs).collect()
    }
    keep = {
        r.doc_id: r
        for r in dedup.remove_repeated_spans_keep_first(docs).collect()
    }
    assert set(agg) == set(keep)
    stricter = 0
    for d, a in agg.items():
        k = keep[d]
        assert k.n_words_removed <= a.n_words_removed
        stricter += k.n_words_removed < a.n_words_removed
        # subsequence check: aggressive survivors within keep-first's
        aw, kw = a.clean_text.split(), iter(k.clean_text.split())
        assert all(w in kw for w in aw), f"doc {d}: not a subsequence"
    # the fixture has repeated spans, so keep-first must actually be
    # strictly laxer somewhere (canonical copies survive)
    assert stricter > 0


def test_leakage_safe_split_clusters_share_fate(spark):
    """Near-dup docs land in the SAME split: planted 3-way near-dup
    cluster + an exact pair + unique docs — every cluster maps to one
    split, singletons follow their own doc_id bucket, and the split
    matches the md5 threshold rule exactly."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import sampling

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the band plays on through the night")
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra"),
            (3, "prefix " + base),
            (10, "totally different words " + " ".join(f"u{i}" for i in range(12))),
            (11, "another unrelated doc " + " ".join(f"v{i}" for i in range(12))),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in sampling.leakage_safe_split(docs).collect()}
    assert set(out) == {1, 2, 3, 10, 11}
    # the near-dup trio is one cluster (min-label = 1) with ONE split
    assert {out[d].cluster_id for d in (1, 2, 3)} == {1}
    assert len({out[d].split for d in (1, 2, 3)}) == 1
    # singletons cluster on themselves and follow the dataset_split rule
    for d in (10, 11):
        assert out[d].cluster_id == d
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators.sampling import (
        BUCKETS,
        hash_bucket,
    )
    from pyspark.sql import functions as F

    want = {
        r.cluster_id: r.b
        for r in spark.createDataFrame(
            [(out[d].cluster_id,) for d in out], ["cluster_id"]
        ).select("cluster_id", hash_bucket(F.col("cluster_id"), salt="split").alias("b")).collect()
    }
    for d, r in out.items():
        b = want[r.cluster_id]
        expect = "train" if b < 8000 else ("val" if b < 9000 else "test")
        assert r.split == expect, f"doc {d}"


def test_semantic_dup_components_match_union_find(spark):
    """The r11 detector->CC composition: the star-CC component labels
    must equal an independent union-find (component-minimum labeling)
    over the SAME attribution edges the capped SemDeDup emits — and
    the planted exact twins that survive the cluster cap must land in
    their original vector's component."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import load_table
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import similarity
    from etl_visualization_of_cryptocurrency_trading_data_spark.plans.registry import (
        q_semantic_dup_components,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    got = {r.vec_id: r.component_id for r in q_semantic_dup_components(spark, sf).collect()}
    assert got, "no attribution edges at fixture scale"

    emb = load_table(spark, sf, "embeddings")
    twins = emb.filter(F.col("vec_id") % 25 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_000)
    )
    cents = similarity.kmeans_centroids(emb, iters=2, centroid_limit=32)
    edges = [
        (r.dup_of, r.vec_id)
        for r in similarity.semantic_dedup(
            emb.unionByName(twins), threshold=0.9, centroids=cents, max_cluster=12
        ).collect()
    ]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for a, b in edges:
        for n in (a, b):
            want[n] = find(n)
    assert got == want
    # at least one planted twin pair survives the cap and is grouped
    planted = [(v, c) for v, c in got.items() if v >= 1_000_000]
    assert planted
    # ADVICE r11: got.get(origin, c) == c is vacuously true when the
    # origin vector is absent from the component map — require at
    # least one planted twin's ORIGIN to appear in an edge, so the
    # attribution check below has teeth for that pair
    assert any(v - 1_000_000 in got for v, _ in planted)
    for v, c in planted:
        assert got.get(v - 1_000_000, c) == c


def test_dhash_ppm_matches_hand_computation(spark):
    """The fixed-point dHash (multimodal.dhash_ppm) must reproduce a
    from-first-principles hand computation on the decoded payload:
    NN-sample a 9x8 grid (src = (g * size) // grid), integer luma
    299R+587G+114B, bit k = gray(gx+1) > gray(gx) row-major, four
    LSB-first 16-bit bands. Exercises the REAL payload parse, not the
    closed-form shortcut the oracle uses."""
    import numpy as np

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    docs = load_table(spark, SF_SMOKE, "documents").limit(40)
    media = multimodal.ppm_table(docs)
    got = {
        int(r["doc_id"]): [r["band0"], r["band1"], r["band2"], r["band3"]]
        for r in multimodal.dhash_ppm(media).collect()
    }
    payloads = {int(r["doc_id"]): bytes(r["payload"]) for r in media.collect()}
    assert len(got) == len(payloads) > 0
    for d, buf in payloads.items():
        w, h, px = multimodal._parse_ppm(buf)
        xs = (np.arange(9, dtype=np.int64) * w) // 9
        ys = (np.arange(8, dtype=np.int64) * h) // 8
        g = px[np.ix_(ys, xs)].astype(np.int64)
        gray = 299 * g[:, :, 0] + 587 * g[:, :, 1] + 114 * g[:, :, 2]
        bits = (gray[:, 1:] > gray[:, :-1]).astype(np.int64).ravel()
        want = [int((bits[16 * k : 16 * k + 16] << np.arange(16)).sum()) for k in range(4)]
        assert got[d] == want, d


def test_perceptual_dup_clusters_match_bruteforce_components(spark):
    """perceptual_dup_clusters' banded candidate generation + star CC
    must produce EXACTLY the components of the full quadratic
    Hamming<=3 graph over distinct hashes — the pigeonhole banding may
    drop no pair (4 bands, 64 bits, radius 3), and the cluster label
    must be the component-minimum doc_id with the right member count."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    docs = load_table(spark, SF_SMOKE, "documents")
    media = multimodal.ppm_table(docs)
    fps = {
        int(r["doc_id"]): (r["band0"], r["band1"], r["band2"], r["band3"])
        for r in multimodal.dhash_ppm(media).collect()
    }
    # ground truth: union-find over ALL distinct-hash pairs within
    # Hamming 3 (no banding), docs inherit their hash's component
    reps: dict[tuple, int] = {}
    for d, hsh in sorted(fps.items()):
        reps.setdefault(hsh, d)
    ids = sorted(reps.values())
    hs = {v: k for k, v in reps.items()}
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = sum(bin(x ^ y).count("1") for x, y in zip(hs[a], hs[b]))
            if ham <= 3:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    want_label = {d: find(reps[hsh]) for d, hsh in fps.items()}
    want_sizes: dict[int, int] = {}
    for lbl in want_label.values():
        want_sizes[lbl] = want_sizes.get(lbl, 0) + 1

    got = {
        int(r["doc_id"]): (int(r["cluster_id"]), int(r["n_members"]))
        for r in multimodal.perceptual_dup_clusters(media).collect()
    }
    assert len(got) == len(fps)
    for d in fps:
        assert got[d] == (want_label[d], want_sizes[want_label[d]]), d


def test_ahash_ppm_matches_hand_computation(spark):
    """aHash (multimodal.ahash_ppm): bit = cell luma vs GRID MEAN,
    integer-exact as 64*gray > sum(grays). Hand computation from the
    decoded payloads, independent of operator and oracle — and at
    least one image must have a non-trivial hash (not all-zeros/ones),
    or the mean comparison would be vacuous."""
    import numpy as np

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    docs = load_table(spark, SF_SMOKE, "documents").limit(40)
    media = multimodal.ppm_table(docs)
    got = {
        int(r["doc_id"]): [r["band0"], r["band1"], r["band2"], r["band3"]]
        for r in multimodal.ahash_ppm(media).collect()
    }
    payloads = {int(r["doc_id"]): bytes(r["payload"]) for r in media.collect()}
    assert len(got) == len(payloads) > 0
    nontrivial = 0
    for d, buf in payloads.items():
        w, h, px = multimodal._parse_ppm(buf)
        xs = (np.arange(8, dtype=np.int64) * w) // 8
        ys = (np.arange(8, dtype=np.int64) * h) // 8
        g = px[np.ix_(ys, xs)].astype(np.int64)
        gray = 299 * g[:, :, 0] + 587 * g[:, :, 1] + 114 * g[:, :, 2]
        bits = (64 * gray > gray.sum()).astype(np.int64).ravel()
        want = [int((bits[16 * k : 16 * k + 16] << np.arange(16)).sum()) for k in range(4)]
        assert got[d] == want, d
        if 0 < bits.sum() < 64:
            nontrivial += 1
    assert nontrivial > 0


def test_perceptual_dup_survivors_keep_highest_resolution(spark):
    """Survivorship over perceptual clusters: one row per cluster, the
    survivor is the cluster member with max width*height (min doc_id on
    ties), n_members matches the cluster size."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    docs = load_table(spark, SF_SMOKE, "documents")
    media = multimodal.ppm_table(docs)
    clusters = {
        int(r["doc_id"]): (int(r["cluster_id"]), int(r["n_members"]))
        for r in multimodal.perceptual_dup_clusters(media).collect()
    }
    dims = {
        int(r["doc_id"]): (int(r["width"]), int(r["height"]))
        for r in media.select("doc_id", "width", "height").collect()
    }
    want = {}
    for d, (c, n) in clusters.items():
        w, h = dims[d]
        key = (-w * h, d)
        if c not in want or key < want[c][0]:
            want[c] = (key, d, w, h, n)
    got = {
        int(r["cluster_id"]): (
            int(r["survivor_id"]), int(r["width"]), int(r["height"]), int(r["n_members"])
        )
        for r in multimodal.perceptual_dup_survivors(media).collect()
    }
    assert set(got) == set(want)
    for c, (_, d, w, h, n) in want.items():
        assert got[c] == (d, w, h, n), c


def test_perceptual_dup_clusters_union_matches_bruteforce(spark):
    """The dual-family union (multimodal.perceptual_dup_clusters_union)
    must produce EXACTLY the components of the doc-level graph where
    i ~ j iff dHash-distance <= H OR aHash-distance <= H — i.e. the
    banded per-family pair joins plus the (d-rep, a-rep) bridge edges
    lose no pair and invent none. Ground truth: quadratic union-find
    over the full doc-level OR relation. Also pins the union's reason
    to exist: the fixture must contain at least one same-cluster pair
    caught by EXACTLY ONE family (a dHash-only and an aHash-only
    pair), else the composition would be vacuous here."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    H = 1  # the registered max_hamming (precision-tightened for union)
    docs = load_table(spark, SF_SMOKE, "documents")
    media = multimodal.ppm_table(docs)
    d_fp = {
        int(r["doc_id"]): (r["band0"], r["band1"], r["band2"], r["band3"])
        for r in multimodal.dhash_ppm(media).collect()
    }
    a_fp = {
        int(r["doc_id"]): (r["band0"], r["band1"], r["band2"], r["band3"])
        for r in multimodal.ahash_ppm(media).collect()
    }
    assert set(d_fp) == set(a_fp) and len(d_fp) > 100

    def ham(x, y):
        return sum(bin(a ^ b).count("1") for a, b in zip(x, y))

    ids = sorted(d_fp)
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    d_only = a_only = 0
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            hd = ham(d_fp[a], d_fp[b])
            ha = ham(a_fp[a], a_fp[b])
            if hd <= H or ha <= H:
                if hd <= H and ha > H:
                    d_only += 1
                if ha <= H and hd > H:
                    a_only += 1
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    assert d_only > 0 and a_only > 0  # each family contributes pairs the other misses
    want_label = {d: find(d) for d in ids}
    want_sizes: dict[int, int] = {}
    for lbl in want_label.values():
        want_sizes[lbl] = want_sizes.get(lbl, 0) + 1

    got = {
        int(r["doc_id"]): (int(r["cluster_id"]), int(r["n_members"]))
        for r in multimodal.perceptual_dup_clusters_union(media, max_hamming=H).collect()
    }
    assert len(got) == len(ids)
    for d in ids:
        assert got[d] == (want_label[d], want_sizes[want_label[d]]), d
    spark.catalog.clearCache()


def test_afp_wav_matches_hand_computation(spark):
    """The audio fingerprint (multimodal.afp_wav) must reproduce a
    from-first-principles hand computation on the decoded RIFF/WAVE
    payload: exact int64 mono mix, squared energy per 65
    integer-assigned windows (w = i*65//n, empty tail windows = 0),
    bit k = e_{k+1} > e_k, four LSB-first 16-bit bands. Exercises the
    REAL RIFF chunk walk, not the closed-form shortcut the oracle
    uses — and at least one clip must have a mixed-bit fingerprint."""
    import numpy as np

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    docs = load_table(spark, SF_SMOKE, "documents").limit(40)
    media = multimodal.wav_table(docs)
    got = {
        int(r["doc_id"]): [r["band0"], r["band1"], r["band2"], r["band3"]]
        for r in multimodal.afp_wav(media).collect()
    }
    payloads = {int(r["doc_id"]): bytes(r["payload"]) for r in media.collect()}
    assert len(got) == len(payloads) > 0
    nontrivial = 0
    for d, buf in payloads.items():
        c, _sr, _bits, data = multimodal._parse_wav(buf)
        samples = np.frombuffer(data, dtype="<i2").astype(np.int64)
        n = samples.size // c
        mono = samples.reshape(n, c).sum(axis=1)
        w = (np.arange(n, dtype=np.int64) * 65) // n
        e = np.zeros(65, dtype=np.int64)
        np.add.at(e, w, mono * mono)
        bits = (e[1:] > e[:-1]).astype(np.int64)
        want = [int((bits[16 * k : 16 * k + 16] << np.arange(16)).sum()) for k in range(4)]
        assert got[d] == want, d
        if 0 < bits.sum() < 64:
            nontrivial += 1
    assert nontrivial > 0


def test_audio_dup_clusters_match_bruteforce_components(spark):
    """audio_dup_clusters' banded candidates + star CC must equal the
    components of the full quadratic Hamming<=2 graph over distinct
    fingerprints (pigeonhole: 4 bands, 64 bits, radius 2 loses no
    pair), labels = component-minimum doc_id with the right member
    count — the image-family contract, re-proven for the audio hash."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    docs = load_table(spark, SF_SMOKE, "documents")
    media = multimodal.wav_table(docs)
    fps = {
        int(r["doc_id"]): (r["band0"], r["band1"], r["band2"], r["band3"])
        for r in multimodal.afp_wav(media).collect()
    }
    reps: dict[tuple, int] = {}
    for d, hsh in sorted(fps.items()):
        reps.setdefault(hsh, d)
    ids = sorted(reps.values())
    hs = {v: k for k, v in reps.items()}
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    n_edges = 0
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = sum(bin(x ^ y).count("1") for x, y in zip(hs[a], hs[b]))
            if ham <= 2:
                n_edges += 1
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    assert n_edges > 0  # the radius binds at fixture scale
    want_label = {d: find(reps[hsh]) for d, hsh in fps.items()}
    want_sizes: dict[int, int] = {}
    for lbl in want_label.values():
        want_sizes[lbl] = want_sizes.get(lbl, 0) + 1

    got = {
        int(r["doc_id"]): (int(r["cluster_id"]), int(r["n_members"]))
        for r in multimodal.audio_dup_clusters(media).collect()
    }
    assert len(got) == len(fps)
    for d in fps:
        assert got[d] == (want_label[d], want_sizes[want_label[d]]), d
    spark.catalog.clearCache()


def test_vfp_gif_matches_hand_computation(spark):
    """The video fingerprint (multimodal.vfp_gif) must reproduce a
    from-first-principles hand computation on the decoded animated-GIF
    frames: sample f_k = (k*(nf-1))//3, 4x5 NN grid, integer luma,
    right-neighbor gradient sign, band_k = frame k's 16 LSB-first
    bits. Exercises the REAL LZW decode + compositing walk, not the
    closed-form shortcut the oracle uses. Clips with nf=2 must repeat
    boundary frames (band0 == band1 == band2 — the sampled indices
    f_k = k//3 are 0,0,0,1), and at least one clip must have a
    mixed-bit fingerprint."""
    import numpy as np

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    docs = load_table(spark, SF_SMOKE, "documents").limit(40)
    media = multimodal.gif_table_animated(docs)
    got = {
        int(r["doc_id"]): [r["band0"], r["band1"], r["band2"], r["band3"]]
        for r in multimodal.vfp_gif(media).collect()
    }
    payloads = {int(r["doc_id"]): bytes(r["payload"]) for r in media.collect()}
    assert len(got) == len(payloads) > 0
    nontrivial = 0
    saw_two_frame = False
    for d, buf in payloads.items():
        _sw, _sh, frs = multimodal._parse_gif_frames(buf)
        nf = len(frs)
        want = []
        for k in range(4):
            px = frs[(k * (nf - 1)) // 3][1].astype(np.int64)
            h, w = px.shape[0], px.shape[1]
            xs = (np.arange(5, dtype=np.int64) * w) // 5
            ys = (np.arange(4, dtype=np.int64) * h) // 4
            g = px[np.ix_(ys, xs)]
            gray = 299 * g[:, :, 0] + 587 * g[:, :, 1] + 114 * g[:, :, 2]
            bits = (gray[:, 1:] > gray[:, :-1]).astype(np.int64).ravel()
            want.append(int((bits << np.arange(16)).sum()))
        assert got[d] == want, d
        if nf == 2:
            saw_two_frame = True
            assert got[d][0] == got[d][1] == got[d][2], d
        if 0 < sum(bin(b).count("1") for b in want) < 64:
            nontrivial += 1
    assert nontrivial > 0 and saw_two_frame


def test_video_dup_clusters_match_bruteforce_components(spark):
    """video_dup_clusters' banded candidates + star CC must equal the
    components of the full quadratic Hamming<=1 graph over distinct
    fingerprints (pigeonhole: 4 bands, 64 bits, radius 1 loses no
    pair), labels = component-minimum doc_id with the right member
    count — the image/audio-family contract, re-proven for the video
    hash."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    docs = load_table(spark, SF_SMOKE, "documents")
    media = multimodal.gif_table_animated(docs)
    fps = {
        int(r["doc_id"]): (r["band0"], r["band1"], r["band2"], r["band3"])
        for r in multimodal.vfp_gif(media).collect()
    }
    reps: dict[tuple, int] = {}
    for d, hsh in sorted(fps.items()):
        reps.setdefault(hsh, d)
    ids = sorted(reps.values())
    hs = {v: k for k, v in reps.items()}
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    n_edges = 0
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = sum(bin(x ^ y).count("1") for x, y in zip(hs[a], hs[b]))
            if ham <= 1:
                n_edges += 1
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    assert n_edges > 0  # the radius binds at fixture scale
    want_label = {d: find(reps[hsh]) for d, hsh in fps.items()}
    want_sizes: dict[int, int] = {}
    for lbl in want_label.values():
        want_sizes[lbl] = want_sizes.get(lbl, 0) + 1

    got = {
        int(r["doc_id"]): (int(r["cluster_id"]), int(r["n_members"]))
        for r in multimodal.video_dup_clusters(media, max_hamming=1).collect()
    }
    assert len(got) == len(fps)
    for d in fps:
        assert got[d] == (want_label[d], want_sizes[want_label[d]]), d
    spark.catalog.clearCache()


def test_audio_dup_survivors_keep_longest_clip(spark):
    """Audio survivorship: one row per audio_dup_clusters cluster, the
    survivor is the member with max header n_frames (min doc_id on
    ties), n_members matches the cluster size — the image family's
    survivorship contract re-proven for the duration ranking."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    docs = load_table(spark, SF_SMOKE, "documents")
    media = multimodal.wav_table(docs)
    clusters = {
        int(r["doc_id"]): (int(r["cluster_id"]), int(r["n_members"]))
        for r in multimodal.audio_dup_clusters(media).collect()
    }
    frames = {
        int(r["doc_id"]): int(r["n_frames"])
        for r in media.select("doc_id", "n_frames").collect()
    }
    want = {}
    for d, (c, n) in clusters.items():
        key = (-frames[d], d)
        if c not in want or key < want[c][0]:
            want[c] = (key, d, frames[d], n)
    got = {
        int(r["cluster_id"]): (int(r["survivor_id"]), int(r["n_frames"]), int(r["n_members"]))
        for r in multimodal.audio_dup_survivors(media).collect()
    }
    assert set(got) == set(want)
    for c, (_, d, nf, n) in want.items():
        assert got[c] == (d, nf, n), c
    spark.catalog.clearCache()


def test_video_dup_survivors_keep_largest_frame_volume(spark):
    """Video survivorship: one row per video_dup_clusters cluster, the
    survivor is the member with max n_frames*width*height (min doc_id
    on ties) — completing the per-modality quality rankings (image
    resolution / audio duration / video frame volume)."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    docs = load_table(spark, SF_SMOKE, "documents")
    media = multimodal.gif_table_animated(docs)
    clusters = {
        int(r["doc_id"]): (int(r["cluster_id"]), int(r["n_members"]))
        for r in multimodal.video_dup_clusters(media, max_hamming=1).collect()
    }
    dims = {
        int(r["doc_id"]): (int(r["n_frames"]), int(r["width"]), int(r["height"]))
        for r in media.select("doc_id", "n_frames", "width", "height").collect()
    }
    want = {}
    for d, (c, n) in clusters.items():
        nf, w, h = dims[d]
        key = (-nf * w * h, d)
        if c not in want or key < want[c][0]:
            want[c] = (key, d, nf, w, h, n)
    got = {
        int(r["cluster_id"]): (
            int(r["survivor_id"]), int(r["n_frames"]),
            int(r["width"]), int(r["height"]), int(r["n_members"]),
        )
        for r in multimodal.video_dup_survivors(media, max_hamming=1).collect()
    }
    assert set(got) == set(want)
    for c, (_, d, nf, w, h, n) in want.items():
        assert got[c] == (d, nf, w, h, n), c
    spark.catalog.clearCache()


def test_multimodal_dedup_report_matches_per_modality_recount(spark):
    """The capstone report's row per modality must equal an independent
    recount over that modality's OWN fingerprint + cluster frames
    (collected and aggregated in Python): fingerprinted population,
    distinct fingerprints, clusters, docs in multi-member clusters,
    largest cluster. Also pins non-vacuity: every modality's fixture
    slice contains at least one multi-member cluster."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators.dedup import _simhash_bands_md5
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators.multimodal import (
        _phash_cluster_labels,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    ppm = multimodal.ppm_table(docs)
    wav = multimodal.wav_table(docs)
    gif = multimodal.gif_table_animated(docs)
    got = {
        r["modality"]: (
            int(r["n_docs"]), int(r["n_distinct_fp"]), int(r["n_clusters"]),
            int(r["n_dup_docs"]), int(r["max_cluster_size"]),
        )
        for r in multimodal.multimodal_dedup_report(docs, ppm, wav, gif).collect()
    }
    assert set(got) == {"text", "image", "audio", "video"}

    fams = {
        "text": (_simhash_bands_md5(docs, n_bits=128), 3),
        "image": (multimodal.dhash_ppm(ppm), 3),
        "audio": (multimodal.afp_wav(wav), 2),
        "video": (multimodal.vfp_gif(gif), 1),
    }
    for name, (fps, mh) in fams.items():
        fp_rows = fps.collect()
        hashes = {
            int(r["doc_id"]): (r["band0"], r["band1"], r["band2"], r["band3"])
            for r in fp_rows
        }
        labels = _phash_cluster_labels(fps.persist(), mh).collect()
        sizes: dict[int, int] = {}
        for r in labels:
            sizes[int(r["cluster_id"])] = sizes.get(int(r["cluster_id"]), 0) + 1
        want = (
            len(hashes),
            len(set(hashes.values())),
            len(sizes),
            sum(m for m in sizes.values() if m > 1),
            max(sizes.values()),
        )
        assert got[name] == want, (name, got[name], want)
        assert want[3] > 0, f"{name} fixture slice has no dup cluster"
    spark.catalog.clearCache()


def test_multimodal_dedup_report_keeps_empty_modalities(spark):
    """A modality with no fingerprinted docs keeps its report row with
    the oracle's empty-aggregate values (counts 0, n_dup_docs and
    max_cluster_size NULL): here every text is under the 3-word shingle
    floor and the audio table is empty."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    docs = load_table(spark, SF_SMOKE, "documents").orderBy("doc_id").limit(30)
    rows = {
        r["modality"]: r
        for r in multimodal.multimodal_dedup_report(
            docs.withColumn("text", F.lit("two words")),
            multimodal.ppm_table(docs),
            multimodal.wav_table(docs).limit(0),
            multimodal.gif_table_animated(docs),
        ).collect()
    }
    assert set(rows) == {"text", "image", "audio", "video"}
    cols = ["n_docs", "n_distinct_fp", "n_clusters", "n_dup_docs", "max_cluster_size"]
    for name in ("text", "audio"):
        assert [rows[name][c] for c in cols] == [0, 0, 0, None, None], name
    for name in ("image", "video"):
        assert rows[name]["n_docs"] > 0, name
    spark.catalog.clearCache()


def test_passthrough_cols_parses_ddl(spark):
    """Passthrough fragments are parsed as DDL, so a comma inside a type
    (decimal precision, map key/value) does not split a column."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators.multimodal import (
        _passthrough_cols,
    )

    assert _passthrough_cols("w int, d decimal(10,2)") == ["w", "d"]
    assert _passthrough_cols("m map<int,int>, w int") == ["m", "w"]
    assert _passthrough_cols("") == []


def test_rep_id_tag_rejects_ids_outside_encodable_range(spark):
    """The report's ``rep_id * 4 + modality`` encoding is exact only for
    rep ids in [0, 2^61): the edges of the range encode (2^61 - 1 lands
    on the largest long), and an id past either edge raises a typed
    error instead of a mislabeled cluster."""
    from pyspark.errors import SparkRuntimeException

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators.multimodal import (
        _tag_rep_id,
    )

    ok = spark.createDataFrame([(0,), ((1 << 61) - 1,)], "rep_id_a long")
    got = [r[0] for r in ok.select(_tag_rep_id("rep_id_a", 3)).collect()]
    assert got == [3, (1 << 63) - 1]
    for bad in (-1, 1 << 61):
        df = spark.createDataFrame([(5,), (bad,)], "rep_id_a long")
        with pytest.raises(SparkRuntimeException, match=r"outside \[0, 2\^61\)"):
            df.select(_tag_rep_id("rep_id_a", 1)).collect()
