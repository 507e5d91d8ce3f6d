"""Unit tests for the corpus-curation operators (operators/corpus.py),
the binned interval join, and the price-correlation matrix — edge
semantics on tiny literal frames plus fixture-scale equivalence checks
(SURVEY §5.2 operator-family tests)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from etl_visualization_of_cryptocurrency_trading_data_spark.operators import (
    corpus,
    derive,
    relational,
)

from conftest import SF_ORACLE, SF_SMOKE


# ---------------------------------------------------------------------------
# stratified_sample
# ---------------------------------------------------------------------------


def _docs(spark):
    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import load_table

    return load_table(spark, SF_ORACLE, "documents")


def test_stratified_sample_rates_and_drop(spark):
    docs = _docs(spark)
    frac = {"en": 0.2, "de": 1.0}
    got = corpus.stratified_sample(docs, "doc_id", "lang", frac)
    counts = {r.lang: r.n for r in got.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    totals = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert set(counts) <= {"en", "de"}          # unlisted strata dropped
    assert counts["de"] == totals["de"]          # fraction 1.0 keeps all
    # 20% +/- sampling noise on ~200 docs
    assert 0.05 < counts["en"] / totals["en"] < 0.45


def test_stratified_sample_consistent_supersets(spark):
    """A key kept at a lower fraction stays kept at a higher one."""
    docs = _docs(spark)
    small = {
        r.doc_id
        for r in corpus.stratified_sample(docs, "doc_id", "lang", {"en": 0.1}).collect()
    }
    big = {
        r.doc_id
        for r in corpus.stratified_sample(docs, "doc_id", "lang", {"en": 0.4}).collect()
    }
    assert small <= big and len(small) < len(big)


# ---------------------------------------------------------------------------
# pack_chunks
# ---------------------------------------------------------------------------


def test_pack_chunks_layout(spark):
    # tokens per doc under the BPE-ish regex: 'a b' -> 2, etc.
    rows = [
        (1, "s", "one two three"),          # 3 tokens  -> [0, 3)
        (2, "s", "x " * 4),                 # 4 tokens  -> [3, 7)
        (3, "s", ""),                       # 0 tokens  -> no chunk
        (4, "s", "y " * 6),                 # 6 tokens  -> [7, 13)
        (5, "t", "z " * 3),                 # other shard restarts at 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r.doc_id: r
        for r in corpus.pack_chunks(df, budget=4, shard_col="source").collect()
    }
    assert (got[1].first_chunk, got[1].last_chunk, got[1].n_chunks) == (0, 0, 1)
    assert (got[2].first_chunk, got[2].last_chunk, got[2].n_chunks) == (0, 1, 2)
    assert got[3].n_chunks == 0 and got[3].first_chunk is None
    assert (got[4].first_chunk, got[4].last_chunk, got[4].n_chunks) == (1, 3, 3)
    assert (got[5].first_chunk, got[5].last_chunk, got[5].n_chunks) == (0, 0, 1)


def test_pack_chunks_conservation(spark):
    """Shard token totals equal the max chunk end; every document's
    span is consistent (first <= last, n_chunks = last - first + 1)."""
    got = corpus.pack_chunks(_docs(spark), budget=512).cache()
    bad = got.filter(
        (F.col("n_tokens") > 0)
        & (
            (F.col("first_chunk") > F.col("last_chunk"))
            | (F.col("n_chunks") != F.col("last_chunk") - F.col("first_chunk") + 1)
            # a doc spanning k chunks must exceed the capacity of k-1
            | (F.col("n_tokens") + 2 * (512 - 1) < (F.col("n_chunks") - 1) * 512)
        )
    ).count()
    assert bad == 0
    got.unpersist()


# ---------------------------------------------------------------------------
# pack_chunks_bpe
# ---------------------------------------------------------------------------


def test_pack_chunks_bpe_tokenizer_true_and_conservation(spark):
    """The trained-tokenizer pack (r9 verdict item #5): (a) budgets
    are TOKENIZER-TRUE — each doc's n_tokens_bpe equals
    bpe_encode_counts' value under the same rounds (0 for wordless
    docs); (b) conservation — recomputing the shard cumsum / chunk
    ranges in pandas from those counts reproduces the manifest
    exactly, and the shard's chunk count is ceil(total/budget)."""
    import math

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import text

    budget = 64
    docs = _docs(spark)
    got = corpus.pack_chunks_bpe(docs, rounds=3, budget=budget).toPandas()
    enc = {
        r.doc_id: r.n_tokens_bpe
        for r in text.bpe_encode_counts(docs, rounds=3).collect()
    }
    n_docs = docs.count()
    assert len(got) == n_docs  # wordless docs stay in the manifest
    for r in got.itertuples():
        assert r.n_tokens_bpe == enc.get(r.doc_id, 0)
    for _, shard in got.groupby("source"):
        shard = shard.sort_values("doc_id")
        end = 0
        for r in shard.itertuples():
            start, end = end, end + r.n_tokens_bpe
            if r.n_tokens_bpe == 0:
                assert r.n_chunks == 0
                continue
            assert r.first_chunk == start // budget
            assert r.last_chunk == (end - 1) // budget
            assert r.n_chunks == r.last_chunk - r.first_chunk + 1
        if end > 0:
            assert int(shard.last_chunk.max()) + 1 == math.ceil(end / budget)


def test_pack_chunks_bpe_custom_order_col(spark):
    """order_col drives the within-shard packing order only — the
    encode join stays on doc_id (code-review r10: a non-default
    order_col used to fail analysis). Reversing the order via a
    priority column reverses the cumsum."""
    rows = [
        (1, "s", 2, "aa bb cc"),
        (2, "s", 1, "dd ee"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, prio long, text string"
    )
    got = {
        r.doc_id: r
        for r in corpus.pack_chunks_bpe(
            df, rounds=1, budget=4, order_col="prio"
        ).collect()
    }
    # prio orders doc 2 first: its tokens fill the first window slots
    assert got[2].first_chunk == 0
    assert got[1].first_chunk >= got[2].first_chunk
    n1, n2 = got[1].n_tokens_bpe, got[2].n_tokens_bpe
    assert got[1].last_chunk == (n1 + n2 - 1) // 4


def test_pack_order_col_ties_break_on_doc_id(spark):
    """ADVICE r10: with a NON-UNIQUE custom order_col, the running sum
    must tie-break on doc_id — the packing is then deterministic and
    equals the (order_col, doc_id) lexicographic layout exactly."""
    rows = [  # all four docs share prio=1 -> pure tie-break ordering
        (4, "s", 1, "aa bb cc"),   # 3 tokens
        (2, "s", 1, "dd ee"),      # 2 tokens
        (9, "s", 1, "ff"),         # 1 token
        (7, "s", 1, "gg hh"),      # 2 tokens
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, prio long, text string"
    )
    got = {
        r.doc_id: r
        for r in corpus.pack_chunks_bpe(
            df, rounds=1, budget=3, order_col="prio"
        ).collect()
    }
    # doc_id-ascending within the tie: the cumsum must walk 2, 4, 7, 9
    end = 0
    for d in [2, 4, 7, 9]:
        n = got[d].n_tokens_bpe
        end += n
        assert got[d].first_chunk == (end - n) // 3, d
        assert got[d].last_chunk == (end - 1) // 3, d
    # same contract for the regex-token packer (its output keys by
    # order_col, so with ties assert the multiset of chunk layouts
    # matches the doc_id-ascending packing: 2,3,2,1 tokens in order)
    rows2 = corpus.pack_chunks(
        df.withColumnRenamed("prio", "p"), budget=3,
        shard_col="source", order_col="p",
    ).collect()
    layout = sorted((r.n_tokens, r.first_chunk, r.last_chunk) for r in rows2)
    assert layout == sorted([(2, 0, 0), (3, 0, 1), (2, 1, 2), (1, 2, 2)])


def test_curation_pipeline_v3_stage_counts(spark):
    """r10 verdict item #3: the end-to-end pretraining composition's
    per-stage drop accounting — recompute each stage standalone at
    fixture scale and pin (a) the monotone funnel, (b) that the
    pipeline's selected docs are exactly the DSIR top-k of the clean
    train corpus, and (c) that the emitted manifest equals
    pack_chunks_bpe over that selection."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import (
        dedup,
        sampling,
        text,
    )

    docs = _docs(spark)
    n0 = docs.count()
    cols = ["doc_id", "text", "lang", "source"]
    quality = (
        text.with_quality(docs).filter(F.col("is_quality")).select(*cols).persist()
    )
    n1 = quality.count()
    assert 0 < n1 <= n0
    pairs = dedup.minhash_lsh_pairs(quality, hash_family="md5")
    comp = dedup.connected_components_star(pairs)
    survivors = (
        quality.join(F.broadcast(comp), "doc_id", "left")
        .filter(
            F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id"))
        )
        .select(*cols)
        .persist()
    )
    n2 = survivors.count()
    assert 0 < n2 <= n1
    split = sampling.train_val_test_split(survivors, "doc_id")
    n_train = split.filter(F.col("split") == "train").count()
    assert 0 < n_train <= n2
    contaminated = dedup.cross_split_contamination(survivors).filter(
        F.col("contamination_ratio") >= 0.5
    )
    train_clean = (
        split.filter(F.col("split") == "train")
        .join(F.broadcast(contaminated.select("doc_id")), "doc_id", "left_anti")
        .select(*cols)
        .persist()
    )
    n3 = train_clean.count()
    assert 0 < n3 <= n_train
    picked = sampling.dsir_sample(train_clean, k=200)
    picked_ids = {r.doc_id for r in picked.collect()}
    train_ids = {r.doc_id for r in train_clean.select("doc_id").collect()}
    assert 0 < len(picked_ids) <= 200
    assert picked_ids <= train_ids
    out = {
        r.doc_id: r for r in corpus.curation_pipeline_v3(docs).collect()
    }
    # (b) selection identity
    assert set(out) == picked_ids
    # (c) manifest identity vs a standalone pack over the selection
    selected = train_clean.join(
        F.broadcast(picked.select("doc_id")), "doc_id"
    )
    ref = {
        r.doc_id: r
        for r in corpus.pack_chunks_bpe(selected, rounds=3, budget=512).collect()
    }
    assert len(ref) == len(out)
    for d, r in ref.items():
        o = out[d]
        assert (
            r.n_tokens_bpe,
            r.first_chunk,
            r.last_chunk,
            r.n_chunks,
            r.source,
        ) == (o.n_tokens_bpe, o.first_chunk, o.last_chunk, o.n_chunks, o.source)
    for df in (quality, survivors, train_clean):
        df.unpersist()


def test_pack_column_role_guards(spark):
    """ADVICE r10: order_col == shard_col (or shard_col == doc_id for
    the BPE packer) raises a descriptive ValueError instead of an
    ambiguous-reference AnalysisException."""
    df = spark.createDataFrame(
        [(1, "s", "aa bb")], "doc_id long, source string, text string"
    )
    with pytest.raises(ValueError, match="must differ"):
        corpus.pack_chunks_bpe(df, order_col="source", shard_col="source")
    with pytest.raises(ValueError, match="doc_id"):
        corpus.pack_chunks_bpe(df, shard_col="doc_id", order_col="source")
    with pytest.raises(ValueError, match="must differ"):
        corpus.pack_chunks(df, order_col="source", shard_col="source")


# ---------------------------------------------------------------------------
# top_terms
# ---------------------------------------------------------------------------


def test_top_terms_counts_and_ties(spark):
    df = spark.createDataFrame(
        [
            (1, "en", "b b a a c"),
            (2, "en", "a b"),
            (3, "fr", "z"),
        ],
        "doc_id long, lang string, text string",
    )
    got = corpus.top_terms(df, k=2).collect()
    by_lang = {}
    for r in got:
        by_lang.setdefault(r.lang, []).append((r.rank, r.term, r.n))
    # a and b both appear 3x in en: tie broken term-asc -> a first
    assert by_lang["en"] == [(1, "a", 3), (2, "b", 3)]
    assert by_lang["fr"] == [(1, "z", 1)]


# ---------------------------------------------------------------------------
# redact_pii
# ---------------------------------------------------------------------------


def test_redact_pii_spans_and_sequential_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at bob@example.com or call 1234567 now"),
            (2, "see https://x.test/a?u=alice@example.com for details"),
            (3, "clean text, short 123"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in corpus.redact_pii(df).collect()}
    assert (got[1].n_urls, got[1].n_emails, got[1].n_long_numbers) == (0, 1, 1)
    assert got[1].redacted_text == "mail me at <EMAIL> or call <NUM> now"
    # the address inside the URL is swallowed by the URL span: counted once
    assert (got[2].n_urls, got[2].n_emails, got[2].n_long_numbers) == (1, 0, 0)
    assert got[2].redacted_text == "see <URL> for details"
    assert (got[3].n_urls, got[3].n_emails, got[3].n_long_numbers) == (0, 0, 0)
    assert got[3].redacted_text == "clean text, short 123"


# ---------------------------------------------------------------------------
# dedup_survivors
# ---------------------------------------------------------------------------


def test_dedup_survivors_policy(spark):
    docs = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "de"), (4, "fr")],
        "doc_id long, lang string",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1)], "doc_id long, cluster_id long"
    )
    got = {r.doc_id: r.kept_as for r in corpus.dedup_survivors(docs, clusters).collect()}
    assert got == {1: "canonical", 3: "unique", 4: "unique"}  # 2 dropped


# ---------------------------------------------------------------------------
# interval_join_binned
# ---------------------------------------------------------------------------


def test_interval_join_binned_matches_naive_theta_join(spark):
    """Binned equi-join strategy returns exactly the naive theta join,
    including boundary semantics (start inclusive, end exclusive) and
    intervals spanning multiple bins / sharing bins."""
    ts = lambda m: datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=m)  # noqa: E731
    facts = spark.createDataFrame(
        [(i, ts(7 * i)) for i in range(200)], "fact_id long, ts timestamp"
    )
    intervals = spark.createDataFrame(
        [
            (0, ts(0), ts(60)),        # exactly one bin
            (1, ts(30), ts(300)),      # spans several bins
            (2, ts(59), ts(61)),       # straddles a bin boundary
            (3, ts(100), ts(100)),     # empty: matches nothing
            (4, ts(980), ts(2000)),    # tail interval
        ],
        "iv_id long, start timestamp, end timestamp",
    )
    got = {
        (r.fact_id, r.iv_id)
        for r in relational.interval_join_binned(
            facts, intervals, "ts", "start", "end", bin_seconds=3600
        ).collect()
    }
    naive = {
        (r.fact_id, r.iv_id)
        for r in facts.crossJoin(intervals)
        .filter((F.col("ts") >= F.col("start")) & (F.col("ts") < F.col("end")))
        .collect()
    }
    assert got == naive and len(got) > 0


# ---------------------------------------------------------------------------
# price_correlation
# ---------------------------------------------------------------------------


def test_price_correlation_matches_pandas(spark):
    """Engine correlations equal pandas' pairwise Pearson on the same
    daily closes (rounded to the pinned precision)."""
    import pandas as pd

    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import load_table
    from etl_visualization_of_cryptocurrency_trading_data_spark.plans.registry import (
        q_price_correlation,
    )

    got = {
        (r.coin_a, r.coin_b): (r.n_obs, r.correlation)
        for r in q_price_correlation(spark, SF_ORACLE).collect()
    }
    assert len(got) > 50  # daily alignment yields a dense matrix

    events = load_table(spark, SF_ORACLE, "events").toPandas()
    pdf = pd.DataFrame(
        {
            "coin_id": events.event_type + "_C" + events.user_id.astype(str),
            "ts": events.ts,
            "price": events.value,
            "volume": events.value.abs() * 100,
        }
    )
    top = set(pdf.groupby("coin_id").volume.sum().nlargest(20).index)
    sub = pdf[pdf.coin_id.isin(top)].sort_values("ts")
    closes = (
        sub.groupby(["coin_id", sub.ts.dt.floor("D")])
        .price.last()
        .unstack(level=0)
    )
    for (a, b), (n_obs, corr_val) in list(got.items())[:25]:
        aligned = closes[[a, b]].dropna()
        assert len(aligned) == n_obs
        expect = round(aligned[a].corr(aligned[b]), 7)
        assert abs(corr_val - expect) < 1e-6, (a, b)


def test_pack_chunks_sliding_overlap(spark):
    """budget 8, stride 4: every overlapping window a doc touches is
    listed (hand-computed intersections)."""
    import pytest as _pytest

    docs = spark.createDataFrame(
        [(1, "w " * 10, "s"), (2, "w " * 5, "s")], ["doc_id", "text", "source"]
    )
    got = {r.doc_id: r for r in corpus.pack_chunks(docs, budget=8, stride=4).collect()}
    # doc 1 spans tokens [0,10): windows [0,8) [4,12) [8,16) -> chunks 0..2
    assert (got[1].first_chunk, got[1].last_chunk, got[1].n_chunks) == (0, 2, 3)
    # doc 2 spans [10,15): windows [4,12) [8,16) [12,20) -> chunks 1..3
    assert (got[2].first_chunk, got[2].last_chunk, got[2].n_chunks) == (1, 3, 3)
    # stride == budget reduces to the disjoint layout
    dis = {r.doc_id: r for r in corpus.pack_chunks(docs, budget=8).collect()}
    assert (dis[1].first_chunk, dis[1].last_chunk) == (0, 1)
    with _pytest.raises(ValueError):
        corpus.pack_chunks(docs, budget=8, stride=9)


def test_profile_table_stats(spark):
    """Null counts, distinct counts (nulls excluded), and numeric
    ranges per column from one pass; non-numeric columns carry NULL
    ranges."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators.corpus import (
        profile_table,
    )

    df = spark.createDataFrame(
        [(1, 5.0, "a"), (2, None, "a"), (3, 7.0, None), (4, 7.0, "b")],
        "id long, x double, tag string",
    )
    got = {r.column: r for r in profile_table(df, ["id", "x"], ["tag"]).collect()}
    assert set(got) == {"id", "x", "tag"}
    assert all(r.n_rows == 4 for r in got.values())
    assert (got["x"].n_nulls, got["x"].n_distinct) == (1, 2)
    assert (got["x"].min_value, got["x"].max_value) == (5.0, 7.0)
    assert (got["tag"].n_nulls, got["tag"].n_distinct) == (1, 2)
    assert got["tag"].min_value is None and got["tag"].max_value is None
    assert (got["id"].min_value, got["id"].max_value) == (1.0, 4.0)


def test_mixture_sample_upweights_small_sources(spark):
    """Temperature mixing (tau=0.5): accept rates follow the closed
    form min(1, B*sqrt(n)/ (z*n)), so the SMALLEST source gets the
    HIGHEST rate; realized per-source keep fractions track the rates;
    and sampling is consistent (kept docs stay kept when the budget
    grows)."""
    import math

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import sampling

    rows = [(i, "big" if i % 10 < 8 else ("mid" if i % 10 < 9 else "small"))
            for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = sampling.mixture_sample(df, group_col="src", key="doc_id",
                                  budget_frac=0.5).cache()
    rates = {r.src: r.rate for r in out.select("src", "rate").distinct().collect()}
    n = {"big": 1600, "mid": 200, "small": 200}
    z = sum(math.sqrt(v) for v in n.values())
    total = sum(n.values())
    for s, nv in n.items():
        expect = round(min(1.0, 0.5 * total * (math.sqrt(nv) / z) / nv), 9)
        assert abs(rates[s] - expect) < 1e-9, (s, rates[s], expect)
    assert rates["small"] > rates["mid"] - 1e-12 and rates["small"] > rates["big"]
    kept = {r.src: r.cnt for r in out.groupBy("src").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("cnt")
    ).collect()}
    for s in n:
        frac = kept[s] / n[s]
        assert abs(frac - rates[s]) < 0.08, (s, frac, rates[s])
    # consistency: larger budget keeps a superset
    small_keys = {r.doc_id for r in out.collect()}
    bigger = sampling.mixture_sample(df, group_col="src", key="doc_id",
                                     budget_frac=0.8)
    big_keys = {r.doc_id for r in bigger.collect()}
    assert small_keys <= big_keys
    out.unpersist()


def test_curation_pipeline_v2_stage_effects(spark):
    """Each v2 stage visibly bites on a handcrafted corpus: a short doc
    fails the Gopher gate; the boilerplate span shared across docs is
    stripped while each doc's unique filler survives; a doc made
    ENTIRELY of duplicated spans vanishes (its text_kept is empty);
    the manifest counts come from the deduped, post-strip corpus."""
    import re

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import corpus

    boiler = "all rights reserved contact us terms of service"  # 8 words, has 'of'
    fill = lambda tag: "the " + " ".join(f"{tag}{i}" for i in range(47))  # noqa: E731
    rows = [
        (1, "web", f"{fill('alpha')} {boiler}"),      # keeps its 48-word filler
        (2, "web", f"{fill('beta')} {boiler}"),       # keeps its 48-word filler
        (3, "books", " ".join([boiler] * 7)),          # all spans duplicated -> vanishes
        (4, "web", "tiny doc the of"),                 # fails the word-count gate
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r.source: r for r in corpus.curation_pipeline_v2(df, budget_frac=1.0).collect()}
    assert set(out) == {"web"}, out  # books drained at the span stage
    web = out["web"]
    assert (web.n_docs, web.docs_before_mix, web.rate) == (2, 2, 1.0)
    # boilerplate stripped: tokens == the two fillers only, under the
    # same BPE-ish regex the engine publishes
    tok = lambda t: len(re.findall(r"[a-z]+|[0-9]+|[^a-z0-9\s]", t.lower()))  # noqa: E731
    assert web.n_tokens == tok(fill("alpha")) + tok(fill("beta"))


def test_dsir_weights_hand_built(spark):
    """Independent Python replay of the hashed-bucket DSIR estimator:
    same md5 bucket rule via hashlib, add-1 smoothed bucket LMs, exact
    per-doc log-weight comparison."""
    import hashlib
    import math

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import sampling

    rows = [
        (1, "alpha alpha beta", "en"),
        (2, "alpha gamma", "en"),
        (3, "delta delta delta", "de"),
        (4, "alpha delta", "de"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {r.doc_id: r for r in sampling.dsir_weights(docs).collect()}

    B = 256

    def bucket(w):
        return int(hashlib.md5(("dsir" + w).encode()).hexdigest()[:8], 16) % B

    occ = [
        (doc_id, lang == "en", bucket(w))
        for doc_id, text_, lang in rows
        for w in text_.lower().split()
    ]
    t_raw = len(occ)
    t_tgt = sum(1 for _, t, _ in occ if t)
    n_raw = {}
    n_tgt = {}
    for _, t, b in occ:
        n_raw[b] = n_raw.get(b, 0) + 1
        n_tgt[b] = n_tgt.get(b, 0) + (1 if t else 0)
    for doc_id, _, lang in rows:
        toks = [b for d, _, b in occ if d == doc_id]
        exp = sum(
            math.log((n_tgt[b] + 1) / (t_tgt + B))
            - math.log((n_raw[b] + 1) / (t_raw + B))
            for b in toks
        )
        assert out[doc_id].n_tokens == len(toks)
        assert abs(out[doc_id].log_weight - round(exp, 6)) <= 2e-6
        assert out[doc_id].target_like == (out[doc_id].log_weight > 0)
    # 'alpha' occurs mostly in the en slice: the all-en-vocabulary doc
    # must outscore the all-de-vocabulary doc.
    assert out[1].log_weight > out[3].log_weight


def test_dsir_sample_gumbel_topk(spark):
    """The Gumbel top-k resampler (r10): the selection IS the top-k of
    log_weight + the md5-derived Gumbel noise (independent hashlib
    replay, exact); it is deterministic across invocations; k bounds
    the output; and on a weight-skewed corpus the target-like docs
    dominate the draw."""
    import hashlib
    import math

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import sampling

    # 12 en docs sharing a distinctive vocabulary + 12 de docs
    rows = [(i, "alpha beta gamma", "en") for i in range(12)] + [
        (100 + i, "delta epsilon zeta", "de") for i in range(12)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    k = 8
    got = sampling.dsir_sample(docs, k=k).collect()
    assert len(got) == k
    # independent replay: weights from the operator's own report,
    # gumbel from hashlib — top-k must match exactly
    w = {r.doc_id: r.log_weight for r in sampling.dsir_weights(docs).collect()}

    def gumbel(doc_id):
        # the hash_unit formula: full 2^32-level noise (ADVICE r10)
        b = int(hashlib.md5(f"gumbel{doc_id}".encode()).hexdigest()[:8], 16)
        return -math.log(-math.log((b + 0.5) / 2**32))

    keyed = sorted(
        ((round(w[d] + gumbel(d), 6), -d) for d in w), reverse=True
    )
    expect = {-negd for _, negd in keyed[:k]}
    assert {r.doc_id for r in got} == expect
    for r in got:
        assert abs(r.gumbel_key - round(w[r.doc_id] + gumbel(r.doc_id), 6)) <= 2e-6
    # determinism
    again = {r.doc_id for r in sampling.dsir_sample(docs, k=k).collect()}
    assert again == expect
    # proportional-to-weight behavior: the en slice holds every
    # positive weight here, so it must take the majority of the draw
    n_en = sum(1 for r in got if r.doc_id < 100)
    assert n_en > k / 2


def test_ranking_auc_hand_computed_with_ties(spark):
    """AUC via the distinct-score rank-sum must equal the
    pair-counting definition (wins + half-ties over pos*neg pairs) on
    a hand-built set with ties, and be NULL when a class is empty."""
    from itertools import product

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators.corpus import (
        ranking_auc,
    )

    rows = [
        (0.9, True), (0.8, True), (0.8, False), (0.5, True),
        (0.5, False), (0.5, False), (0.2, False), (0.1, True),
    ]
    df = spark.createDataFrame(rows, "score double, label boolean")
    got = ranking_auc(df).collect()[0]
    pos = [s for s, l in rows if l]
    neg = [s for s, l in rows if not l]
    u = sum(1.0 if p > n else 0.5 if p == n else 0.0 for p, n in product(pos, neg))
    assert got.n_pos == len(pos) and got.n_neg == len(neg)
    assert got.u_stat == round(u, 1)
    assert got.auc == round(u / (len(pos) * len(neg)), 6)
    only_pos = spark.createDataFrame(
        [(0.5, True), (0.9, True)], "score double, label boolean"
    )
    assert ranking_auc(only_pos).collect()[0].auc is None


def test_host_cap_binds_and_raising_cap_is_superset(spark):
    """The cap must bind (no host exceeds it), survivors must be
    deterministic, and raising the cap must only ADD survivors (md5
    priority is cap-independent) — the property that lets a crawl
    re-balance change its cap without churning the kept set."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import load_table
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators.corpus import (
        host_cap,
    )

    from conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    small = {r.doc_id for r in host_cap(docs, cap=3).collect()}
    big_rows = host_cap(docs, cap=7).collect()
    big = {r.doc_id for r in big_rows}
    per_host = {}
    for r in big_rows:
        per_host[r.host] = per_host.get(r.host, 0) + 1
        assert 1 <= r.keep_rank <= 7
    assert max(per_host.values()) <= 7
    assert small < big
    rerun = {r.doc_id for r in host_cap(docs, cap=3).collect()}
    assert rerun == small


def test_quality_survivors_picks_best_member(spark):
    """Hand-built clusters + scores: the survivor must be the
    max-quality member, n_members exact, and quality ties must break
    on the smaller doc_id."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators.corpus import (
        quality_survivors,
    )

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)],
        "doc_id long, cluster_id long",
    )
    scored = spark.createDataFrame(
        [(1, 0.4), (2, 0.9), (3, 0.7), (7, 0.5), (8, 0.5)],
        "doc_id long, quality double",
    )
    got = {
        r.cluster_id: (r.survivor_id, r.survivor_quality, r.n_members)
        for r in quality_survivors(clusters, scored).collect()
    }
    assert got == {1: (2, 0.9, 3), 7: (7, 0.5, 2)}


# ---------------------------------------------------------------------------
# image_text_dup_agreement (paired text+image dedup, r14)
# ---------------------------------------------------------------------------


def test_image_text_dup_agreement_planted_families(spark):
    """The paired-modality composition over the PLANTED caption-image
    fixture (captions keyed by 5-block with a style variant, images
    keyed by scattered 7-block via ppm_table_seeded — block keying
    keeps the planted pair relation LINEAR in corpus size): every emitted text pair
    must be same-caption-group (jaccard >= 0.5 is exactly the planted
    relation), the image_agree flag must equal cluster-label equality
    recomputed standalone, the three counts must reconcile (n_both +
    n_text_only = rows; n_image_only = sum-over-clusters C(m,2) -
    n_both), and BOTH planted disagreement families must be present:
    same caption / different image (a False row) and same image /
    different caption (n_image_only > 0)."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import load_table
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    docs = load_table(spark, SF_SMOKE, "documents")
    g = (F.col("doc_id") / 5).cast("long").cast("string")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.lit("photo "), g, F.lit(" of "), g, F.lit(" item "), g,
            F.lit(" style "), (F.col("doc_id") % 3).cast("string"),
        ).alias("text"),
    )
    media = multimodal.ppm_table_seeded(
        docs.withColumn("seed", (F.col("doc_id") / 7).cast("long") * 97), "seed"
    )
    rows = corpus.image_text_dup_agreement(planted, media).collect()
    assert len(rows) > 100
    labels = {
        int(r["doc_id"]): int(r["cluster_id"])
        for r in multimodal.perceptual_dup_clusters(media).collect()
    }
    # seeded payloads: same seed => identical image => same cluster
    seed_cl = {}
    for d, c in labels.items():
        assert seed_cl.setdefault(d // 7, c) == c, d
    n_both = n_text_only = 0
    for r in rows:
        a, b = int(r["doc_id_a"]), int(r["doc_id_b"])
        assert a // 5 == b // 5, (a, b)  # planted text relation (5-blocks)
        agree = labels[a] == labels[b]
        assert bool(r["image_agree"]) == agree, (a, b)
        n_both += agree
        n_text_only += not agree
    sizes: dict[int, int] = {}
    for c in labels.values():
        sizes[c] = sizes.get(c, 0) + 1
    n_image_pairs = sum(m * (m - 1) // 2 for m in sizes.values())
    first = rows[0]
    assert int(first["n_both"]) == n_both > 0
    assert int(first["n_text_only"]) == n_text_only > 0  # same caption, diff image
    assert int(first["n_image_only"]) == n_image_pairs - n_both > 0  # same image, diff caption
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# curation_pipeline_v5 (media survivorship stage, r14)
# ---------------------------------------------------------------------------


def test_curation_pipeline_v5_media_gate_and_shared_tail(spark):
    """v5 = v4 + ONE perceptual-survivorship anti-join on the payload
    slice: (a) with no payload docs carrying a duplicate (payload_mod
    so large only doc 0 qualifies) v5 must equal v4 ROW FOR ROW — the
    shared _curation_stages tail is provably unchanged; (b) at the
    registered payload_mod=3 the perceptual drop set recomputed
    standalone must be disjoint from v5's manifest, and v5 must equal
    _curation_stages over (v4's trained keep set minus the drops) —
    the gate composes exactly where the docstring says it does."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import load_table
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import classifier, multimodal

    docs = load_table(spark, SF_SMOKE, "documents")
    cols = ["doc_id", "text", "lang", "source"]

    key = lambda r: (r.doc_id, r.source, r.n_tokens_bpe, r.first_chunk, r.last_chunk, r.n_chunks)
    v4 = sorted(corpus.curation_pipeline_v4(docs).collect(), key=lambda r: r.doc_id)
    # (a) payload slice of one image => no cluster partner => no drops
    v5_empty = sorted(
        corpus.curation_pipeline_v5(docs, payload_mod=10**9).collect(),
        key=lambda r: r.doc_id,
    )
    assert [key(r) for r in v4] == [key(r) for r in v5_empty]

    # (b) registered config: drops bind and compose as one anti-join
    media = multimodal.ppm_table(docs.filter(F.col("doc_id") % 3 == 0))
    drops = {int(r["doc_id"]) for r in multimodal.perceptual_dup_drops(media).collect()}
    assert drops  # the gate binds at fixture scale
    v5 = sorted(corpus.curation_pipeline_v5(docs).collect(), key=lambda r: r.doc_id)
    assert drops.isdisjoint({r.doc_id for r in v5})
    wts = classifier.train_quality_classifier(docs)
    keep = (
        classifier.score_quality(docs, wts)
        .filter(F.col("predicted"))
        .select("doc_id")
    )
    gated = (
        docs.join(keep, "doc_id")
        .filter(~F.col("doc_id").isin(list(drops)))
        .select(*cols)
    )
    ref = sorted(corpus._curation_stages(gated).collect(), key=lambda r: r.doc_id)
    assert [key(r) for r in v5] == [key(r) for r in ref]
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# curation_pipeline_v6 (full multimodal gate, late-r14)
# ---------------------------------------------------------------------------


def test_curation_pipeline_v6_multimodal_gate_and_shared_tail(spark):
    """v6 = v4 + the UNION of the three perceptual families' drop
    sets: (a) with modality_mod so large each modality slice holds at
    most one doc (singleton clusters drop nothing) v6 must equal v4
    ROW FOR ROW — the shared _curation_stages tail is provably
    unchanged; (b) at the registered modality_mod=3 all THREE drop
    sets must bind (non-vacuity per modality), be disjoint from v6's
    manifest, and v6 must equal _curation_stages over (the trained
    keep set minus the union drops)."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import load_table
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import classifier, multimodal

    docs = load_table(spark, SF_SMOKE, "documents")
    cols = ["doc_id", "text", "lang", "source"]

    key = lambda r: (r.doc_id, r.source, r.n_tokens_bpe, r.first_chunk, r.last_chunk, r.n_chunks)
    v4 = sorted(corpus.curation_pipeline_v4(docs).collect(), key=lambda r: r.doc_id)
    # (a) one doc per modality slice => singleton clusters => no drops
    v6_empty = sorted(
        corpus.curation_pipeline_v6(docs, modality_mod=10**9).collect(),
        key=lambda r: r.doc_id,
    )
    assert [key(r) for r in v4] == [key(r) for r in v6_empty]

    # (b) registered config: every modality's drop set binds
    m = F.col("doc_id") % 3
    d_img = {
        int(r["doc_id"])
        for r in multimodal.perceptual_dup_drops(
            multimodal.ppm_table(docs.filter(m == 0))
        ).collect()
    }
    d_aud = {
        int(r["doc_id"])
        for r in multimodal.audio_dup_drops(
            multimodal.wav_table(docs.filter(m == 1))
        ).collect()
    }
    d_vid = {
        int(r["doc_id"])
        for r in multimodal.video_dup_drops(
            multimodal.gif_table_animated(docs.filter(m == 2)), max_hamming=1
        ).collect()
    }
    assert d_img and d_aud and d_vid  # each modality's gate binds
    drops = d_img | d_aud | d_vid
    v6 = sorted(corpus.curation_pipeline_v6(docs).collect(), key=lambda r: r.doc_id)
    assert drops.isdisjoint({r.doc_id for r in v6})
    wts = classifier.train_quality_classifier(docs)
    keep = (
        classifier.score_quality(docs, wts)
        .filter(F.col("predicted"))
        .select("doc_id")
    )
    gated = (
        docs.join(keep, "doc_id")
        .filter(~F.col("doc_id").isin(list(drops)))
        .select(*cols)
    )
    ref = sorted(corpus._curation_stages(gated).collect(), key=lambda r: r.doc_id)
    assert [key(r) for r in v6] == [key(r) for r in ref]
    spark.catalog.clearCache()
