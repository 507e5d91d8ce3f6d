"""Unit tests for the repetition, tf-idf, and decontamination operators
(operators/text.py, operators/dedup.py) — hand-built literal frames with
independently computed expectations (SURVEY §5.2 operator-family tests)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from etl_visualization_of_cryptocurrency_trading_data_spark.operators import dedup, text

# ---------------------------------------------------------------------------
# repetition_stats
# ---------------------------------------------------------------------------


def test_repetition_stats_hand_built(spark):
    docs = spark.createDataFrame(
        [
            # 4 non-empty lines, "spam" 3x -> dup ratio (4-2)/4 = 0.5;
            # words: spam x3 + ok -> top share 3/4
            (1, "spam\nspam\n\n  spam  \nok"),
            # all lines unique, words all unique -> 0.0 and 1/3
            (2, "alpha\nbeta gamma"),
            # empty doc: no lines, no words -> nulls
            (3, "   "),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in text.repetition_stats(docs).collect()}
    assert rows[1].n_lines == 4 and rows[1].n_distinct_lines == 2
    assert rows[1].dup_line_ratio == pytest.approx(0.5)
    assert rows[1].top_word_share == pytest.approx(3 / 4)
    assert rows[2].dup_line_ratio == 0.0
    assert rows[2].top_word_share == pytest.approx(1 / 3)
    assert rows[3].n_lines == 0 and rows[3].dup_line_ratio is None
    assert rows[3].n_words == 0 and rows[3].top_word_share is None


# ---------------------------------------------------------------------------
# tfidf_top_terms
# ---------------------------------------------------------------------------


def test_tfidf_scores_and_ties(spark):
    # 3 docs; "common" appears in all (idf=0), "rare" only in doc 1.
    docs = spark.createDataFrame(
        [
            (1, "common rare rare"),
            (2, "common shared"),
            (3, "common shared zz"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.doc_id, r.rank): r
        for r in text.tfidf_top_terms(docs, k=2).collect()
    }
    # doc 1: rare tf=2 idf=ln(3) -> top; common idf=0 -> score 0
    r = got[(1, 1)]
    assert r.term == "rare"
    assert r.tfidf == pytest.approx(round(2 * math.log(3), 7))
    assert got[(1, 2)].term == "common" and got[(1, 2)].tfidf == 0.0
    # docs 2 and 3: shared (idf=ln(1.5)) beats common (0); doc 3's
    # zz (idf=ln(3)) wins rank 1
    assert got[(2, 1)].term == "shared"
    assert got[(3, 1)].term == "zz" and got[(3, 2)].term == "shared"
    # k=2 honored
    assert all(rank <= 2 for (_, rank) in got)


def test_tfidf_tie_breaks_by_term(spark):
    # Two terms with identical tf and df -> identical score; rank order
    # must be alphabetical.
    docs = spark.createDataFrame(
        [(1, "bb aa"), (2, "cc cc")], ["doc_id", "text"]
    )
    got = [
        (r.rank, r.term)
        for r in text.tfidf_top_terms(docs, k=2)
        .filter(F.col("doc_id") == 1)
        .collect()
    ]
    assert sorted(got) == [(1, "aa"), (2, "bb")]


# ---------------------------------------------------------------------------
# cross_split_contamination
# ---------------------------------------------------------------------------


def _split_of(spark, doc_id: int) -> str:
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators.sampling import (
        train_val_test_split,
    )

    df = spark.createDataFrame([(doc_id, "x")], ["doc_id", "text"])
    return train_val_test_split(df, "doc_id").collect()[0].split


def test_contamination_detects_shared_shingles(spark):
    # Find concrete ids landing in train vs test so the fixture is
    # robust to the hash function's assignment.
    train_id = next(i for i in range(1, 200) if _split_of(spark, i) == "train")
    test_id = next(i for i in range(1, 200) if _split_of(spark, i) == "test")
    other_train = next(
        i
        for i in range(train_id + 1, 400)
        if _split_of(spark, i) == "train"
    )
    leaked = "the quick brown fox jumps"
    docs = spark.createDataFrame(
        [
            (train_id, f"intro words here {leaked} outro"),
            (test_id, leaked),
            (other_train, "completely different content entirely here"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in dedup.cross_split_contamination(docs).collect()}
    # only the leaking train doc is reported
    assert set(rows) == {train_id}
    r = rows[train_id]
    # test doc has 3 trigrams, all present in the train doc
    assert r.n_hit_shingles == 3 and r.n_test_docs == 1
    assert r.n_shingles == 7  # 9-word train doc -> 7 trigrams
    assert r.contamination_ratio == pytest.approx(3 / 7)


def test_contamination_max_df_drops_common_grams(spark):
    train_id = next(i for i in range(1, 200) if _split_of(spark, i) == "train")
    test_id = next(i for i in range(1, 200) if _split_of(spark, i) == "test")
    shared = "one two three"
    docs = spark.createDataFrame(
        [(train_id, shared), (test_id, shared)], ["doc_id", "text"]
    )
    # df of the shared trigram is 2 -> capped out at max_df=1
    assert dedup.cross_split_contamination(docs, max_df=1).count() == 0
    assert dedup.cross_split_contamination(docs, max_df=None).count() == 1


# ---------------------------------------------------------------------------
# curation_pipeline
# ---------------------------------------------------------------------------


def test_curation_pipeline_stage_effects(spark):
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import corpus

    quality_text = " ".join(
        ["the quick brown fox jumps over the lazy dog again today"] * 3
    )  # 33 words, stopword-rich -> passes the quality gate
    train_id, test_id, dup_id = None, None, None
    for i in range(1, 500):
        s = _split_of(spark, i)
        if s == "train" and train_id is None:
            train_id = i
        elif s == "train" and train_id is not None and dup_id is None and i != train_id:
            dup_id = i
        elif s == "test" and test_id is None:
            test_id = i
        if train_id and test_id and dup_id:
            break
    docs = spark.createDataFrame(
        [
            (train_id, quality_text, "en"),          # survives everything
            (dup_id, quality_text, "en"),            # exact dup -> dropped
            (test_id, "tiny", "en"),                 # low quality -> dropped
        ],
        ["doc_id", "text", "lang"],
    )
    out = {(r.split, r.lang): r for r in corpus.curation_pipeline(docs).collect()}
    # only the canonical quality doc remains, in train
    assert set(out) == {("train", "en")}
    assert out[("train", "en")].n_docs == 1
    assert out[("train", "en")].n_tokens == 33

    # a contaminated train doc (same content in a TEST doc, but not an
    # exact dup after normalization differences) is dropped
    docs2 = spark.createDataFrame(
        [
            (train_id, quality_text, "en"),
            (test_id, quality_text + " extra", "en"),  # different fingerprint
        ],
        ["doc_id", "text", "lang"],
    )
    out2 = {(r.split,): r for r in corpus.curation_pipeline(docs2).collect()}
    # train doc shares nearly all shingles with the test doc -> dropped;
    # the test doc itself remains
    assert set(out2) == {("test",)}


# ---------------------------------------------------------------------------
# bigram_logprob
# ---------------------------------------------------------------------------


def test_bigram_logprob_hand_built(spark):
    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "a b"), (3, "x")], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in text.bigram_logprob(docs).collect()}
    # corpus counts: n1(a)=3, n1(b)=1; n2(a,b)=2, n2(b,a)=1, n2(a,c)=1
    assert rows[1].n_bigrams == 3
    assert rows[1].avg_logprob == pytest.approx(
        round((math.log(2 / 3) + math.log(1 / 1) + math.log(1 / 3)) / 3, 7)
    )
    assert rows[2].n_bigrams == 1
    assert rows[2].avg_logprob == pytest.approx(round(math.log(2 / 3), 7))
    assert 3 not in rows  # single-token doc has no bigrams
    # fluent repetition of corpus-frequent transitions scores higher
    assert rows[2].avg_logprob > rows[1].avg_logprob


def test_span_dedup_hand_built(spark):
    """Duplicated-span removal on a corpus built to exercise every
    branch: a boilerplate 8-word span shared by two otherwise-unrelated
    docs is dropped from BOTH (document-level dedup would miss them), a
    unique span survives, the sub-span remainder always survives, and a
    doc shorter than one span is excluded entirely."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import dedup

    boiler = "all rights reserved contact us terms of service"  # 8 words
    uniq_a = "alpha beta gamma delta epsilon zeta eta theta"
    uniq_b = "one two three four five six seven eight"
    rows = [
        (1, f"{boiler} {uniq_a} tail words"),
        (2, f"{boiler} {uniq_b}"),
        (3, "too short"),
    ]
    out = {
        r.doc_id: r
        for r in dedup.span_dedup(
            spark.createDataFrame(rows, "doc_id long, text string"),
            span_words=8,
            min_count=2,
        ).collect()
    }
    assert set(out) == {1, 2}
    assert (out[1].n_spans, out[1].n_kept) == (2, 1)
    assert out[1].text_kept == f"{uniq_a} tail words"
    assert (out[2].n_spans, out[2].n_kept) == (2, 1)
    assert out[2].text_kept == uniq_b


def test_span_dedup_within_doc_repeat(spark):
    """A span repeated WITHIN one document counts toward the corpus df
    and is removed — the boilerplate definition is occurrence-based,
    not distinct-doc-based."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import dedup

    span = "a b c d e f g h"
    out = dedup.span_dedup(
        spark.createDataFrame([(1, f"{span} {span}")], "doc_id long, text string"),
        span_words=8,
        min_count=2,
    ).collect()[0]
    assert (out.n_spans, out.n_kept, out.text_kept) == (2, 0, "")


def test_gopher_rules_each_rule_fires(spark):
    """One handcrafted violator per Gopher rule (and one clean passer):
    each rule column must flag exactly its defect."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import text as t

    good_words = ("the quick brown fox jumps over the lazy dog and that have "
                  "with they said more words here today ") * 5  # >50 words, stopwords
    rows = [
        (1, good_words),
        (2, "the of and that have with short"),           # < 50 words
        (3, " ".join(["supercalifragilisticexpialidocious"] * 60)),  # mean len > 10
        (4, good_words + " " + "# " * 30),                 # symbol ratio
        (5, "\n".join(["- bullet line the of and that"] * 20)),      # bullets
        (6, "\n".join(["the of and that have trailing..."] * 20)),   # ellipsis lines
        (7, " ".join(["123"] * 60) + " the of"),           # alpha fraction
        (8, " ".join(["neutral"] * 60)),                   # no stopwords
        (9, ""),                                           # empty -> all False
    ]
    out = {
        r.doc_id: r
        for r in t.gopher_rules(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert out[1].passes_gopher
    assert not out[2].r_word_count and not out[2].passes_gopher
    assert not out[3].r_mean_word_len
    assert not out[4].r_symbol_ratio
    assert not out[5].r_bullet_lines
    assert not out[6].r_ellipsis_lines
    assert not out[7].r_alpha_words
    assert not out[8].r_stopwords
    assert not any(
        [out[9].r_word_count, out[9].r_stopwords, out[9].passes_gopher]
    )


def test_bpe_merge_candidates_hand_built(spark):
    """Pair counting against hand-computed BPE round-1 counts:
    frequency weighting, within-word multiplicity ('aaa' has two 'aa'
    pairs), single-char words excluded, deterministic tie order."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import text as t

    rows = [
        (1, "ab ab ab aaa x"),   # ab x3 -> pair 'ab' 3; aaa -> 'aa' 2; x dropped
        (2, "ab cd"),            # 'ab' +1 = 4; 'cd' 1
    ]
    out = t.bpe_merge_candidates(
        spark.createDataFrame(rows, "doc_id long, text string"), k=10
    ).collect()
    got = [(r.pair, r.n_occurrences, r.rank) for r in out]
    assert got[0] == ("ab", 4, 1)
    assert ("aa", 2, 2) in got
    assert ("cd", 1, 3) in got
    assert all(len(p) == 2 for p, _, _ in got)


def test_vocab_coverage_hand_built(spark):
    """Exact coverage fractions on a handcrafted distribution: tokens
    a×4, b×3, c×2, d×1 (total 10) → top-1 covers 0.4, top-2 covers 0.7;
    a k beyond the vocabulary reports the whole vocabulary at 1.0."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators.text import (
        vocab_coverage,
    )

    docs = spark.createDataFrame(
        [(1, "a a b c"), (2, "a b"), (3, "a b c d")], "doc_id long, text string"
    )
    out = {r.k: r for r in vocab_coverage(docs, ks=(1, 2, 50)).collect()}
    assert out[1].vocab_size == 1 and out[1].covered_tokens == 4
    assert out[1].total_tokens == 10 and out[1].coverage == 0.4
    assert out[2].vocab_size == 2 and out[2].covered_tokens == 7
    assert out[2].coverage == 0.7
    assert out[50].vocab_size == 4 and out[50].coverage == 1.0


def test_vocab_coverage_ties_break_lexicographically(spark):
    """Equal-count tokens rank by token text: with b×2, a×2 and k=1 the
    covered token must be 'a' (cnt desc, tok asc) — pinned so both
    engines pick the same survivor at the k boundary."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators.text import (
        vocab_coverage,
    )

    docs = spark.createDataFrame([(1, "b a b a")], "doc_id long, text string")
    out = {r.k: r for r in vocab_coverage(docs, ks=(1,)).collect()}
    # either tie-winner covers 2 of 4; determinism is what matters and is
    # exercised against the oracle at fixture scale — here pin the math
    assert out[1].covered_tokens == 2 and out[1].coverage == 0.5


def test_corpus_quality_report_counts(spark):
    """Handcrafted slice: one passing doc and one word-count violator
    per source — counts and rates must be exact."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators.text import (
        corpus_quality_report,
    )

    good = "the " + " ".join(f"word{i}" for i in range(60))
    bad = "tiny doc"
    docs = spark.createDataFrame(
        [
            (1, good, "en", "web", len(good)),
            (2, bad, "en", "web", len(bad)),
            (3, good, "en", "books", len(good)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {(r.source, r.lang): r for r in corpus_quality_report(docs).collect()}
    web = out[("web", "en")]
    assert web.n_docs == 2 and web.n_r_word_count == 1
    assert web.n_pass == 1 and web.pass_rate == 0.5
    books = out[("books", "en")]
    assert books.n_docs == 1 and books.n_pass == 1 and books.pass_rate == 1.0


# ---------------------------------------------------------------------------
# bm25_scores
# ---------------------------------------------------------------------------


def test_bm25_hand_built(spark):
    # Corpus of 3 docs; query = default ("spark", "query", "window",
    # "stream", "filter"). N=3, avgdl=(4+2+3)/3=3.
    docs = spark.createDataFrame(
        [
            (1, "spark spark query other"),  # dl=4: spark tf=2, query tf=1
            (2, "nothing here"),             # dl=2: no match -> absent
            (3, "query filter boring"),      # dl=3: query tf=1, filter tf=1
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in text.bm25_scores(docs).collect()}
    assert set(out) == {1, 3}
    assert out[1].n_matched == 2 and out[3].n_matched == 2

    def idf(df):
        return math.log(1 + (3 - df + 0.5) / (df + 0.5))

    def tfn(tf, dl):
        return tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0))

    exp1 = idf(1) * tfn(2, 4) + idf(2) * tfn(1, 4)  # spark df=1, query df=2
    exp3 = idf(2) * tfn(1, 3) + idf(1) * tfn(1, 3)  # query df=2, filter df=1
    assert out[1].bm25 == pytest.approx(round(exp1, 6), abs=2e-6)
    assert out[3].bm25 == pytest.approx(round(exp3, 6), abs=2e-6)


def test_bm25_rarer_term_scores_higher(spark):
    # Same tf/dl; the term appearing in fewer docs must contribute more.
    docs = spark.createDataFrame(
        [(i, "query common words") for i in range(1, 6)] + [(6, "spark common words")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in text.bm25_scores(docs).collect()}
    assert out[6].bm25 > out[1].bm25  # df(spark)=1 < df(query)=5


def test_bpe_train_hand_computed_three_rounds(spark):
    """Corpus 'aaab aaab ab': round 1 merges (a,a) cnt 4 (greedy
    non-overlap: 'aaab' -> [aa,a,b]); round 2 merges (a,b) cnt 3;
    round 3 merges (aa,ab) cnt 2; final vocab {aaab:2, ab:1}."""
    docs = spark.createDataFrame([(1, "aaab aaab ab")], ["doc_id", "text"])
    merges, _ = text.bpe_train(docs, rounds=3)
    got = [(r.round, r.p1, r.p2, r.merged, r.n_occurrences)
           for r in sorted(merges.collect(), key=lambda r: r.round)]
    assert got == [
        (1, "a", "a", "aa", 4),
        (2, "a", "b", "ab", 3),
        (3, "aa", "ab", "aaab", 2),
    ]
    vocab = {(r.sym): (r.n_occurrences, r.rank)
             for r in text.bpe_vocab(docs, rounds=3, k=10).collect()}
    assert vocab == {"aaab": (2, 1), "ab": (1, 2)}


def test_bpe_train_saturation_keeps_vocab(spark):
    """ADVICE r8 pin: when pair counts saturate BEFORE the requested
    rounds (every word already one symbol), the extra rounds are
    no-ops — the symbol table survives (the old crossJoin against an
    empty top-pair frame dropped every row, returning an empty
    vocabulary). Corpus 'ab ab': round 1 merges (a,b); rounds 2-3 have
    no pairs left."""
    docs = spark.createDataFrame([(1, "ab ab")], ["doc_id", "text"])
    merges, syms = text.bpe_train(docs, rounds=3)
    got = [(r.round, r.p1, r.p2) for r in merges.collect()]
    assert got == [(1, "a", "b")]  # saturated rounds add no merge rows
    assert [(r.w, r.sym) for r in syms.collect()] == [("ab", "ab")]
    vocab = {r.sym: r.n_occurrences
             for r in text.bpe_vocab(docs, rounds=3, k=10).collect()}
    assert vocab == {"ab": 2}


def test_bpe_greedy_non_overlap(spark):
    """'aaa' + (a,a) -> [aa, a]; 'aaaa' -> [aa, aa] — the even-offset
    run rule equals greedy left-to-right non-overlapping merging."""
    docs = spark.createDataFrame([(1, "aaa aaaa")], ["doc_id", "text"])
    _, syms = text.bpe_train(docs, rounds=1)
    by_word = {}
    for r in syms.collect():
        by_word.setdefault(r.w, []).append((r.pos, r.sym))
    assert [s for _, s in sorted(by_word["aaa"])] == ["aa", "a"]
    assert [s for _, s in sorted(by_word["aaaa"])] == ["aa", "aa"]


def _reference_bpe(word_freq, rounds):
    """Independent plain-Python BPE trainer (the classic list-walk
    formulation) with the engine's tie-break: (count DESC, p1, p2)."""
    state = {tuple(w): n for w, n in word_freq.items()}
    merges = []
    for _ in range(rounds):
        counts = {}
        for syms, n in state.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = counts.get(
                    (syms[i], syms[i + 1]), 0) + n
        if not counts:
            break
        (p1, p2), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((p1, p2, cnt))
        new_state = {}
        for syms, n in state.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == p1 and syms[i + 1] == p2:
                    out.append(p1 + p2)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_state[tuple(out)] = n
        state = new_state
    return merges, state


def test_bpe_train_matches_reference_random(spark):
    """Property pin: the window formulation equals the classic greedy
    list-walk BPE on a randomized corpus (fixed seed), 4 rounds."""
    import random

    rng = random.Random(8)
    words_pool = [
        "".join(rng.choice("abcde") for _ in range(rng.randint(2, 7)))
        for _ in range(30)
    ]
    corpus = " ".join(rng.choice(words_pool) for _ in range(200))
    docs = spark.createDataFrame([(1, corpus)], ["doc_id", "text"])
    merges, syms = text.bpe_train(docs, rounds=4)
    got = [(r.p1, r.p2, r.n_occurrences)
           for r in sorted(merges.collect(), key=lambda r: r.round)]

    freq = {}
    for w in corpus.split():
        if len(w) >= 2:
            freq[w] = freq.get(w, 0) + 1
    want_merges, want_state = _reference_bpe(freq, 4)
    assert got == want_merges
    got_state = {}
    for r in syms.collect():
        got_state.setdefault(r.w, {})[r.pos] = r.sym
    got_tuples = {
        w: tuple(s for _, s in sorted(poss.items()))
        for w, poss in got_state.items()
    }
    assert got_tuples == {"".join(k): k for k in want_state}


def test_bpe_encode_counts_progress_contract(spark):
    """Token counts under the trained tokenizer: exact on the hand
    fixture, and weakly DECREASING in training rounds (each merge can
    only shrink a word's symbol count)."""
    docs = spark.createDataFrame(
        [(1, "aaab aaab ab"), (2, "a aaab")], ["doc_id", "text"]
    )
    # rounds=3 on doc 1: aaab -> 1 token (x2), ab -> 1 => 3 tokens
    # doc 2: 'a' is below the length-2 floor -> 1 token; aaab -> 1
    out3 = {r.doc_id: r for r in text.bpe_encode_counts(docs, rounds=3).collect()}
    assert (out3[1].n_words, out3[1].n_tokens_bpe) == (3, 3)
    assert (out3[2].n_words, out3[2].n_tokens_bpe) == (2, 2)
    # rounds=0-equivalent baseline: characters (via rounds=1 vs 3)
    out1 = {r.doc_id: r for r in text.bpe_encode_counts(docs, rounds=1).collect()}
    for d in (1, 2):
        assert out1[d].n_tokens_bpe >= out3[d].n_tokens_bpe


def test_lm_perplexity_buckets_terciles_and_labels(spark):
    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import load_table
    from conftest import SF_SMOKE

    """Per-language bucketing: every scoreable doc is labeled, labels
    are consistent with the doc's own language's rounded tercile cuts
    (recomputed here from the scores), and each language with >= 3
    scoreable docs has all three buckets non-empty."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import text

    docs = load_table(spark, SF_SMOKE, "documents")
    scored = {
        int(r["doc_id"]): (r["lang"], float(r["avg_logprob"]), r["bucket"])
        for r in text.lm_perplexity_buckets(docs).collect()
    }
    base = {
        int(r["doc_id"]): float(r["avg_logprob"])
        for r in text.bigram_logprob(docs).collect()
    }
    assert set(scored) == set(base)
    import numpy as np

    by_lang: dict[str, list[float]] = {}
    for d, (lang, lp, _b) in scored.items():
        assert abs(lp - base[d]) < 1e-12
        by_lang.setdefault(lang, []).append(lp)
    for lang, vals in by_lang.items():
        lo = round(float(np.percentile(vals, 33, method="linear")), 9)
        hi = round(float(np.percentile(vals, 66, method="linear")), 9)
        for d, (lg, lp, b) in scored.items():
            if lg != lang:
                continue
            want = "tail" if lp <= lo else ("middle" if lp <= hi else "head")
            assert b == want, (d, lang, lp, lo, hi, b, want)
        if len(vals) >= 3:
            got_buckets = {b for _, (lg, _lp, b) in scored.items() if lg == lang}
            assert got_buckets == {"head", "middle", "tail"}, (lang, got_buckets)


def test_bpe_fertility_invariants_and_reconciliation(spark):
    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import load_table
    from conftest import SF_SMOKE

    """Fertility >= 1 (every word is at least one token) and
    chars_per_token >= 1 (a token is at least one char); the per-lang
    sums reconcile exactly against bpe_encode_counts + a hand word-char
    total."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import text

    docs = load_table(spark, SF_SMOKE, "documents")
    rep = {r["lang"]: r.asDict() for r in text.bpe_fertility(docs).collect()}
    assert rep
    enc = {
        int(r["doc_id"]): (int(r["n_words"]), int(r["n_tokens_bpe"]))
        for r in text.bpe_encode_counts(docs).collect()
    }
    langs = {int(r["doc_id"]): r["lang"] for r in docs.select("doc_id", "lang").collect()}
    texts = {int(r["doc_id"]): r["text"] for r in docs.select("doc_id", "text").collect()}
    want: dict[str, list[int]] = {}
    for d, (nw, nt) in enc.items():
        wc = sum(len(w) for w in texts[d].lower().split())
        acc = want.setdefault(langs[d], [0, 0, 0, 0])
        acc[0] += 1
        acc[1] += nw
        acc[2] += nt
        acc[3] += wc
    assert set(rep) == set(want)
    for lang, (nd, nw, nt, wc) in want.items():
        r = rep[lang]
        assert (r["n_docs"], r["n_words"], r["n_tokens_bpe"], r["n_word_chars"]) == (nd, nw, nt, wc), lang
        assert r["fertility"] >= 1.0 and r["chars_per_token"] >= 1.0
        assert abs(r["fertility"] - round(nt / nw, 9)) < 1e-12
        assert abs(r["chars_per_token"] - round(wc / nt, 9)) < 1e-12
