"""Prefix-filtered set-similarity join — losslessness is the whole point:
its output must EQUAL the full inverted-index join and a brute-force
pandas recomputation, across thresholds and edge cases."""

from __future__ import annotations

import itertools

import numpy as np
import pytest

from deepblocker_spark.functions.tokenizer import basic_english_tokenize
from deepblocker_spark.operators.dedup import (
    ngram_jaccard_pairs,
    prefix_cosine_pairs,
    prefix_jaccard_pairs,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _brute_force(texts, n, threshold):
    def shingles(t):
        toks = basic_english_tokenize(t)
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = {i: shingles(t) for i, t in enumerate(texts)}
    out = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        sa, sb = sets[a], sets[b]
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        if inter:
            j = inter / (len(sa) + len(sb) - inter)
            if j >= threshold:
                out[(a, b)] = round(j, 9)
    return out


def _make_texts(seed, n_docs=80):
    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(40)]
    base = [
        " ".join(rng.choice(vocab, size=rng.integers(6, 14)))
        for _ in range(n_docs // 2)
    ]
    texts = list(base)
    for t in base[: n_docs - len(base)]:
        words = t.split()
        if rng.random() < 0.7 and len(words) > 6:  # near-duplicate
            words[rng.integers(0, len(words))] = str(rng.choice(vocab))
        texts.append(" ".join(words))
    return texts


def _collect(df):
    return {(r["a"], r["b"]): round(r["jaccard"], 9) for r in df.collect()}


def test_prefix_equals_brute_force_and_inverted_index(spark):
    texts = _make_texts(17)
    df = _docs(spark, texts)
    for t in (0.5, 0.7, 0.9):
        want = _brute_force(texts, 3, t)
        got_prefix = _collect(prefix_jaccard_pairs(df, n=3, threshold=t))
        got_inv = _collect(ngram_jaccard_pairs(df, n=3, threshold=t))
        assert got_prefix == want, t
        assert got_inv == want, t


def test_prefix_threshold_one_exact_duplicates_only(spark):
    texts = ["alpha beta gamma delta"] * 3 + ["epsilon zeta eta theta"]
    df = _docs(spark, texts)
    got = _collect(prefix_jaccard_pairs(df, n=2, threshold=1.0))
    assert got == {(0, 1): 1.0, (0, 2): 1.0, (1, 2): 1.0}


def test_prefix_short_docs_yield_no_shingles(spark):
    # docs shorter than n tokens must be silently excluded, not crash
    df = _docs(spark, ["one", "two words", "alpha beta gamma", "alpha beta gamma"])
    got = _collect(prefix_jaccard_pairs(df, n=3, threshold=0.5))
    assert got == {(2, 3): 1.0}


def test_prefix_empty_result(spark):
    df = _docs(spark, ["a b c d e", "v w x y z"])
    assert prefix_jaccard_pairs(df, n=2, threshold=0.5).count() == 0

@pytest.mark.parametrize("threshold", [0.0, -0.5])
@pytest.mark.parametrize("join", [prefix_jaccard_pairs, prefix_cosine_pairs])
def test_prefix_rejects_non_positive_threshold(spark, join, threshold):
    # at t <= 0 every pair qualifies, including pairs sharing no shingle,
    # which no inverted-index candidate join can find: doc 2 shares nothing
    # with docs 0 and 1, so an answer of only (0, 1) would not be exact
    df = _docs(spark, ["a b c d", "a b c e", "v w x y z"])
    with pytest.raises(ValueError, match="threshold"):
        join(df, n=2, threshold=threshold)


# ---------------------------------------------------------------------------
# set-cosine variant (prefix_cosine_pairs): same losslessness contract,
# cosine normalisation |A∩B|/sqrt(|A||B|), t² prefixes/length filter
# ---------------------------------------------------------------------------

def _brute_force_cosine(texts, n, threshold):
    def shingles(t):
        toks = basic_english_tokenize(t)
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = {i: shingles(t) for i, t in enumerate(texts)}
    out = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        sa, sb = sets[a], sets[b]
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        if inter:
            c = inter / ((len(sa) * len(sb)) ** 0.5)
            if c >= threshold:
                out[(a, b)] = round(c, 9)
    return out


def _collect_cos(df):
    return {(r["a"], r["b"]): round(r["cosine"], 9) for r in df.collect()}


def test_prefix_cosine_equals_brute_force(spark):
    from deepblocker_spark.operators.dedup import prefix_cosine_pairs

    texts = _make_texts(23)
    df = _docs(spark, texts)
    for t in (0.5, 0.7, 0.9):
        want = _brute_force_cosine(texts, 3, t)
        got = _collect_cos(prefix_cosine_pairs(df, n=3, threshold=t))
        assert got == want, t


def test_prefix_cosine_admits_size_skew_jaccard_rejects(spark):
    # |A|=3, |B|=12 sharing all of A: jaccard = 3/12 = 0.25 but cosine =
    # 3/sqrt(36) = 0.5 — the size-skewed near-containment case set cosine
    # exists for
    from deepblocker_spark.operators.dedup import prefix_cosine_pairs

    small = "a b c d"                       # 3 2-shingles
    big = "a b c d e f g h i j k l m"      # 12 2-shingles, contains small's
    df = _docs(spark, [small, big])
    got_cos = _collect_cos(prefix_cosine_pairs(df, n=2, threshold=0.5))
    assert got_cos == {(0, 1): 0.5}
    assert prefix_jaccard_pairs(df, n=2, threshold=0.5).count() == 0


def test_prefix_cosine_threshold_one_exact_duplicates_only(spark):
    from deepblocker_spark.operators.dedup import prefix_cosine_pairs

    texts = ["alpha beta gamma delta"] * 2 + ["epsilon zeta eta theta"]
    got = _collect_cos(prefix_cosine_pairs(_docs(spark, texts), n=2, threshold=1.0))
    assert got == {(0, 1): 1.0}
