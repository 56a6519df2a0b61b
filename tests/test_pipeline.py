"""End-to-end pipeline tests (SURVEY.md §3.1): dyadic blocking with every
embedding model; recall on a constructed golden set must be near-perfect
for perturbation duplicates."""

from __future__ import annotations

import numpy as np
import pytest

from deepblocker_spark.config import TEST_CONFIG
from deepblocker_spark.operators.metrics import blocking_statistics, pairwise_f1
from deepblocker_spark.operators.topk import ExactTopKVectorPairing
from deepblocker_spark.pipeline import (
    DeepBlocker,
    SparkAutoEncoderEmbedding,
    SparkAverageEmbedding,
    SparkCTTEmbedding,
    SparkSIFEmbedding,
)

WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
]


def _dyadic_tables(spark, n=30, seed=99):
    """Left/right tables where right[i] is a token-dropped copy of left[i]:
    golden matches are (i, i)."""
    rng = np.random.default_rng(seed)
    left_rows, right_rows = [], []
    for i in range(n):
        toks = [WORDS[j] for j in rng.choice(len(WORDS), size=8, replace=False)]
        toks = [f"{t}{i % 7}" for t in toks] + [f"uniq{i}"]
        drop = rng.integers(0, 3)
        kept = toks[: len(toks) - drop]
        left_rows.append((i, " ".join(toks), WORDS[i % len(WORDS)], float(i)))
        right_rows.append((i, " ".join(kept), WORDS[i % len(WORDS)], float(i)))
    cols = ["id", "title", "manufacturer", "price"]
    return (
        spark.createDataFrame(left_rows, cols),
        spark.createDataFrame(right_rows, cols),
    )


def _golden(spark, n=30):
    return spark.createDataFrame([(i, i) for i in range(n)], ["ltable_id", "rtable_id"])


@pytest.mark.parametrize(
    "model_cls", [SparkAverageEmbedding, SparkSIFEmbedding]
)
def test_block_datasets_recall(spark, model_cls):
    left, right = _dyadic_tables(spark)
    blocker = DeepBlocker(
        model_cls(TEST_CONFIG),
        ExactTopKVectorPairing(k=3),
        TEST_CONFIG,
    )
    cands = blocker.block_datasets(left, right, ["title", "manufacturer", "price"])
    assert cands.count() == 30 * 3
    stats = blocking_statistics(cands, _golden(spark), 30, 30).collect()[0]
    assert stats["recall"] >= 0.95
    assert stats["cssr"] == pytest.approx(3 / 30)


def test_block_datasets_autoencoder_runs(spark):
    left, right = _dyadic_tables(spark, n=20)
    blocker = DeepBlocker(
        SparkAutoEncoderEmbedding(TEST_CONFIG),
        ExactTopKVectorPairing(k=5),
        TEST_CONFIG,
    )
    cands = blocker.block_datasets(left, right, ["title", "manufacturer", "price"])
    assert cands.count() == 20 * 5
    stats = blocking_statistics(cands, _golden(spark, 20), 20, 20).collect()[0]
    # encoded space is lossier than raw SIF but must still block well
    assert stats["recall"] >= 0.7


def test_ctt_as_written_equals_sif_embedding(spark):
    """Reference quirk O21: CTT 'as_written' inference = the SIF embedding."""
    left, right = _dyadic_tables(spark, n=12)
    cfg = TEST_CONFIG
    ctt = DeepBlocker(SparkCTTEmbedding(cfg, mode="as_written"), ExactTopKVectorPairing(k=2), cfg)
    sif = DeepBlocker(SparkSIFEmbedding(cfg), ExactTopKVectorPairing(k=2), cfg)
    cols = ["title", "manufacturer", "price"]
    pairs_ctt = {(r["l_id"], r["r_id"]) for r in ctt.block_datasets(left, right, cols).collect()}
    pairs_sif = {(r["l_id"], r["r_id"]) for r in sif.block_datasets(left, right, cols).collect()}
    assert pairs_ctt == pairs_sif


def test_ctt_paper_mode_changes_dimension(spark):
    left, right = _dyadic_tables(spark, n=10)
    cfg = TEST_CONFIG
    model = SparkCTTEmbedding(cfg, mode="paper")
    from deepblocker_spark.operators.preprocess import build_corpus, preprocess_table

    lp = preprocess_table(left, ["title"])
    rp = preprocess_table(right, ["title"])
    model.preprocess(build_corpus(lp, rp))
    emb = model.embed(lp).collect()
    assert len(emb[0]["embedding"]) == cfg.ae_emb_dim


def test_block_datasets_hybrid_runs(spark):
    left, right = _dyadic_tables(spark, n=10)
    from deepblocker_spark.pipeline import SparkHybridEmbedding

    blocker = DeepBlocker(
        SparkHybridEmbedding(TEST_CONFIG, mode="paper"),
        ExactTopKVectorPairing(k=3),
        TEST_CONFIG,
    )
    cands = blocker.block_datasets(left, right, ["title", "manufacturer"])
    assert cands.count() == 10 * 3
    # paper mode applies the summarizer over the AE embedding -> ae_emb_dim
    from deepblocker_spark.operators.preprocess import preprocess_table

    emb = blocker.embedding.embed(preprocess_table(left, ["title"])).select("embedding").first()
    assert len(emb["embedding"]) == TEST_CONFIG.ae_emb_dim


def test_block_self_excludes_self_pairs(spark):
    left, _ = _dyadic_tables(spark, n=15)
    blocker = DeepBlocker(SparkSIFEmbedding(TEST_CONFIG), ExactTopKVectorPairing(k=3), TEST_CONFIG)
    cands = blocker.block_self(left, ["title", "manufacturer"])
    rows = cands.collect()
    assert all(r["l_id"] != r["r_id"] for r in rows)
    assert len(rows) == 15 * 3


def test_block_self_does_not_stick_to_later_dyadic_blocking(spark):
    """Self mode is per call: after block_self, block_datasets on the same
    blocker must keep its (i, i) golden pairs — the recall of a fresh
    blocker, not the 0.0 of a blocker whose pairing now drops equal ids."""
    left, right = _dyadic_tables(spark)
    cols = ["title", "manufacturer", "price"]

    def blocker():
        return DeepBlocker(
            SparkSIFEmbedding(TEST_CONFIG), ExactTopKVectorPairing(k=3), TEST_CONFIG
        )

    def recall(b):
        cands = b.block_datasets(left, right, cols)
        return blocking_statistics(cands, _golden(spark), 30, 30).collect()[0]["recall"]

    fresh = recall(blocker())
    used = blocker()
    used.block_self(left, cols).count()
    assert fresh >= 0.95
    assert recall(used) == fresh


def test_pairwise_f1_metric(spark):
    pred = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], ["l_id", "r_id"])
    gold = spark.createDataFrame([(2, 1), (2, 3), (6, 7)], ["l_id", "r_id"])
    row = pairwise_f1(pred, gold).collect()[0]
    assert row["tp"] == 2
    assert row["precision"] == pytest.approx(2 / 3)
    assert row["recall"] == pytest.approx(2 / 3)
    assert row["f1"] == pytest.approx(2 / 3)


def test_block_datasets_lsh_pairing_recall(spark):
    """Two-table blocking through the reference's main.py usage shape, but
    with the LSH (dyadic grid-split) pairing — the scale path — must still
    recover the golden matches."""
    from deepblocker_spark.operators.lsh import LSHVectorPairing

    left, right = _dyadic_tables(spark)
    blocker = DeepBlocker(
        SparkSIFEmbedding(TEST_CONFIG),
        LSHVectorPairing(k=3, dim=TEST_CONFIG.emb_dim, n_bands=16, band_bits=4),
        TEST_CONFIG,
    )
    cands = blocker.block_datasets(left, right, ["title", "manufacturer", "price"])
    stats = blocking_statistics(cands, _golden(spark), 30, 30).collect()[0]
    assert stats["recall"] >= 0.95


def test_sample_texts_rows_hint_skips_count_scan(spark, monkeypatch):
    """VERDICT r3 #6 — with ``rows_hint`` supplied, ``_sample_texts`` must
    not run the up-front corpus count (at 100 TB that count is a full extra
    pass just to size the hash-filter modulus), and an exact hint must yield
    the identical sample (the hint only sizes the modulus)."""
    from pyspark.sql import DataFrame, functions as F

    from deepblocker_spark.pipeline import _sample_texts

    corpus = spark.range(1000).select(
        F.concat_ws(" ", F.lit("text row"), F.col("id").cast("string")).alias(
            "_merged_text"
        )
    )
    baseline = _sample_texts(corpus, cap=40)

    def boom(self):  # any count() during the hinted call is the bug
        raise AssertionError("rows_hint path must not run a count scan")

    monkeypatch.setattr(DataFrame, "count", boom)
    hinted = _sample_texts(corpus, cap=40, rows_hint=1000)
    assert hinted == baseline
    # a hint within ~2x of the truth still returns a full-size sample
    rough = _sample_texts(corpus, cap=40, rows_hint=1800)
    assert len(rough) == 40
