"""Quantized (float16) embedding transport for the LSH kernel exchange —
half the bytes of the bandwidth-bound shuffle, property-tested against
the default f32 path: identical outputs on f16-representable inputs,
near-identical candidate sets (score-tail reorders only) on random ones."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from deepblocker_spark.operators.bc_registry import release_tracked
from deepblocker_spark.operators.lsh import (
    lsh_candidates,
    lsh_candidates_dyadic,
    signature_buckets,
)

DIM = 16


def _emb_df(spark, n, seed, quantize=False, id_start=0):
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, DIM)).astype(np.float32)
    if quantize:
        vecs = vecs.astype(np.float16).astype(np.float32)
    return spark.createDataFrame(
        pd.DataFrame({
            "id": list(range(id_start, id_start + n)),
            "embedding": list(vecs),
        })
    )


def _pairs(df, **kw):
    out = lsh_candidates(df, dim=DIM, k=5, n_bands=6, band_bits=4, seed=3, **kw)
    got = {(r["l_id"], r["r_id"]) for r in out.collect()}
    release_tracked()
    return got


def test_f16_identical_on_f16_representable_inputs(spark):
    # inputs already on the f16 grid -> quantization is lossless -> the
    # candidate set (ids AND ranks) must match the f32 path exactly
    df = _emb_df(spark, 300, seed=11, quantize=True)
    a = _pairs(df, emb_dtype="f32")
    b = _pairs(df, emb_dtype="f16")
    assert a == b


def test_f16_high_overlap_on_random_inputs(spark):
    # generic f32 vectors: bucket membership is identical by construction
    # (signs from the pre-pack vector), only near-tie top-K tails may
    # reorder — candidate overlap must stay >= 98%
    df = _emb_df(spark, 400, seed=23)
    a = _pairs(df, emb_dtype="f32")
    b = _pairs(df, emb_dtype="f16")
    jacc = len(a & b) / len(a | b)
    assert jacc >= 0.98, jacc


def test_f16_dyadic_matches_f32_on_representable_inputs(spark):
    left = _emb_df(spark, 150, seed=5, quantize=True)
    right = _emb_df(spark, 150, seed=9, quantize=True, id_start=10_000)

    def run(dtype):
        out = lsh_candidates_dyadic(
            left, right, dim=DIM, k=4, n_bands=6, band_bits=4, seed=3,
            emb_dtype=dtype,
        )
        got = {(r["l_id"], r["r_id"], r["rank"]) for r in out.collect()}
        release_tracked()
        return got

    assert run("f32") == run("f16")


def test_f16_blob_is_half_the_bytes(spark):
    df = _emb_df(spark, 50, seed=2)
    s32 = signature_buckets(
        df, dim=DIM, n_bands=2, band_bits=4, seed=3,
        include_emb=True, emb_dtype="f32",
    ).select("_emb").first()["_emb"]
    s16 = signature_buckets(
        df, dim=DIM, n_bands=2, band_bits=4, seed=3,
        include_emb=True, emb_dtype="f16",
    ).select("_emb").first()["_emb"]
    assert len(s32) == DIM * 4 and len(s16) == DIM * 2


def test_invalid_emb_dtype_raises(spark):
    df = _emb_df(spark, 10, seed=1)
    with pytest.raises(ValueError):
        signature_buckets(df, dim=DIM, emb_dtype="f8")


def test_ivf_binary_transport_f32_and_f16(spark):
    # f32 binary transport must reproduce the (previous) array-transport
    # results; f16 must match f32 exactly on f16-representable inputs
    from deepblocker_spark.operators.ann import ivf_topk

    df = _emb_df(spark, 300, seed=13, quantize=True)

    def run(dtype):
        out = ivf_topk(df, k=4, id_col="id", emb_col="embedding",
                       n_cells=6, nprobe=2, seed=3, emb_dtype=dtype)
        got = {(r["l_id"], r["r_id"], r["rank"]) for r in out.collect()}
        release_tracked()
        return got

    a, b = run("f32"), run("f16")
    assert a == b and len(a) > 0


def test_ivf_invalid_emb_dtype_raises(spark):
    from deepblocker_spark.operators.ann import ivf_topk

    df = _emb_df(spark, 20, seed=1)
    with pytest.raises(ValueError):
        ivf_topk(df, k=2, id_col="id", n_cells=2, nprobe=1,
                 emb_dtype="f64").collect()
