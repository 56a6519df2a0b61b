"""Absolute reference for both LSH modes: the Spark candidate tables must
equal a driver-side reference built from the signature buckets alone —
every within-bucket pair per band, scored in numpy, then top-k per l_id by
(sim desc, r_id asc), equal ids excluded in self mode. No bucket is
oversized here, so no pair is lost to salting."""

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
from deepblocker_spark.operators.topk import normalize_rows

DIM, K = 16, 5
PARAMS = dict(dim=DIM, n_bands=4, band_bits=5, seed=9)


def _table(spark, n, seed, id_start):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n // 4, DIM))
    vecs = centers[rng.integers(0, len(centers), n)] + 0.3 * rng.standard_normal((n, DIM))
    return spark.createDataFrame(pd.DataFrame({
        "id": np.arange(id_start, id_start + n),
        "embedding": list(vecs.astype(np.float32)),
    }))


def _buckets(df):
    """-> ({(band, bucket): ids}, {id: normalized f64 vector})"""
    sigs = signature_buckets(df, "id", "embedding", **PARAMS).toPandas()
    pdf = df.toPandas()
    x = normalize_rows(np.stack(pdf["embedding"].to_numpy()).astype(np.float64))
    vec = dict(zip(pdf["id"], x))
    groups = {key: g["id"].to_numpy() for key, g in sigs.groupby(["band", "bucket"])}
    return groups, vec


def _reference(left, right, self_mode):
    """Driver-side top-K over every bucket-sharing (l, r) pair."""
    lg, lvec = _buckets(left)
    rg, rvec = (lg, lvec) if self_mode else _buckets(right)
    best = {}
    for key, lids in lg.items():
        for l in lids:
            for r in rg.get(key, ()):
                if self_mode and l == r:
                    continue
                best[(l, r)] = float(lvec[l] @ rvec[r])
    by_left = {}
    for (l, r), s in best.items():
        by_left.setdefault(l, []).append((-s, r))
    out = {}
    for l, cands in by_left.items():
        for rank, (neg_s, r) in enumerate(sorted(cands)[:K], start=1):
            out[(int(l), int(r), rank)] = -neg_s
    return out


def _spark_pairs(df):
    rows = df.collect()
    release_tracked()
    return {(int(r.l_id), int(r.r_id), int(r.rank)): r.sim for r in rows}


def _assert_matches(got, want):
    assert len(want) > 0
    assert got.keys() == want.keys()
    assert max(abs(got[p] - want[p]) for p in want) <= 1e-9


@pytest.mark.parametrize("gather", ["broadcast", "exchange"])
def test_self_mode_matches_reference(spark, gather):
    df = _table(spark, 240, seed=5, id_start=0)
    got = _spark_pairs(lsh_candidates(df, k=K, gather=gather, **PARAMS))
    _assert_matches(got, _reference(df, df, self_mode=True))


@pytest.mark.parametrize("gather", ["broadcast", "exchange"])
def test_dyadic_mode_matches_reference(spark, gather):
    left = _table(spark, 200, seed=6, id_start=0)
    right = _table(spark, 220, seed=6, id_start=10_000)
    got = _spark_pairs(lsh_candidates_dyadic(left, right, k=K, gather=gather, **PARAMS))
    _assert_matches(got, _reference(left, right, self_mode=False))
