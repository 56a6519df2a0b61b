"""Dyadic LSH and IVF ANN tests: recall vs the exact oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd

from deepblocker_spark.operators.ann import (
    IVFVectorPairing,
    ivf_topk,
    ivf_topk_join,
    recall_at_k,
)
from deepblocker_spark.operators.lsh import LSHVectorPairing, lsh_candidates_dyadic
from deepblocker_spark.operators.pq import ivf_pq_topk_join
from deepblocker_spark.operators.topk import exact_topk_join

DIM = 16


def _clustered(spark, n_clusters, per_cluster, seed, id_start=0, dim=DIM,
               scale=0.05):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim))
    rows, ids = [], []
    i = id_start
    for c in range(n_clusters):
        for _ in range(per_cluster):
            rows.append((centers[c] + rng.normal(scale=scale, size=dim)).astype(np.float32))
            ids.append(i)
            i += 1
    return spark.createDataFrame(pd.DataFrame({"id": ids, "embedding": rows}))


def test_dyadic_lsh_recall_vs_exact(spark):
    left = _clustered(spark, 10, 4, seed=21)
    right = _clustered(spark, 10, 4, seed=21, id_start=1000)  # same centers
    exact = exact_topk_join(left, right, k=3)
    approx = lsh_candidates_dyadic(
        left, right, dim=DIM, k=3, n_bands=6, band_bits=5, seed=5
    )
    r = recall_at_k(approx, exact).collect()[0]
    assert r["recall_at_k"] >= 0.85, r


def test_lsh_pairing_dispatches_dyadic(spark):
    left = _clustered(spark, 6, 3, seed=22)
    right = _clustered(spark, 6, 3, seed=22, id_start=500)
    pairing = LSHVectorPairing(k=3, dim=DIM, n_bands=6, band_bits=5)
    pairing.index(right)
    out = pairing.query(left).toPandas()
    assert (out["l_id"] < 500).all()
    assert (out["r_id"] >= 500).all()


def test_ivf_topk_recall_vs_exact(spark):
    df = _clustered(spark, 12, 5, seed=23)
    exact = exact_topk_join(df, df, k=4, exclude_self=True)
    approx = ivf_topk(df, k=4, id_col="id", emb_col="embedding",
                      n_cells=8, nprobe=3, seed=9)
    r = recall_at_k(approx, exact).collect()[0]
    assert r["recall_at_k"] >= 0.9, r
    pdf = approx.toPandas()
    assert (pdf["l_id"] != pdf["r_id"]).all()
    assert pdf.groupby("l_id")["rank"].max().max() <= 4


def test_dyadic_ivf_recall_vs_exact(spark):
    left = _clustered(spark, 10, 4, seed=31)
    right = _clustered(spark, 10, 4, seed=31, id_start=1000)  # same centers
    exact = exact_topk_join(left, right, k=3, l_id="id", r_id="id")
    approx = ivf_topk_join(left, right, k=3, l_id="id", r_id="id",
                           emb_col="embedding", n_cells=6, nprobe=4, seed=9)
    r = recall_at_k(approx, exact).collect()[0]
    assert r["recall_at_k"] >= 0.85, r
    pdf = approx.toPandas()
    assert (pdf["l_id"] < 1000).all()
    assert (pdf["r_id"] >= 1000).all()
    assert pdf.groupby("l_id")["rank"].max().max() <= 3


def test_ivf_pairing_dispatches_dyadic_and_self(spark):
    left = _clustered(spark, 6, 3, seed=32)
    right = _clustered(spark, 6, 3, seed=32, id_start=500)
    pairing = IVFVectorPairing(k=3, n_cells=4, nprobe=3, seed=9)
    pairing.index(right, r_id="id")
    out = pairing.query(left, l_id="id").toPandas()
    assert (out["l_id"] < 500).all()
    assert (out["r_id"] >= 500).all()
    # self mode: query(indexed df) excludes self-pairs
    pairing.index(right, r_id="id")
    self_out = pairing.query(right, l_id="id").toPandas()
    assert (self_out["l_id"] != self_out["r_id"]).all()


def test_ivf_mega_cell_grid_split_no_recall_loss(spark):
    """VERDICT r2 #1: a cell larger than max_cell_rows (here: every vector
    near ONE centroid) is grid salt-split into bounded sub-tasks with the
    EXACT same result set as the unsplit run, and recall vs the exact oracle
    is unchanged."""
    rng = np.random.default_rng(77)
    center = rng.normal(size=DIM)
    n = 360
    rows = [(center + rng.normal(scale=0.05, size=DIM)).astype(np.float32)
            for _ in range(n)]
    df = spark.createDataFrame(
        pd.DataFrame({"id": list(range(n)), "embedding": rows})
    )
    kwargs = dict(k=4, id_col="id", emb_col="embedding",
                  n_cells=4, nprobe=2, seed=9)
    unsplit = ivf_topk(df, max_cell_rows=100_000, **kwargs).toPandas()
    split = ivf_topk(df, max_cell_rows=60, **kwargs).toPandas()
    key = ["l_id", "r_id"]
    assert sorted(map(tuple, split[key].to_numpy())) == sorted(
        map(tuple, unsplit[key].to_numpy())
    ), "grid split changed the candidate set"
    exact = exact_topk_join(df, df, k=4, exclude_self=True)
    r = recall_at_k(
        spark.createDataFrame(split[key]), exact
    ).collect()[0]
    r_un = recall_at_k(
        spark.createDataFrame(unsplit[key]), exact
    ).collect()[0]
    assert r["recall_at_k"] == r_un["recall_at_k"]


def test_dyadic_ivf_mega_cell_grid_split(spark):
    """Dyadic variant: one mega-cell on both roles, capped run == uncapped
    run pair-for-pair."""
    rng = np.random.default_rng(78)
    center = rng.normal(size=DIM)
    mk = lambda n, start: spark.createDataFrame(pd.DataFrame({  # noqa: E731
        "id": list(range(start, start + n)),
        "embedding": [(center + rng.normal(scale=0.05, size=DIM)).astype(np.float32)
                      for _ in range(n)],
    }))
    left, right = mk(150, 0), mk(150, 1000)
    kwargs = dict(k=3, l_id="id", r_id="id", emb_col="embedding",
                  n_cells=3, nprobe=2, seed=9)
    unsplit = ivf_topk_join(left, right, max_cell_rows=100_000, **kwargs).toPandas()
    split = ivf_topk_join(left, right, max_cell_rows=40, **kwargs).toPandas()
    key = ["l_id", "r_id"]
    assert sorted(map(tuple, split[key].to_numpy())) == sorted(
        map(tuple, unsplit[key].to_numpy())
    )


def test_ivf_flat_sim_independent_of_probe_slot_order(spark, monkeypatch):
    """A query row's position in its (cell, salt) group follows the order
    the assignment pass emits its probe slots. Rolling every row's slots
    by its row index moves rows within the salted cell groups; no bit of
    the output may move (a BLAS block's last bit depends on a row's
    position, so the kept pairs are rescored row-wise)."""
    from deepblocker_spark.operators import grouped

    df = _clustered(spark, 50, 10, seed=2, dim=64, scale=0.3)

    def run():
        out = ivf_topk(df, k=5, id_col="id", emb_col="embedding", n_cells=8,
                       nprobe=8, seed=9, max_cell_rows=20).collect()
        return sorted((r.l_id, r.r_id, r.sim, r.rank) for r in out)

    base = run()
    topk_cols = grouped._topk_cols

    def rolled(scores, k):
        cols = topk_cols(scores, k)
        shift = np.arange(cols.shape[1])[None, :] + np.arange(len(cols))[:, None]
        return np.take_along_axis(cols, shift % cols.shape[1], axis=1)

    monkeypatch.setattr(grouped, "_topk_cols", rolled)
    assert len(base) == 2500
    assert run() == base


def test_ivf_join_rejects_mismatched_id_types(spark):
    import pytest

    left = _clustered(spark, 2, 2, seed=41)
    right = _clustered(spark, 2, 2, seed=41, id_start=100).withColumn(
        "id", __import__("pyspark").sql.functions.col("id").cast("string")
    )
    with pytest.raises(TypeError, match="matching id types"):
        ivf_topk_join(left, right, k=2, l_id="id", r_id="id")
    with pytest.raises(TypeError, match="matching id types"):
        ivf_pq_topk_join(left, right, k=2, l_id="id", r_id="id", m=4)
    with pytest.raises(TypeError, match="matching id types"):
        lsh_candidates_dyadic(left, right, dim=DIM, k=2, n_bands=2, band_bits=3)


def test_pairing_explicit_self_mode(spark):
    """ADVICE r2: an equal-but-distinct DataFrame (same table re-created)
    must run SELF semantics when mode='self' is passed — object identity is
    only the auto fallback."""
    df1 = _clustered(spark, 5, 3, seed=51)
    df2 = _clustered(spark, 5, 3, seed=51)  # same rows, different object
    pairing = IVFVectorPairing(k=3, n_cells=4, nprobe=3, seed=9)
    pairing.index(df1, r_id="id")
    out = pairing.query(df2, l_id="id", mode="self").toPandas()
    assert (out["l_id"] != out["r_id"]).all(), "self-pairs leaked"
    lp = LSHVectorPairing(k=3, dim=DIM, n_bands=6, band_bits=5)
    lp.index(df1)
    out2 = lp.query(df2, l_id="id", mode="self").toPandas()
    assert (out2["l_id"] != out2["r_id"]).all()
