"""Exact top-K cosine join tests (SURVEY.md O23-O25) against a brute-force
numpy oracle implementing the reference semantics
(/root/reference/vector_pairing_models.py:36-49) with the documented
deterministic tie-break (sim desc, r_id asc)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from deepblocker_spark.operators import topk
from deepblocker_spark.operators.pq import _adc_luts, _adc_scores, pq_topk_join
from deepblocker_spark.operators.topk import cosine_threshold_join, exact_topk_join


def _emb_df(spark, n, dim, seed, id_start=0):
    rng = np.random.default_rng(seed)
    x = rng.normal(size=(n, dim)).astype(np.float32)
    pdf = pd.DataFrame({"id": range(id_start, id_start + n), "embedding": list(x)})
    return spark.createDataFrame(pdf), x


def _oracle_topk(lx, rx, k, l_ids, r_ids, exclude_self=False):
    def norm(m):
        n = np.linalg.norm(m, axis=1, keepdims=True)
        return m / np.maximum(n, 1e-30)

    sims = norm(lx.astype(np.float64)) @ norm(rx.astype(np.float64)).T
    out = set()
    for i, lid in enumerate(l_ids):
        order = sorted(range(len(r_ids)), key=lambda j: (-sims[i, j], r_ids[j]))
        cnt = 0
        for j in order:
            if exclude_self and r_ids[j] == lid:
                continue
            out.add((lid, r_ids[j], round(sims[i, j], 9)))
            cnt += 1
            if cnt == k:
                break
    return out


def _collect_pairs(df):
    return {(r["l_id"], r["r_id"], round(r["sim"], 9)) for r in df.collect()}


def test_topk_matches_oracle(spark):
    left, lx = _emb_df(spark, 30, 8, seed=1)
    right, rx = _emb_df(spark, 25, 8, seed=2, id_start=100)
    got = _collect_pairs(exact_topk_join(left, right, k=5))
    expected = _oracle_topk(lx, rx, 5, list(range(30)), list(range(100, 125)))
    assert got == expected


def test_k_exceeding_right_truncates(spark):
    # numpy slice semantics: K > N_right silently truncates
    left, _ = _emb_df(spark, 5, 8, seed=5)
    right, _ = _emb_df(spark, 3, 8, seed=6, id_start=10)
    out = exact_topk_join(left, right, k=50)
    assert out.count() == 5 * 3


def test_exclude_self(spark):
    df, x = _emb_df(spark, 10, 8, seed=7)
    out = exact_topk_join(df, df, k=3, exclude_self=True)
    rows = out.collect()
    assert all(r["l_id"] != r["r_id"] for r in rows)
    expected = _oracle_topk(x, x, 3, list(range(10)), list(range(10)), exclude_self=True)
    assert _collect_pairs(out) == expected


def test_candidate_count_property(spark):
    left, _ = _emb_df(spark, 12, 8, seed=8)
    right, _ = _emb_df(spark, 9, 8, seed=9, id_start=50)
    for k in (1, 4, 9, 20):
        assert exact_topk_join(left, right, k=k).count() == 12 * min(k, 9)


def test_rank_column_dense_and_ordered(spark):
    left, _ = _emb_df(spark, 6, 8, seed=10)
    right, _ = _emb_df(spark, 8, 8, seed=11, id_start=30)
    pdf = exact_topk_join(left, right, k=4).toPandas()
    for _, grp in pdf.groupby("l_id"):
        grp = grp.sort_values("rank")
        assert list(grp["rank"]) == [1, 2, 3, 4]
        sims = list(grp["sim"])
        assert sims == sorted(sims, reverse=True)


def test_zero_vector_rows_get_sim_zero(spark):
    lx = np.zeros((2, 8), dtype=np.float32)
    pdf = pd.DataFrame({"id": [0, 1], "embedding": list(lx)})
    left = spark.createDataFrame(pdf)
    right, _ = _emb_df(spark, 4, 8, seed=12, id_start=10)
    rows = exact_topk_join(left, right, k=2).collect()
    assert all(r["sim"] == 0.0 for r in rows)


def test_pairing_self_query_does_not_stick_to_later_dyadic_query(spark):
    """A mode='self' query must not switch exclude_self on for the
    instance: a later dyadic query over tables that share ids keeps its
    equal-id pairs."""
    from deepblocker_spark.operators.topk import ExactTopKVectorPairing

    left, _ = _emb_df(spark, 6, 8, seed=11)
    right, _ = _emb_df(spark, 6, 8, seed=12)  # same ids 0..5, other vectors
    pairing = ExactTopKVectorPairing(k=6).index(right)
    self_out = pairing.query(right, mode="self").toPandas()
    assert (self_out["l_id"] != self_out["r_id"]).all()
    dyadic = pairing.query(left, mode="dyadic").toPandas()
    expected = exact_topk_join(left, right, k=6).toPandas()
    assert len(dyadic) == len(expected) == 36
    assert (dyadic["l_id"] == dyadic["r_id"]).sum() == 6


# Every join over the chunk-broadcast scan, as f(left, right, **kw); the
# right side below has 37 rows.
_SCAN_JOINS = {
    "exact": lambda l, r, **kw: exact_topk_join(l, r, k=7, **kw),
    "exact_right_rows": lambda l, r, **kw: exact_topk_join(
        l, r, k=7, right_rows=37, **kw
    ),
    "threshold": lambda l, r, **kw: cosine_threshold_join(
        l, r, 0.3, upper_only=False, **kw
    ),
    "pq": lambda l, r, **kw: pq_topk_join(
        l, r, k=7, l_id="id", r_id="id", m=4, n_codes=16, **kw
    ),
}


@pytest.mark.parametrize("join", list(_SCAN_JOINS))
def test_chunked_scan_equals_single_chunk(spark, join):
    """Several index chunks (a small max_broadcast_rows: 4 chunks, merged
    by the window for the top-K joins) give exactly the single-chunk rows,
    sim and rank included. With a right_rows hint, both sizes skip the
    probe and still match the hint-less result."""
    left, _ = _emb_df(spark, 20, 8, seed=3)
    right, _ = _emb_df(spark, 37, 8, seed=4, id_start=500)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    run = _SCAN_JOINS[join]
    whole = rows(run(left, right))
    assert whole and rows(run(left, right, max_broadcast_rows=10)) == whole
    if join == "exact_right_rows":
        assert whole == rows(exact_topk_join(left, right, k=7))


@pytest.mark.parametrize("scorer", ["cosine", "adc"])
def test_blocked_topk_selector_matches_one_block(monkeypatch, scorer):
    """The scan's top-k selector over cache-sized column blocks: no scored
    block is wider than the bound, and on a tie-free score matrix the
    blocked pick (per-block top k, then top k of the winners) equals the
    one-block pick. Equal ids are dropped, as in self-joins."""
    rng = np.random.default_rng(5)
    b, m, k = 1100, 2500, 10
    lmat = topk.normalize_rows(rng.normal(size=(b, 8)))
    rmat = topk.normalize_rows(rng.normal(size=(m, 8)))
    ids = np.arange(m)
    if scorer == "cosine":
        score = topk._cosine_scorer(lmat, rmat)
    else:
        luts = _adc_luts(lmat, rng.normal(size=(4, 256, 2)))
        codes = rng.integers(0, 256, size=(m, 4)).astype(np.uint8)
        score = lambda lo, hi: _adc_scores(luts, codes[lo:hi])  # noqa: E731
    top = np.sort(score(0, m), axis=1)[:, -(k + 2):]
    assert (np.diff(top, axis=1) > 0).all(), "fixture must be tie-free"

    widths = []

    def recording(lo, hi):
        widths.append(hi - lo)
        return score(lo, hi)

    def select():
        widths.clear()
        blocks = topk._scored_blocks(recording, ids[:b], ids, np.equal)
        r, c, v = topk._topk_pairs(blocks, b, k)
        return sorted(zip(r.tolist(), c.tolist(), v.tolist()))

    bound = max(1024, topk._BLOCK_BYTES // (4 * b))
    blocked = select()
    assert len(widths) == 3 and max(widths) <= bound
    monkeypatch.setattr(topk, "_BLOCK_BYTES", 4 * b * m)
    one_block = select()
    assert widths == [m]
    assert blocked == one_block and len(blocked) == b * k

