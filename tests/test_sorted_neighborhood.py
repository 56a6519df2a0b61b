"""Sorted-neighborhood blocking + the distributed global-rank primitive —
checked against a driver-side sort of the same rows."""

from __future__ import annotations

from deepblocker_spark.operators.dedup import global_rank, sorted_neighborhood_pairs


def _rows(spark, n=97, seed=7):
    import random

    rng = random.Random(seed)
    data = [(i, rng.randint(0, 19), rng.choice("abcde")) for i in range(n)]
    return data, spark.createDataFrame(data, "doc_id long, k long, s string")


def test_global_rank_matches_driver_sort(spark):
    data, df = _rows(spark)
    got = {r["doc_id"]: r["rn"] for r in
           global_rank(df, ["k", "s", "doc_id"]).collect()}
    want = {row[0]: i for i, row in
            enumerate(sorted(data, key=lambda t: (t[1], t[2], t[0])))}
    assert got == want


def test_global_rank_many_partitions_and_empty_ranges(spark):
    # more range partitions than rows: empty partitions must not shift ranks
    data, df = _rows(spark, n=5)
    got = {r["doc_id"]: r["rn"] for r in
           global_rank(df, ["k", "doc_id"], num_partitions=16).collect()}
    want = {row[0]: i for i, row in
            enumerate(sorted(data, key=lambda t: (t[1], t[0])))}
    assert got == want


def _python_sn(data, key, window):
    ordered = [t[0] for t in sorted(data, key=key)]
    out = set()
    for i, a in enumerate(ordered):
        for off in range(1, window):
            if i + off < len(ordered):
                out.add((a, ordered[i + off], off))
    return out


def test_sorted_neighborhood_pairs(spark):
    data, df = _rows(spark)
    got = {(r["a"], r["b"], r["off"]) for r in
           sorted_neighborhood_pairs(df, ["k", "s"], id_col="doc_id", window=4).collect()}
    want = _python_sn(data, lambda t: (t[1], t[2], t[0]), 4)
    assert got == want
    # exact linear output size: (w-1)*N - C(w-1+1, 2)
    n, w = len(data), 4
    assert len(got) == (w - 1) * n - (w - 1) * w // 2


def test_sorted_neighborhood_window_2_is_adjacent_pairs(spark):
    data, df = _rows(spark, n=30)
    got = {(r["a"], r["b"]) for r in
           sorted_neighborhood_pairs(df, ["k"], id_col="doc_id", window=2).collect()}
    ordered = [t[0] for t in sorted(data, key=lambda t: (t[1], t[0]))]
    want = set(zip(ordered, ordered[1:]))
    assert got == want
