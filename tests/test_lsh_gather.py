"""Broadcast-gather LSH kernel — the narrow-exchange variant must produce
BIT-IDENTICAL pair tables to the carried-vector exchange, across transport
dtypes, with and without hot-bucket salting, through the auto gate, and at
any session shuffle width (its exchange runs one task per core)."""

from __future__ import annotations

import re

import numpy as np
import pytest

from deepblocker_spark.operators.bc_registry import release_tracked
from deepblocker_spark.operators.lsh import lsh_candidates, lsh_candidates_dyadic


def _frame(spark, n=2500, dim=24, hot=True, seed=11):
    rng = np.random.default_rng(seed)
    emb = rng.standard_normal((n, dim)).astype(np.float32)
    if hot:
        # a third of the rows collapse near one direction -> oversized
        # buckets -> the salt-split path is exercised
        emb[: n // 3] = emb[0] + 0.01 * rng.standard_normal(
            (n // 3, dim)
        ).astype(np.float32)
    rows = [(int(i), [float(v) for v in emb[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "id long, embedding array<float>")


def _pairs(df, gather, dtype, max_bucket_rows=150, **kw):
    out = lsh_candidates(
        df, id_col="id", dim=24, k=5, n_bands=4, band_bits=6, seed=3,
        max_bucket_rows=max_bucket_rows, emb_dtype=dtype, gather=gather, **kw
    ).collect()
    release_tracked()
    return sorted((r.l_id, r.r_id, r.sim, r.rank) for r in out)


@pytest.mark.parametrize("dtype", ["f32", "f16"])
def test_gather_modes_bit_identical_with_salting(spark, dtype):
    df = _frame(spark)
    exchange = _pairs(df, "exchange", dtype)
    broadcast = _pairs(df, "broadcast", dtype)
    assert len(exchange) > 0
    assert exchange == broadcast


def test_gather_auto_small_table_matches_both(spark):
    # under the gate: auto == broadcast == exchange, exactly
    df = _frame(spark, n=800, hot=False)
    auto = _pairs(df, "auto", "f16")
    assert auto == _pairs(df, "broadcast", "f16")
    assert auto == _pairs(df, "exchange", "f16")


def test_gather_auto_respects_byte_gate(spark):
    # gate of 0 bytes forces the exchange path; output must not change
    df = _frame(spark, n=800, hot=False)
    gated = _pairs(df, "auto", "f16", gather_max_bytes=0)
    assert gated == _pairs(df, "exchange", "f16")


def test_gather_rejects_unknown_mode(spark):
    df = _frame(spark, n=50, hot=False)
    sc = spark.sparkContext
    sc.setJobGroup("lsh-gather-check", "argument checks")
    try:
        with pytest.raises(ValueError):
            lsh_candidates(df, id_col="id", dim=24, gather="fetch")
        with pytest.raises(ValueError):
            lsh_candidates_dyadic(df, df, dim=24, gather="fetch")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # both modes check their arguments before the first Spark job
    assert not sc.statusTracker().getJobIdsForGroup("lsh-gather-check")


_KERNEL_EXCHANGE = re.compile(
    r"hashpartitioning\(band#\w+, bucket#\w+, salt_l#\w+, salt_r#\w+, (\d+)\), "
    r"REPARTITION_BY_NUM"
)


def test_broadcast_kernel_width_and_bit_identity_across_shuffle_widths(spark):
    # The session fixture runs 4 shuffle partitions at local[4], where the
    # kernel width rule and the session width agree; set it at runtime so
    # the two are told apart.
    left, right = _frame(spark, n=800, seed=11), _frame(spark, n=600, seed=12)
    kw = dict(dim=24, k=5, n_bands=4, band_bits=6, seed=3, max_bucket_rows=150,
              gather="broadcast")
    searches = {
        "self": lambda: lsh_candidates(left, id_col="id", **kw),
        "dyadic": lambda: lsh_candidates_dyadic(left, right, **kw),
    }
    cores = spark.sparkContext.defaultParallelism
    before = spark.conf.get("spark.sql.shuffle.partitions")
    outputs = {}
    try:
        for width in (1, 2, 32):
            spark.conf.set("spark.sql.shuffle.partitions", str(width))
            for mode, search in searches.items():
                df = search()
                rows = df.collect()
                release_tracked()
                outputs[mode, width] = sorted(
                    (r.l_id, r.r_id, r.sim, r.rank) for r in rows
                )
                if width == 32:
                    plan = df._jdf.queryExecution().executedPlan().toString()
                    final = plan.split("== Initial Plan ==")[0]
                    assert "isFinalPlan=true" in final
                    assert _KERNEL_EXCHANGE.findall(final) == [str(cores)]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    for mode in searches:
        assert outputs[mode, 1]
        assert outputs[mode, 1] == outputs[mode, 2] == outputs[mode, 32]
