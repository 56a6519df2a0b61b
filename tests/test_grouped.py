"""Direct tests for the sort-based grouped map (operators/grouped.py) —
especially the group-spanning-Arrow-batch buffering, which no amount of
end-to-end luck should be trusted to exercise."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StructField, StructType,
)

from deepblocker_spark.operators.grouped import grouped_map_in_pandas, topk_per_key

_ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


@pytest.fixture(scope="module")
def tiny_batch_spark(spark):
    # arrow batches of 7: forces many groups to SPAN batch boundaries.
    # Set on the SHARED session (runtime-modifiable conf) and restored after
    # — a get_spark() here would getOrCreate() the shared session and the
    # module-teardown stop() would kill it for every later test file.
    prev = spark.conf.get(_ARROW_BATCH)
    spark.conf.set(_ARROW_BATCH, 7)
    yield spark
    spark.conf.set(_ARROW_BATCH, prev)


def test_grouped_map_groups_survive_batch_boundaries(tiny_batch_spark):
    spark = tiny_batch_spark
    # 40 groups of 5 rows each; batches of 7 guarantee spanning
    pdf = pd.DataFrame({
        "g": np.repeat(np.arange(40), 5),
        "v": np.arange(200, dtype=np.int64),
    })
    df = spark.createDataFrame(pdf)
    out_schema = StructType([
        StructField("g", LongType(), False),
        StructField("n", LongType(), False),
        StructField("vsum", LongType(), False),
    ])

    def kernel(frame: pd.DataFrame) -> pd.DataFrame:
        return frame.groupby("g", sort=True).agg(
            n=("v", "size"), vsum=("v", "sum")
        ).reset_index()

    got = grouped_map_in_pandas(df, ["g"], kernel, out_schema).toPandas()
    got = got.sort_values("g").reset_index(drop=True)
    # every group seen exactly once, with ALL its rows
    assert list(got["g"]) == list(range(40))
    assert (got["n"] == 5).all()
    expected = pdf.groupby("g")["v"].sum()
    assert list(got["vsum"]) == list(expected)


def test_topk_per_key_dedup_rank_and_ties(tiny_batch_spark):
    spark = tiny_batch_spark
    rows = [
        # duplicates of the same pair (as from two LSH bands)
        (1, 10, 0.9), (1, 10, 0.9),
        (1, 11, 0.95), (1, 12, 0.95),  # tie on sim -> r_id asc breaks it
        (1, 13, 0.1),
        (2, 10, 0.5),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["l_id", "r_id", "sim"]))
    out = topk_per_key(df, k=3).toPandas().sort_values(["l_id", "rank"])
    got = list(map(tuple, out[["l_id", "r_id", "rank"]].values.tolist()))
    assert got == [(1, 11, 1), (1, 12, 2), (1, 10, 3), (2, 10, 1)]


def test_topk_per_key_string_ids(tiny_batch_spark):
    spark = tiny_batch_spark
    rng = np.random.default_rng(5)
    ls = [f"doc-{i:03d}" for i in rng.integers(0, 30, 300)]
    rs = [f"doc-{i:03d}" for i in rng.integers(0, 30, 300)]
    sims = rng.random(300)
    df = spark.createDataFrame(pd.DataFrame({"l_id": ls, "r_id": rs, "sim": sims}))
    out = topk_per_key(df, k=4).toPandas()
    # oracle via pandas
    pdf = pd.DataFrame({"l_id": ls, "r_id": rs, "sim": sims})
    pdf = pdf.sort_values(["l_id", "r_id", "sim"], ascending=[True, True, False])
    pdf = pdf.drop_duplicates(["l_id", "r_id"], keep="first")  # keep max sim
    pdf = pdf.sort_values(["l_id", "sim", "r_id"], ascending=[True, False, True])
    pdf["rank"] = pdf.groupby("l_id").cumcount() + 1
    pdf = pdf[pdf["rank"] <= 4]
    key = lambda d: sorted(map(tuple, d[["l_id", "r_id", "rank"]].values.tolist()))  # noqa: E731
    assert key(out) == key(pdf)


def test_topk_per_key_compaction_identical_output(tiny_batch_spark, monkeypatch):
    """The merge runner's bounded buffer: with the compaction threshold
    forced to fire (_COMPACT_ROWS=16 << the data) the output must equal
    the uncompacted merge, including on duplicated pairs scattered across
    partitions."""
    from deepblocker_spark.operators import grouped

    spark = tiny_batch_spark
    rng = np.random.default_rng(11)
    n = 600
    ls = rng.integers(0, 25, n)
    rs = rng.integers(0, 50, n)
    sims = np.round(rng.random(n), 6)
    pdf = pd.DataFrame({"l_id": ls, "r_id": rs, "sim": sims})
    # plant exact duplicate pairs (same sim — the LSH multi-band shape) in
    # different partitions
    dup = pdf.head(60).copy()
    both = pd.concat([pdf, dup], ignore_index=True)
    df = spark.createDataFrame(both).repartition(13)

    key = lambda d: sorted(  # noqa: E731
        map(tuple, d[["l_id", "r_id", "sim", "rank"]].values.tolist())
    )
    plain = topk_per_key(df, k=5).toPandas()
    monkeypatch.setattr(grouped, "_COMPACT_ROWS", 16)
    compacting = topk_per_key(df, k=5).toPandas()
    assert key(compacting) == key(plain)


def test_pack_unpack_topk_roundtrip():
    """The packed merge transport (pack_topk -> _unpack_topk) must be an
    exact inverse on _dedup_topk output — int keys, string keys, the empty
    frame, and a post-min_sim-filtered frame (rows removed mid-group but
    key-contiguity preserved)."""
    from deepblocker_spark.operators.grouped import (
        _dedup_topk, _unpack_topk, pack_topk,
    )

    rng = np.random.default_rng(17)
    n = 500
    base = pd.DataFrame({
        "l_id": rng.integers(0, 40, n),
        "r_id": rng.integers(0, 80, n),
        "sim": np.round(rng.random(n), 6),
    })
    key = lambda d: sorted(  # noqa: E731
        map(tuple, d[["l_id", "r_id", "sim"]].values.tolist())
    )

    local = _dedup_topk(base, 7, "l_id", "r_id", "sim", with_rank=False)
    back = _unpack_topk(pack_topk(local, "l_id", "r_id", "sim"),
                        "l_id", "r_id", "sim")
    assert key(back) == key(local)

    # string ids (object dtype arrays through pack/concatenate)
    s = base.assign(l_id=["d-%03d" % i for i in base["l_id"]],
                    r_id=["d-%03d" % i for i in base["r_id"]])
    local_s = _dedup_topk(s, 7, "l_id", "r_id", "sim", with_rank=False)
    back_s = _unpack_topk(pack_topk(local_s, "l_id", "r_id", "sim"),
                          "l_id", "r_id", "sim")
    assert key(back_s) == key(local_s)

    # min_sim-style row filter between dedup and pack (grouped.local_topk_packed)
    filt = local[local["sim"].to_numpy() >= 0.5]
    back_f = _unpack_topk(pack_topk(filt, "l_id", "r_id", "sim"),
                          "l_id", "r_id", "sim")
    assert key(back_f) == key(filt)

    # empty frame
    empty = local.head(0)
    packed_e = pack_topk(empty, "l_id", "r_id", "sim")
    assert len(packed_e) == 0
    assert len(_unpack_topk(packed_e, "l_id", "r_id", "sim")) == 0


def test_topk_per_key_packed_input_identical_output(tiny_batch_spark):
    """Packed transport parity at the Spark level: per-partition local
    top-k -> pack_topk -> topk_per_key(packed_input=True) must equal the
    plain scalar-row path on the same pairs, across partitions and with
    duplicated pairs (the LSH multi-band shape)."""
    from pyspark.sql.types import ArrayType

    from deepblocker_spark.operators.grouped import _dedup_topk, pack_topk

    spark = tiny_batch_spark
    rng = np.random.default_rng(23)
    n = 600
    pdf = pd.DataFrame({
        "l_id": rng.integers(0, 25, n),
        "r_id": rng.integers(0, 50, n),
        "sim": np.round(rng.random(n), 6),
    })
    both = pd.concat([pdf, pdf.head(60)], ignore_index=True)
    df = spark.createDataFrame(both).repartition(13)

    plain = topk_per_key(df, k=5).toPandas()

    packed_schema = StructType([
        StructField("l_id", LongType(), True),
        StructField("_r", ArrayType(LongType()), True),
        StructField("_s", ArrayType(DoubleType()), True),
    ])

    def local_pack(batches):
        for b in batches:
            if len(b):
                yield pack_topk(
                    _dedup_topk(b, 5, "l_id", "r_id", "sim", with_rank=False),
                    "l_id", "r_id", "sim",
                )

    packed = df.mapInPandas(local_pack, packed_schema)
    got = topk_per_key(packed, k=5, packed_input=True).toPandas()

    key = lambda d: sorted(  # noqa: E731
        map(tuple, d[["l_id", "r_id", "sim", "rank"]].values.tolist())
    )
    assert key(got) == key(plain)
    assert len(got) > 0
