"""The shared pairing interface (operators.pairing): one index/query
contract for all four candidate generators, the one ``auto`` routing rule,
and the manifest entry each pairing writes."""

from __future__ import annotations

from dataclasses import replace

import numpy as np
import pandas as pd
import pytest

from deepblocker_spark.config import DEFAULT_CONFIG, BlockerConfig
from deepblocker_spark.operators.ann import IVFVectorPairing
from deepblocker_spark.operators.lsh import LSHVectorPairing
from deepblocker_spark.operators.pairing import pairing_for, resolve_pairing
from deepblocker_spark.operators.pq import PQVectorPairing
from deepblocker_spark.operators.topk import ExactTopKVectorPairing

DIM = 8

PAIRINGS = {
    "exact": lambda: ExactTopKVectorPairing(k=3),
    "lsh": lambda: LSHVectorPairing(k=3, dim=DIM, n_bands=4, band_bits=2),
    "ivf": lambda: IVFVectorPairing(k=3, n_cells=2, nprobe=2),
    "ivfpq": lambda: PQVectorPairing(k=3, n_cells=2, nprobe=2, m=4, n_codes=8),
}


@pytest.fixture(scope="module")
def small_df(spark):
    rng = np.random.default_rng(3)
    centers = rng.normal(size=(6, DIM))
    rows = [(centers[i // 5] + rng.normal(scale=0.05, size=DIM)).astype(np.float32)
            for i in range(30)]
    return spark.createDataFrame(pd.DataFrame({"id": range(30), "embedding": rows}))


@pytest.mark.parametrize("name", sorted(PAIRINGS))
def test_every_pairing_shares_the_query_contract(spark, small_df, name):
    with pytest.raises(RuntimeError, match=r"call index\(right_df\) before query"):
        PAIRINGS[name]().query(small_df)
    out = PAIRINGS[name]().index(small_df).query(small_df).toPandas()
    assert len(out) > 0
    assert not (out["l_id"] == out["r_id"]).any(), "self-pairs in a self query"


def test_auto_rule_exact_lsh_boundary():
    cfg = DEFAULT_CONFIG
    n = cfg.pairing_lsh_threshold_rows
    assert resolve_pairing("auto", n, cfg) == "exact"
    assert resolve_pairing("auto", n + 1, cfg) == "lsh"


def test_auto_rule_lsh_ivfpq_boundary():
    cfg = BlockerConfig(emb_dim=64)
    n = cfg.pairing_ivfpq_min_bytes // (cfg.emb_dim * 4)
    assert n * cfg.emb_dim * 4 == cfg.pairing_ivfpq_min_bytes
    assert n > cfg.pairing_lsh_threshold_rows
    assert resolve_pairing("auto", n, cfg) == "lsh"
    one_byte_more = replace(cfg, pairing_ivfpq_min_bytes=n * cfg.emb_dim * 4 - 1)
    assert resolve_pairing("auto", n, one_byte_more) == "ivfpq"


@pytest.mark.parametrize("mode", ["exact", "lsh", "ivf", "ivfpq"])
def test_explicit_modes_pass_through(mode):
    assert resolve_pairing(mode, None, DEFAULT_CONFIG) == mode
    assert resolve_pairing(mode, 10**9, DEFAULT_CONFIG) == mode


def test_unknown_modes_raise():
    with pytest.raises(ValueError, match="unknown pairing mode"):
        resolve_pairing("hnsw", 10, DEFAULT_CONFIG)
    for mode in ("hnsw", "auto"):
        with pytest.raises(ValueError, match="unknown pairing mode"):
            pairing_for(mode, 10, DEFAULT_CONFIG)


# The candidates manifest's per-mode lists as stored checkpoints hold them:
# a change here changes params_hash and invalidates every such checkpoint.
@pytest.mark.parametrize("mode, entry", [
    ("exact", {}),
    ("lsh", {"lsh": [8, 12, 5000, "f16"]}),
    ("ivf", {"ivf": [None, 8, "f16"]}),
    ("ivfpq", {"ivfpq": [None, 8, 8, 256]}),
])
def test_params_pin_the_candidates_manifest_entry(mode, entry):
    assert pairing_for(mode, 10, DEFAULT_CONFIG).params() == entry
