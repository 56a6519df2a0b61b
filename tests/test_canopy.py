"""Canopy blocking: coverage guarantee, tier thresholds, center
determinism, self-membership, and the center-side join asymmetry."""

import pytest
from pyspark.sql import functions as F

from deepblocker_spark.operators.canopy import canopy_blocking


@pytest.fixture()
def docs(spark):
    base = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, base),                                   # center candidate pool
        (2, base + " eta"),                          # near-dup of 1
        (3, "alpha beta gamma theta iota kappa"),    # overlaps 1 loosely
        (4, "totally different words entirely here now"),
        (5, "xy"),                                   # < n tokens: no shingles
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_every_row_covered(spark, docs):
    out = canopy_blocking(docs, center_rate=0.5, t1=0.1, t2=0.5)
    covered = {r.doc_id for r in out.select("doc_id").distinct().collect()}
    assert covered == {1, 2, 3, 4, 5}


def test_shingleless_doc_is_singleton_core(spark, docs):
    out = canopy_blocking(docs, center_rate=1.0, t1=0.1, t2=0.5)
    rows = [r for r in out.collect() if r.doc_id == 5]
    assert rows == [rows[0]]
    assert (rows[0].center, rows[0].jaccard, rows[0].tier) == (5, 1.0, "core")


def test_center_self_membership_and_tiers(spark, docs):
    # rate 1.0: every shingled doc is a center; each belongs to its own
    # canopy at jaccard 1.0 / core, near-dups land core, loose overlaps loose
    out = canopy_blocking(docs, center_rate=1.0, t1=0.05, t2=0.5)
    m = {(r.center, r.doc_id): (round(r.jaccard, 6), r.tier) for r in out.collect()}
    for i in (1, 2, 3, 4):
        assert m[(i, i)] == (1.0, "core")
    j12, tier12 = m[(1, 2)]
    assert 0.5 <= j12 < 1.0 and tier12 == "core"
    j13, tier13 = m[(1, 3)]
    assert 0 < j13 < 0.5 and tier13 == "loose"
    assert (4, 1) not in m and (1, 4) not in m  # no shared shingles
    # symmetric Jaccard: both directions present at rate 1.0 and equal
    assert m[(2, 1)][0] == j12


def test_centers_deterministic_md5_sample(spark, docs):
    out1 = canopy_blocking(docs, center_rate=0.5, t1=0.1, t2=0.5)
    out2 = canopy_blocking(docs.repartition(7), center_rate=0.5, t1=0.1, t2=0.5)
    assert sorted(map(tuple, out1.collect())) == sorted(map(tuple, out2.collect()))


def test_threshold_validation(spark, docs):
    with pytest.raises(ValueError):
        canopy_blocking(docs, center_rate=0.0)
    with pytest.raises(ValueError):
        canopy_blocking(docs, t1=0.5, t2=0.2)


def test_center_side_filtered_before_join(spark, docs):
    # the inverted-index join's center side must carry the md5 filter —
    # the asymmetry that makes canopy cheaper than the full self-join
    plan = canopy_blocking(docs, center_rate=0.25)._jdf.queryExecution().optimizedPlan().toString()
    assert "md5" in plan.lower()
    assert "Join" in plan


def test_canopy_pairs_within_canopy_once(spark, docs):
    from deepblocker_spark.operators.canopy import canopy_pairs

    got = sorted((r.a, r.b) for r in canopy_pairs(
        docs, center_rate=1.0, t1=0.05, t2=0.5
    ).collect())
    # memberships at rate 1.0: docs 1,2,3 share canopies (pairwise shingle
    # overlap); 4 overlaps nobody; 5 is a singleton -> pairs exactly the
    # overlapping trio, each once despite appearing in multiple canopies
    assert got == [(1, 2), (1, 3), (2, 3)]
    # brute check: every pair must share >= 1 canopy in the memberships
    from deepblocker_spark.operators.canopy import canopy_blocking
    m = canopy_blocking(docs, center_rate=1.0, t1=0.05, t2=0.5)
    by_center = {}
    for row in m.collect():
        by_center.setdefault(row.center, set()).add(row.doc_id)
    want = sorted(
        {
            (a, b)
            for mem in by_center.values()
            for a in mem for b in mem if a < b
        }
    )
    assert got == want
