"""Stress regression for the round-5 BlockInfoManager/TorrentBroadcast race
(VERDICT r5 #2): loop the bench's heaviest query shapes back-to-back with
``bc_registry.release_tracked()`` interleaved — the exact cadence the
driver bench runs at — and assert results stay stable and no job fails.
Without the registry, dropped broadcasts and persisted frames were reaped
by GC-timed ContextCleaner, which could remove blocks concurrently with
running tasks; this test exercises the release point repeatedly, with
explicit driver GC between rounds to give any remaining race its window.
The coverage test checks that the one release point leaves no persisted
RDD and no tracked broadcast behind."""

from __future__ import annotations

import gc

import pytest

from deepblocker_spark.operators import bc_registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def entrymod():
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as m

    return m


def test_release_stress_loop(spark, entrymod):
    qs = entrymod.queries()
    heavy = ["flagship_blocking", "lsh_topk_emb", "substring_dup_pairs"]
    baseline = {}
    for rnd in range(5):
        for name in heavy:
            df = qs[name](spark, SF)
            n = df.count()
            if rnd == 0:
                baseline[name] = n
            else:
                assert n == baseline[name], f"{name} drifted on round {rnd}"
            bc_registry.release_tracked()
        # give ContextCleaner a GC trigger between rounds — the old failure
        # mode needed driver GC while the next query's jobs run
        gc.collect()
        spark.sparkContext._jvm.System.gc()


def test_released_plan_recomputes(spark, entrymod):
    """Releasing caches under a still-live plan must degrade to recompute,
    never to an error (the documented release contract)."""
    qs = entrymod.queries()
    df = qs["lsh_topk_emb"](spark, SF)
    n1 = df.count()
    bc_registry.release_tracked()
    n2 = df.count()  # re-executes the released plan end-to-end
    assert n1 == n2


def test_one_release_point_covers_every_leaf(spark, entrymod):
    """Every bench leaf, plus the three queries that reach the persisting
    operators no leaf reaches (canopy, Bloom decontamination, BM25
    postings), then ONE release_tracked(): no persisted RDD and no tracked
    broadcast is left behind."""
    import bench

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    qs = entrymod.queries()
    for name in [*bench.BENCH_QUERIES, "canopy_blocking", "bloom_decontam", "bm25_topk"]:
        qs[name](spark, SF).count()
    assert jsc.getPersistentRDDs().size() > before
    assert bc_registry._TRACKED
    bc_registry.release_tracked()
    assert jsc.getPersistentRDDs().size() == before
    assert not bc_registry._TRACKED
