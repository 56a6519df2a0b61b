"""Exact-substring dedup (winnowing) and SemDeDup operators.

Oracles: a pure-Python winnowing twin for value parity, the
Schleimer-et-al. guarantee as planted-span properties, and planted
embedding twins for SemDeDup coverage/survivorship. The driver-level
DuckDB value oracles live in __spark_entry__.oracle_sql()."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from deepblocker_spark.operators.semdedup import (
    semantic_dedup,
    semantic_dedup_coverage,
)
from deepblocker_spark.operators.substring_dedup import (
    exact_substring_pairs,
    exact_substring_pairs_dyadic,
    hot_fingerprints,
    winnowed_fingerprints,
)

L, W = 10, 3  # small params keep the brute-force twin readable


def _py_winnow(text: str, gram_len: int = L, window: int = W) -> set[str]:
    if len(text) < gram_len + window - 1:
        return set()
    grams = [text[i : i + gram_len] for i in range(len(text) - gram_len + 1)]
    return {
        min(grams[i : i + window]) for i in range(len(grams) - window + 1)
    }


def _rand_text(rng: np.random.Generator, n: int) -> str:
    return "".join(rng.choice(list("abcdefghijklmnop rstuvwxyz"), size=n))


def test_winnow_fingerprints_match_python_twin(spark):
    rng = np.random.Generator(np.random.PCG64(7))
    rows = [(i, _rand_text(rng, int(rng.integers(5, 80)))) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.id, r.gram)
        for r in winnowed_fingerprints(df, gram_len=L, window=W).collect()
    }
    want = {(i, g) for i, t in rows for g in _py_winnow(t)}
    assert got == want


def test_planted_span_always_detected(spark):
    # the winnowing guarantee: a shared exact span of length >=
    # gram_len + window - 1 ALWAYS yields a candidate pair
    rng = np.random.Generator(np.random.PCG64(11))
    span = _rand_text(rng, L + W - 1)
    rows = [
        (1, _rand_text(rng, 30) + span + _rand_text(rng, 30)),
        (2, span + _rand_text(rng, 55)),
        (3, _rand_text(rng, 70)),  # no planted span
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = {
        (r.a, r.b)
        for r in exact_substring_pairs(df, gram_len=L, window=W).collect()
    }
    assert (1, 2) in pairs


def test_no_pair_without_shared_gram(spark):
    # fingerprints ARE substrings: disjoint alphabets can never pair
    rows = [(1, "a" * 60), (2, "b" * 60)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    assert exact_substring_pairs(df, gram_len=L, window=W).count() == 0


def test_short_docs_yield_no_fingerprints(spark):
    df = spark.createDataFrame(
        [(1, "x" * (L + W - 2)), (2, "")], "doc_id bigint, text string"
    )
    assert winnowed_fingerprints(df, gram_len=L, window=W).count() == 0


def test_hot_fingerprint_purge(spark):
    # one boilerplate span shared by ALL docs, one span shared by two:
    # purging at max_gram_df drops the boilerplate pairs only
    rng = np.random.Generator(np.random.PCG64(13))
    boiler = _rand_text(rng, 2 * L)
    rare = _rand_text(rng, L + W - 1)
    rows = [(i, boiler + _rand_text(rng, 25)) for i in range(10)]
    rows += [(100, rare + boiler), (101, _rand_text(rng, 20) + rare)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    full = exact_substring_pairs(df, gram_len=L, window=W)
    assert full.count() >= 12 * 11 // 2 - 10  # boilerplate pairs everywhere
    purged = exact_substring_pairs(df, gram_len=L, window=W, max_gram_df=5)
    got = {(r.a, r.b) for r in purged.collect()}
    assert (100, 101) in got
    assert all(a >= 100 for a, _ in got)  # every boilerplate-only pair gone
    hot = hot_fingerprints(df, gram_len=L, window=W, max_gram_df=5)
    assert hot.count() > 0 and hot.agg(F.min("doc_freq")).first()[0] > 5


def test_dyadic_matches_self_join_across_sides(spark):
    # cross-corpus pairs == the cross-side subset of the unioned self-join
    rng = np.random.Generator(np.random.PCG64(17))
    span = _rand_text(rng, 2 * L)
    train = [(i, _rand_text(rng, 20) + (span if i % 3 == 0 else _rand_text(rng, 2 * L)) + _rand_text(rng, 20)) for i in range(20)]
    evals = [(1000 + i, (span if i % 2 == 0 else _rand_text(rng, 2 * L)) + _rand_text(rng, 15)) for i in range(8)]
    tdf = spark.createDataFrame(train, "doc_id bigint, text string")
    edf = spark.createDataFrame(evals, "doc_id bigint, text string")
    dy = {
        (r.l_id, r.r_id): r.n_shared
        for r in exact_substring_pairs_dyadic(tdf, edf, gram_len=L, window=W).collect()
    }
    both = tdf.unionByName(edf)
    self_cross = {
        (r.a, r.b): r.n_shared
        for r in exact_substring_pairs(both, gram_len=L, window=W).collect()
        if r.a < 1000 <= r.b
    }
    assert dy == self_cross
    assert dy  # the planted span guarantees cross pairs exist


def test_dyadic_purge_uses_joint_frequency(spark):
    # a span in EVERY doc of both sides is purged at joint df; a rare
    # cross span survives
    rng = np.random.Generator(np.random.PCG64(19))
    boiler = _rand_text(rng, 2 * L)
    rare = _rand_text(rng, L + W - 1)
    train = [(i, boiler + _rand_text(rng, 20)) for i in range(6)]
    train.append((99, boiler + rare))
    evals = [(1000 + i, _rand_text(rng, 18) + boiler) for i in range(4)]
    evals.append((1099, rare + _rand_text(rng, 18)))
    tdf = spark.createDataFrame(train, "doc_id bigint, text string")
    edf = spark.createDataFrame(evals, "doc_id bigint, text string")
    purged = exact_substring_pairs_dyadic(
        tdf, edf, gram_len=L, window=W, max_gram_df=8
    )
    got = {(r.l_id, r.r_id) for r in purged.collect()}
    assert got == {(99, 1099)}


def test_dyadic_purge_winnows_each_side_once(spark, monkeypatch):
    # the purge reads each side's fingerprints twice (joint frequency count,
    # then the anti-join), so each side is persisted and winnowed once; a
    # pass-through tally stacked on the kernel counts the rows it emits
    import deepblocker_spark.operators.substring_dedup as sd

    rng = np.random.Generator(np.random.PCG64(23))
    boiler = _rand_text(rng, 2 * L)
    rare = _rand_text(rng, L + W - 1)
    train = [(i, boiler + _rand_text(rng, 30)) for i in range(12)]
    train.append((99, _rand_text(rng, 12) + rare))
    evals = [(1000 + i, _rand_text(rng, 30) + boiler) for i in range(5)]
    evals.append((1099, rare + _rand_text(rng, 12)))
    tdf = spark.createDataFrame(train, "doc_id bigint, text string")
    edf = spark.createDataFrame(evals, "doc_id bigint, text string")
    once = sum(winnowed_fingerprints(d, gram_len=L, window=W).count() for d in (tdf, edf))
    emitted = spark.sparkContext.accumulator(0)
    kernel = sd.winnowed_fingerprints

    def tallied(*args):
        def tally(batches):
            for pdf in batches:
                emitted.add(len(pdf))
                yield pdf

        fp = kernel(*args)
        return fp.mapInPandas(tally, fp.schema)

    monkeypatch.setattr(sd, "winnowed_fingerprints", tallied)
    pairs = exact_substring_pairs_dyadic(tdf, edf, gram_len=L, window=W, max_gram_df=8)
    # the boilerplate span is in 17 docs (> 8) and purged; the rare one stays
    assert {(r.l_id, r.r_id) for r in pairs.collect()} == {(99, 1099)}
    assert emitted.value == once


def test_streaming_substring_decontam_parity_with_batch(spark, tmp_path, await_stream):
    """streaming<->batch parity: the same train/eval fixture through
    streaming_substring_decontam must emit exactly the batch
    exact_substring_pairs_dyadic rows (same n_shared; the stream adds only
    ts and the watermark pair-dedup)."""
    from deepblocker_spark.streaming.dedup_stream import (
        streaming_substring_decontam,
    )

    rng = np.random.Generator(np.random.PCG64(23))
    span_a, span_b = _rand_text(rng, 2 * L), _rand_text(rng, 2 * L)
    train_rows = [
        (1, span_a + _rand_text(rng, 15), "2024-01-01T10:00:00"),
        (2, _rand_text(rng, 14) + span_a + span_b, "2024-01-01T10:00:01"),
        (3, _rand_text(rng, 60), "2024-01-01T10:00:02"),  # clean
        (4, span_b + _rand_text(rng, 11), "2024-01-01T10:00:03"),
    ]
    eval_rows = [(100, _rand_text(rng, 9) + span_a), (101, span_b + _rand_text(rng, 13))]
    train = spark.createDataFrame(
        [(i, t) for i, t, _ in train_rows], "doc_id bigint, text string"
    )
    ev = spark.createDataFrame(eval_rows, "doc_id bigint, text string")
    batch = {
        (r.l_id, r.r_id): r.n_shared
        for r in exact_substring_pairs_dyadic(
            train, ev, gram_len=L, window=W
        ).collect()
    }
    assert batch  # the planted spans really leak

    sdf = spark.createDataFrame(train_rows, "doc_id bigint, text string, ts string")
    in_path = str(tmp_path / "ss_in")
    out_path = str(tmp_path / "ss_out")
    sdf.coalesce(1).write.parquet(in_path)
    q = (
        streaming_substring_decontam(
            spark.readStream.schema(sdf.schema).parquet(in_path), ev,
            gram_len=L, window=W,
        )
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    got = spark.read.parquet(out_path).toPandas()
    stream = {(r.train_id, r.eval_id): r.n_shared for r in got.itertuples()}
    assert stream == batch
    assert all(t != 3 for t, _ in stream)  # clean doc never pairs
    assert len(got) == len(stream)  # one row per pair despite multi-gram joins
    # fingerprints come from the batch Arrow kernel, not a Column-lambda
    # sliding min
    plan = q._jsq.explainInternal(False)
    assert "MapInPandas" in plan
    assert "array_min(slice(" not in plan


def _twin_table(spark, n=120, dim=16, dup_every=4, seed=3):
    rng = np.random.Generator(np.random.PCG64(seed))
    base = rng.normal(size=(n, dim))
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
    twins = [
        (i + 1_000_000, [float(x * 1.001 + 0.0005 * (j % 7)) for j, x in enumerate(base[i])])
        for i in range(0, n, dup_every)
    ]
    df = spark.createDataFrame(
        rows + twins, "vec_id bigint, embedding array<double>"
    )
    return df, {(i, i + 1_000_000) for i in range(0, n, dup_every)}


def test_semantic_dedup_drops_twins_keeps_min_id(spark):
    df, twin_pairs = _twin_table(spark)
    v = semantic_dedup(
        df, id_col="vec_id", emb_col="embedding", threshold=0.95, n_cells=4
    )
    rows = {r.id: r for r in v.collect()}
    assert len(rows) == df.count()  # every row gets exactly one verdict
    covered = sum(
        1 for a, b in twin_pairs if not (rows[a].kept and rows[b].kept)
    )
    assert covered >= 0.95 * len(twin_pairs)
    # min-id rule: a dropped row always has a smaller same-cell neighbor,
    # and kept <=> n_dups_prior == 0
    for r in rows.values():
        assert r.kept == (r.n_dups_prior == 0)
    for a, b in twin_pairs:
        if rows[a].cell == rows[b].cell:
            assert rows[a].kept or rows[a].n_dups_prior > 0
            assert not rows[b].kept  # twin (larger id) must drop


def test_semantic_dedup_grid_split_matches_unsplit(spark):
    # forcing the grid salt-split (tiny max_cell_rows) must not change a
    # single verdict — bounded tasks, zero semantic loss
    df, _ = _twin_table(spark, n=80)
    a = semantic_dedup(df, threshold=0.95, n_cells=2, max_cell_rows=10_000)
    b = semantic_dedup(df, threshold=0.95, n_cells=2, max_cell_rows=16)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_semantic_dedup_coverage_report(spark):
    df, twin_pairs = _twin_table(spark)
    rep = semantic_dedup_coverage(
        df, threshold=0.95, n_cells=4, min_coverage=0.9
    ).first()
    assert rep.n_dup_pairs == len(twin_pairs)
    assert rep.n_rows == df.count()
    assert rep.coverage_ok == 1
    assert rep.n_kept + rep.n_covered >= rep.n_rows  # dropped <= covered pairs


def test_semantic_dedup_farthest_keeps_cluster_edge(spark):
    # the paper's rule: among near-duplicates the member FARTHEST from
    # the centroid survives — verified per twin pair (twins share a cell
    # except rare boundary flips; for co-located pairs exactly the
    # lower-centroid-similarity member must be kept)
    from deepblocker_spark.operators.ann import _train_centroids

    df, twin_pairs = _twin_table(spark)
    v = semantic_dedup(
        df, id_col="vec_id", emb_col="embedding", threshold=0.95,
        n_cells=4, keep="farthest",
    )
    rows = {r.id: r for r in v.collect()}
    cents = _train_centroids(df, "vec_id", "embedding", 4, 1234)
    emb = {r.vec_id: np.array(r.embedding) for r in df.collect()}

    def cent_sim(i, cell):
        x = emb[i] / np.linalg.norm(emb[i])
        return float(x @ cents[cell])

    checked = 0
    for a, b in twin_pairs:
        ra, rb = rows[a], rows[b]
        if ra.cell != rb.cell:
            continue
        checked += 1
        sa, sb = cent_sim(a, ra.cell), cent_sim(b, rb.cell)
        farther = a if (sa, a) < (sb, b) else b  # lower sim outranks, tie: min id
        nearer = b if farther == a else a
        assert not rows[nearer].kept
        # the farther twin survives unless an even-farther third neighbor
        # outranks it too; with planted pairs that third party is rare —
        # require the common case to dominate
        if rows[farther].kept:
            assert rows[farther].n_dups_prior == 0
    assert checked >= 0.9 * len(twin_pairs)
    kept_names = sum(1 for a, b in twin_pairs if rows[a].kept != rows[b].kept)
    assert kept_names >= 0.9 * len(twin_pairs)  # exactly one survivor per pair


def test_semantic_dedup_deterministic(spark):
    df, _ = _twin_table(spark, n=60, seed=9)
    r1 = sorted(map(tuple, semantic_dedup(df, threshold=0.95, n_cells=4).collect()))
    r2 = sorted(map(tuple, semantic_dedup(df, threshold=0.95, n_cells=4).collect()))
    assert r1 == r2
