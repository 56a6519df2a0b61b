"""LSH candidate generation, scoring, and connected-components tests."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from deepblocker_spark.operators.ann import recall_at_k
from deepblocker_spark.operators.cluster import (
    clusters_from_candidates,
    clusters_to_pairs,
    connected_components,
)
from deepblocker_spark.operators.lsh import bucket_stats, lsh_candidates, signature_buckets
from deepblocker_spark.operators.scoring import (
    cosine_col,
    jaro_winkler,
    score_candidates,
)
from deepblocker_spark.operators.topk import exact_topk_join

DIM = 16


def _clustered_embeddings(spark, n_clusters=8, per_cluster=5, seed=3):
    """Vectors in tight clusters: LSH must recover intra-cluster neighbors."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, DIM))
    rows = []
    ids = []
    for c in range(n_clusters):
        for i in range(per_cluster):
            v = centers[c] + rng.normal(scale=0.02, size=DIM)
            rows.append(v.astype(np.float32))
            ids.append(c * 100 + i)
    pdf = pd.DataFrame({"id": ids, "embedding": rows})
    return spark.createDataFrame(pdf), ids


def test_signature_buckets_shape_and_determinism(spark):
    df, ids = _clustered_embeddings(spark)
    sigs = signature_buckets(df, dim=DIM, n_bands=4, band_bits=6, seed=7)
    pdf = sigs.toPandas()
    assert len(pdf) == len(ids) * 4
    pdf2 = signature_buckets(df, dim=DIM, n_bands=4, band_bits=6, seed=7).toPandas()
    a = pdf.sort_values(["id", "band"]).reset_index(drop=True)
    b = pdf2.sort_values(["id", "band"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    # same cluster -> same bucket for near-identical vectors
    stats = bucket_stats(sigs).toPandas()
    assert stats["size"].max() >= 5


def test_lsh_recovers_cluster_neighbors(spark):
    df, ids = _clustered_embeddings(spark)
    cands = lsh_candidates(df, dim=DIM, k=4, n_bands=4, band_bits=6, seed=7)
    pdf = cands.toPandas()
    assert (pdf["l_id"] != pdf["r_id"]).all()
    # every row's top-4 should be its 4 cluster-mates
    hits = pdf[(pdf["l_id"] // 100) == (pdf["r_id"] // 100)]
    assert len(hits) / len(pdf) > 0.95


def test_lsh_recall_vs_exact_oracle(spark):
    df, _ = _clustered_embeddings(spark)
    exact = exact_topk_join(df, df, k=4, exclude_self=True)
    approx = lsh_candidates(df, k=4, id_col="id", emb_col="embedding", dim=DIM,
                            n_bands=4, band_bits=6)
    r = recall_at_k(approx, exact).collect()[0]
    assert r["recall_at_k"] >= 0.9


@pytest.mark.parametrize("threshold", [2_000_000, 0], ids=["driver-uf", "distributed"])
def test_connected_components_basic(spark, threshold):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 7), (8, 9), (9, 10), (10, 8)],
        ["l_id", "r_id"],
    )
    comp = {
        r["id"]: r["component"]
        for r in connected_components(edges, driver_threshold=threshold).collect()
    }
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[5] == comp[6] == 5
    assert comp[8] == comp[9] == comp[10] == 8
    assert 7 not in comp  # self-loop only: no edge -> not in any component


@pytest.mark.parametrize("threshold", [2_000_000, 0], ids=["driver-uf", "distributed"])
def test_connected_components_chain(spark, threshold):
    # long chain forces multiple propagation rounds
    edges = spark.createDataFrame([(i, i + 1) for i in range(12)], ["l_id", "r_id"])
    comp = connected_components(edges, driver_threshold=threshold).toPandas()
    assert set(comp["component"]) == {0}
    assert len(comp) == 13


def test_connected_components_paths_agree(spark):
    import numpy as np

    rng = np.random.default_rng(17)
    edges = spark.createDataFrame(
        [(int(a), int(b)) for a, b in rng.integers(0, 200, size=(300, 2)) if a != b],
        ["l_id", "r_id"],
    )
    fast = connected_components(edges).toPandas()
    dist = connected_components(edges, driver_threshold=0).toPandas()
    key = lambda p: sorted(map(tuple, p[["id", "component"]].values.tolist()))  # noqa: E731
    assert key(fast) == key(dist)


def test_clusters_to_pairs(spark):
    clusters = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (9, 9)], ["id", "component"]
    )
    pairs = {(r["a"], r["b"]) for r in clusters_to_pairs(clusters).collect()}
    assert pairs == {(1, 2), (1, 3), (2, 3)}


def test_clusters_from_candidates_threshold(spark):
    cands = spark.createDataFrame(
        [(1, 2, 0.99), (2, 3, 0.40), (4, 5, 0.95)], ["l_id", "r_id", "sim"]
    )
    comp = {r["id"]: r["component"] for r in clusters_from_candidates(cands, min_sim=0.9).collect()}
    assert comp[1] == comp[2]
    assert 3 not in comp
    assert comp[4] == comp[5]


def test_jaro_winkler_known_values():
    assert jaro_winkler("MARTHA", "MARHTA") == pytest.approx(0.9611, abs=1e-4)
    assert jaro_winkler("DIXON", "DICKSONX") == pytest.approx(0.8133, abs=1e-3)
    assert jaro_winkler("same", "same") == 1.0
    assert jaro_winkler("", "x") == 0.0


def test_cosine_col_and_score_candidates(spark):
    left = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [1, 2],
                "_merged_text": ["alpha beta", "gamma delta"],
                "embedding": [np.array([1, 0, 0], np.float32), np.array([0, 1, 0], np.float32)],
            }
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [10, 20],
                "_merged_text": ["alpha beta", "epsilon"],
                "embedding": [np.array([1, 0, 0], np.float32), np.array([0, 0, 1], np.float32)],
            }
        )
    )
    cands = spark.createDataFrame([(1, 10), (2, 20)], ["l_id", "r_id"])
    out = {(r["l_id"], r["r_id"]): r for r in score_candidates(cands, left, right).collect()}
    assert out[(1, 10)]["cosine"] == pytest.approx(1.0)
    assert out[(1, 10)]["jw"] == pytest.approx(1.0)
    assert out[(2, 20)]["cosine"] == pytest.approx(0.0)
    assert out[(2, 20)]["jw"] < 1.0


def test_cosine_col_zero_vector_guard(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "a": [np.zeros(3, np.float32)],
                "b": [np.array([1, 2, 3], np.float32)],
            }
        )
    )
    row = df.select(cosine_col(F.col("a"), F.col("b")).alias("c")).collect()[0]
    assert row["c"] == 0.0


def test_jaro_winkler_batch_matches_scalar_property():
    """VERDICT r2 #4: the vectorized numpy batch kernel must match the
    scalar reference implementation bit-for-bit — random strings, repeats,
    prefixes, unicode, embedded NULs, empties."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from deepblocker_spark.operators.scoring import jaro_winkler, jaro_winkler_batch

    alphabet = st.sampled_from(list("abcdeABC 0é中\x00"))
    strs = st.text(alphabet=alphabet, min_size=0, max_size=24)

    @settings(max_examples=300, deadline=None)
    @given(st.lists(st.tuples(strs, strs), min_size=1, max_size=40))
    def check(pairs):
        a = np.asarray([x for x, _ in pairs], dtype=object)
        b = np.asarray([y for _, y in pairs], dtype=object)
        for bt in (0.0, 0.7):  # rapidfuzz-style and classic-Winkler/DuckDB
            got = jaro_winkler_batch(a, b, boost_threshold=bt)
            want = np.asarray(
                [jaro_winkler(x, y, boost_threshold=bt) for x, y in pairs]
            )
            np.testing.assert_allclose(got, want, rtol=0, atol=1e-12)

    check()


def test_jaro_winkler_boost_threshold_duckdb_parity():
    """boost_threshold=0.7 must reproduce DuckDB's jaro_winkler_similarity
    (the cand_jw_scores oracle) bit-for-bit on non-empty strings."""
    import numpy as np

    duckdb = pytest.importorskip("duckdb")
    from deepblocker_spark.operators.scoring import jaro_winkler_batch

    rng = np.random.default_rng(11)
    chars = np.array(list("abcde "))
    pairs = [
        (
            "".join(rng.choice(chars, rng.integers(1, 20))),
            "".join(rng.choice(chars, rng.integers(1, 20))),
        )
        for _ in range(800)
    ]
    got = jaro_winkler_batch(
        np.asarray([p[0] for p in pairs], dtype=object),
        np.asarray([p[1] for p in pairs], dtype=object),
        boost_threshold=0.7,
    )
    con = duckdb.connect()
    con.execute("create table p(a varchar, b varchar, i int)")
    con.executemany(
        "insert into p values (?,?,?)",
        [(a, b, i) for i, (a, b) in enumerate(pairs)],
    )
    want = np.array(
        [r[0] for r in con.execute(
            "select jaro_winkler_similarity(a,b) from p order by i"
        ).fetchall()]
    )
    np.testing.assert_array_equal(got, want)


def test_canonical_records(spark):
    """Survivorship: longest record wins per component, id tie-break,
    cluster size attached; singleton clusters keep their only member."""
    from deepblocker_spark.operators.cluster import canonical_records

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7)], ["id", "component"]
    )
    recs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (7, 5)], ["rid", "size"]
    )
    out = {
        r["component"]: r
        for r in canonical_records(
            clusters, recs, id_col="rid", order_by=[F.desc("size")]
        ).collect()
    }
    assert out[1]["id"] == 2 and out[1]["n_members"] == 3  # tie -> min id
    assert out[7]["id"] == 7 and out[7]["n_members"] == 1


def test_tfidf_cosine_scores(spark):
    """Identical texts -> 1.0; token-disjoint texts -> 0.0 (kept via the
    left join); partial overlap strictly between. Pure-JVM plan (no UDF)."""
    from deepblocker_spark.operators.scoring import tfidf_cosine_scores

    docs = spark.createDataFrame(
        [
            (1, "red apple pie"),
            (2, "red apple pie"),
            (3, "blue sky"),
            (4, "red sky"),
        ],
        ["id", "text"],
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (3, 4)], ["a", "b"]
    )
    out = {
        (r["a"], r["b"]): r["tfidf_cos"]
        for r in tfidf_cosine_scores(pairs, docs).collect()
    }
    assert len(out) == 3
    assert out[(1, 2)] == pytest.approx(1.0)
    assert out[(1, 3)] == 0.0
    assert 0.0 < out[(3, 4)] < 1.0
    plan = tfidf_cosine_scores(pairs, docs)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_jaro_winkler_batch_known_values():
    import numpy as np

    from deepblocker_spark.operators.scoring import jaro_winkler_batch

    a = np.asarray(["MARTHA", "DIXON", "same", "", "prefix_common_x"], dtype=object)
    b = np.asarray(["MARHTA", "DICKSONX", "same", "x", "prefix_common_y"], dtype=object)
    got = jaro_winkler_batch(a, b)
    assert got[0] == pytest.approx(0.9611, abs=1e-4)
    assert got[1] == pytest.approx(0.8133, abs=1e-3)
    assert got[2] == 1.0
    assert got[3] == 0.0
