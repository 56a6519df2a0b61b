"""Product-quantization ANN: codebook training, encoding, ADC top-k —
recall measured against the exact top-k join on clustered synthetic
vectors (the same harness shape as test_ann_dyadic)."""
from __future__ import annotations

import numpy as np
import pytest

from deepblocker_spark.operators.pq import encode_pq, pq_topk, pq_topk_join, train_pq
from deepblocker_spark.operators.topk import exact_topk_join


def _clustered(n_clusters=12, per=12, dim=32, seed=7):
    rng = np.random.Generator(np.random.PCG64(seed))
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    i = 0
    for c in range(n_clusters):
        for _ in range(per):
            v = centers[c] + 0.08 * rng.normal(size=dim)
            rows.append((i, [float(x) for x in v]))
            i += 1
    return rows


@pytest.fixture(scope="module")
def vec_df(spark):
    return spark.createDataFrame(
        _clustered(), "vec_id long, embedding array<float>"
    ).cache()


def test_train_shapes_and_validation(spark, vec_df):
    books = train_pq(vec_df, m=4, n_codes=16, sample_rows=200)
    assert books.shape == (4, 16, 8)
    with pytest.raises(ValueError):
        train_pq(vec_df, m=5, n_codes=16)  # 5 does not divide 32
    with pytest.raises(ValueError):
        train_pq(vec_df, m=4, n_codes=512)  # uint8 overflow


def test_encode_deterministic_and_reconstruction_improves(spark, vec_df):
    books16 = train_pq(vec_df, m=4, n_codes=16, sample_rows=200)
    books64 = train_pq(vec_df, m=4, n_codes=64, sample_rows=200)
    codes_a = {r[0]: r[1] for r in encode_pq(vec_df, books16).collect()}
    codes_b = {r[0]: r[1] for r in encode_pq(vec_df, books16).collect()}
    assert codes_a == codes_b  # deterministic
    assert all(len(c) == 4 for c in codes_a.values())

    # reconstruction error shrinks with a bigger codebook
    def recon_err(books):
        m, _, dsub = books.shape
        codes = {r[0]: np.frombuffer(r[1], np.uint8) for r in
                 encode_pq(vec_df, books).collect()}
        pdf = vec_df.toPandas()
        errs = []
        for _, row in pdf.iterrows():
            v = np.asarray(row.embedding, dtype=np.float64)
            v /= np.linalg.norm(v)
            rec = np.concatenate(
                [books[j][codes[row.vec_id][j]] for j in range(m)]
            )
            errs.append(np.linalg.norm(v - rec))
        return float(np.mean(errs))

    assert recon_err(books64) < recon_err(books16)


def test_pq_topk_recall_vs_exact(spark, vec_df):
    exact = exact_topk_join(
        vec_df, vec_df, k=5, l_id="vec_id", r_id="vec_id", exclude_self=True
    )
    approx = pq_topk(vec_df, k=10, m=8, n_codes=64)
    ex = {(r.l_id, r.r_id) for r in exact.filter("sim >= 0.5").collect()}
    ap = {(r.l_id, r.r_id) for r in approx.collect()}
    assert ex, "regime must be non-empty"
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.95, f"recall {recall:.3f}"
    # self pairs excluded, ranks within k and contiguous from 1
    assert all(a != b for a, b in ap)
    by_l = {}
    for r in approx.collect():
        by_l.setdefault(r.l_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_l.values())


def test_pq_driver_collect_gate_delegates(spark, vec_df):
    """VERDICT r4 #3: above max_driver_code_rows, pq_topk(_join) must
    DELEGATE to the nothing-collects IVFADC path instead of collecting
    the code table to the driver — bit-identical to calling ivf_pq_topk
    directly (same seeds), via both the rows_hint short-circuit and the
    hint-less LIMIT probe."""
    from deepblocker_spark.operators.pq import ivf_pq_topk, ivf_pq_topk_join

    direct = {
        (r.l_id, r.r_id, r.rank)
        for r in ivf_pq_topk(vec_df, k=5, m=8, n_codes=64).collect()
    }
    # hint-less path: the LIMIT probe detects overflow
    probed = pq_topk(vec_df, k=5, m=8, n_codes=64, max_driver_code_rows=10)
    assert {(r.l_id, r.r_id, r.rank) for r in probed.collect()} == direct
    # hinted path: no probe job at all
    hinted = pq_topk(
        vec_df, k=5, m=8, n_codes=64, max_driver_code_rows=10,
        rows_hint=vec_df.count(),
    )
    assert {(r.l_id, r.r_id, r.rank) for r in hinted.collect()} == direct

    left = vec_df.filter("vec_id % 2 = 0")
    right = vec_df.filter("vec_id % 2 = 1")
    d_direct = {
        (r.l_id, r.r_id, r.rank)
        for r in ivf_pq_topk_join(left, right, k=3, m=8, n_codes=64).collect()
    }
    d_gated = pq_topk_join(
        left, right, k=3, m=8, n_codes=64, max_driver_code_rows=5
    )
    assert {(r.l_id, r.r_id, r.rank) for r in d_gated.collect()} == d_direct


def test_pq_topk_rows_hint_skips_training_count(spark, vec_df, monkeypatch):
    """A hinted call below max_driver_code_rows passes the hint on to the
    codebook training, so no sizing count() runs anywhere in the call."""
    n = vec_df.count()
    frame_type = type(vec_df)
    calls = []
    real_count = frame_type.count

    def spy(self):
        calls.append(self)
        return real_count(self)

    monkeypatch.setattr(frame_type, "count", spy)
    hinted = pq_topk(vec_df, k=5, m=8, n_codes=64, rows_hint=n)
    got = {(r.l_id, r.r_id, r.rank) for r in hinted.collect()}
    assert not calls
    monkeypatch.undo()
    plain = pq_topk(vec_df, k=5, m=8, n_codes=64)
    assert got == {(r.l_id, r.r_id, r.rank) for r in plain.collect()}


def test_pq_topk_dyadic_keeps_right_ids(spark, vec_df):
    # the chunked-vs-single-chunk check is test_topk.py's
    # test_chunked_scan_equals_single_chunk[pq]
    left = vec_df.filter("vec_id % 2 = 0")
    right = vec_df.filter("vec_id % 2 = 1")
    out = pq_topk_join(left, right, k=3, m=8, n_codes=64)
    a = {(r.l_id, r.r_id, r.rank) for r in out.collect()}
    assert len(a) == 3 * left.count()
    assert all(r % 2 == 1 for _, r, _ in a)  # right ids only


def test_ivf_pq_recall_and_saltsplit_invariance(spark, vec_df):
    from deepblocker_spark.operators.pq import ivf_pq_topk

    exact = exact_topk_join(
        vec_df, vec_df, k=5, l_id="vec_id", r_id="vec_id", exclude_self=True
    )
    ex = {(r.l_id, r.r_id) for r in exact.filter("sim >= 0.5").collect()}
    assert ex
    approx = ivf_pq_topk(
        vec_df, k=10, n_cells=8, nprobe=4, m=8, n_codes=64, seed=5
    )
    ap = {(r.l_id, r.r_id) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.9, f"recall {recall:.3f}"
    assert all(a != b for a, b in ap)  # self excluded
    # mega-cell grid split (max_cell_rows=7 forces SQxSI fan-out) must not
    # change the result set at all — zero recall loss by construction
    split = ivf_pq_topk(
        vec_df, k=10, n_cells=8, nprobe=4, m=8, n_codes=64, seed=5,
        max_cell_rows=7,
    )
    sp = {(r.l_id, r.r_id, r.rank) for r in split.collect()}
    full = {(r.l_id, r.r_id, r.rank) for r in approx.collect()}
    assert sp == full


def test_ivf_pq_dyadic(spark, vec_df):
    from deepblocker_spark.operators.pq import ivf_pq_topk_join

    left = vec_df.filter("vec_id % 2 = 0")
    right = vec_df.filter("vec_id % 2 = 1")
    out = ivf_pq_topk_join(
        left, right, k=3, n_cells=8, nprobe=8, m=8, n_codes=64, seed=5
    )
    rows = out.collect()
    assert rows
    assert all(r.l_id % 2 == 0 and r.r_id % 2 == 1 for r in rows)
    # nprobe = n_cells probes every cell: ADC ranking over ALL right rows —
    # the exact top-1 neighbors (high-sim regime) must be recovered
    exact = exact_topk_join(left, right, k=1, l_id="vec_id", r_id="vec_id")
    ex1 = {(r.l_id, r.r_id) for r in exact.filter("sim >= 0.5").collect()}
    got = {(r.l_id, r.r_id) for r in rows}
    assert ex1 and len(ex1 & got) / len(ex1) >= 0.9


def test_pq_topk_empty_right(spark, vec_df):
    import numpy as np

    empty = vec_df.filter("vec_id < 0")
    books = train_pq(vec_df, m=4, n_codes=16, sample_rows=200)
    out = pq_topk_join(vec_df.limit(5), empty, k=3, codebooks=books)
    assert out.count() == 0
    assert out.columns == ["l_id", "r_id", "sim", "rank"]


def test_pq_vector_pairing_seam(spark, vec_df):
    from deepblocker_spark.operators.pq import PQVectorPairing

    p = PQVectorPairing(k=3, n_cells=8, nprobe=8, m=8, n_codes=64, seed=5)
    p.index(vec_df, r_id="vec_id")
    self_pairs = p.query(vec_df, l_id="vec_id").collect()  # auto -> self
    assert self_pairs and all(r.l_id != r.r_id for r in self_pairs)
    left = vec_df.filter("vec_id % 2 = 0")
    dy = p.index(vec_df.filter("vec_id % 2 = 1"), r_id="vec_id") \
          .query(left, l_id="vec_id", mode="dyadic").collect()
    assert dy and all(r.l_id % 2 == 0 and r.r_id % 2 == 1 for r in dy)
    import pytest as _pt
    with _pt.raises(ValueError):
        p.query(left, mode="bogus")


@pytest.mark.parametrize("kernel", ["flat", "adc"])
def test_ivf_probing_every_cell_matches_exhaustive_scorer(spark, vec_df, kernel):
    """With nprobe == n_cells the IVF cell path scores every (query, index)
    pair, so its top-k must equal the exhaustive join over the same scorer:
    exact_topk_join for the flat kernel, pq_topk with the same codebooks
    for the ADC kernel."""
    from deepblocker_spark.operators.ann import ivf_topk
    from deepblocker_spark.operators.pq import ivf_pq_topk

    k, n_cells, seed = 5, 8, 5
    if kernel == "flat":
        cells = ivf_topk(vec_df, k=k, n_cells=n_cells, nprobe=n_cells, seed=seed)
        full = exact_topk_join(vec_df, vec_df, k=k, l_id="vec_id",
                               r_id="vec_id", exclude_self=True)
    else:
        cells = ivf_pq_topk(vec_df, k=k, n_cells=n_cells, nprobe=n_cells,
                            m=8, n_codes=64, seed=seed)
        # ivf_pq_topk trains its codebooks on the same sample with seed + 1
        books = train_pq(vec_df, m=8, n_codes=64, seed=seed + 1)
        full = pq_topk(vec_df, k=k, codebooks=books)
    got = {(r.l_id, r.r_id): r.sim for r in cells.collect()}
    want = {(r.l_id, r.r_id): r.sim for r in full.collect()}
    assert len(want) == 144 * k
    assert got.keys() == want.keys()
    assert max(abs(got[p] - want[p]) for p in want) <= 1e-9
