"""Product-quantization ANN (Jégou, Douze, Schmid — TPAMI'11 "Product
quantization for nearest neighbor search", the PQ/ADC half of IVFADC).

Completes the ANN family next to exact (topk.py), random-hyperplane LSH
(lsh.py) and IVF-flat (ann.py). No reference counterpart — the reference
only does the exact top-K matrix (its vector_pairing_models.py).

This module holds the PQ parts only — training, encoding and ADC
scoring. IVFADC (``ivf_pq_topk[_join]``) is the IVF cell path of ann.py
with the ADC scoring kernel: index rows carry PQ codes, queries carry
vectors.

Scale story: a 64-dim f32 embedding is 256 B; its PQ code at m=8
subspaces is 8 B (32×). The brute-force ADC join (``pq_topk_join``) is
the chunk-broadcast scan of topk.exact_topk_join with an ADC scorer: its
broadcast side ships CODES, not vectors — at 100 TB the code table for
1B rows is ~8 GB in ``max_broadcast_rows`` chunks, while the raw vectors
would be 256 GB. Codebooks are a few hundred KB, broadcast once. Queries
keep full precision: asymmetric distance computation (ADC) quantizes only
the database side, so the only error is the database rows' quantization.

Cosine similarity on L2-normalized vectors is the inner product, and PQ
subspaces decompose it exactly: <q, x> = Σ_j <q_j, x_j> ≈ Σ_j <q_j,
c_{j,code_j(x)}>. Training/encoding use per-subspace L2 assignment (the
standard PQ quantizer) over normalized vectors; per-query score = m
table lookups summed: each query batch builds its (batch × n_codes)
lookup tables once (``_adc_luts``) and ``_adc_scores`` gathers them over
any slice of codes.

Everything driver-side is bounded relative to the data: training reads
the same deterministic xxhash64 sample as the IVF centroids
(ann._training_sample); the code table reaches the driver one chunk at a
time through Arrow (m bytes + id per row, the scan's bounded-broadcast
contract at 1/32 the bytes); the scan scores each query batch against
its chunk in cache-sized column blocks, so per-batch kernel memory is
O(batch × block). For corpora whose code table exceeds
``max_driver_code_rows``, ``ivf_pq_topk`` (below) is the
fully-distributed path — nothing collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from deepblocker_spark.operators.ann import _ivf_search, _training_sample
from deepblocker_spark.operators.grouped import _blob_rows, _row_blobs
from deepblocker_spark.operators.pairing import VectorPairing
from deepblocker_spark.operators.bc_registry import (
    tracked_broadcast as _tracked,
)


def train_pq(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    m: int = 8,
    n_codes: int = 256,
    seed: int = 1234,
    sample_rows: int = 20_000,
    iters: int = 10,
    rows_hint: int | None = None,
):
    """Driver-side per-subspace k-means on a bounded deterministic sample.
    -> numpy (m, n_codes, dim//m) float64 codebooks. ``rows_hint`` skips
    the sizing count (same seam as ann._train_centroids)."""
    import numpy as np

    if n_codes > 256:
        raise ValueError("n_codes > 256 does not fit uint8 codes")
    x = _training_sample(df, id_col, emb_col, sample_rows, rows_hint)
    if x is None:
        return np.zeros((m, 0, 0))
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    dsub = dim // m
    k = min(n_codes, len(x))
    rng = np.random.Generator(np.random.PCG64(seed))
    books = np.zeros((m, k, dsub))
    for j in range(m):
        xs = x[:, j * dsub : (j + 1) * dsub]
        cents = xs[rng.choice(len(xs), size=k, replace=False)].copy()
        for _ in range(iters):
            # L2 assignment == argmax(x·c − |c|²/2); centroids NOT renormalized
            # (subvectors aren't unit — this is plain k-means per subspace)
            d = xs @ cents.T - 0.5 * (cents * cents).sum(axis=1)
            assign = np.argmax(d, axis=1)
            for c in range(k):
                members = xs[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books[j] = cents
    return books


def _pq_encode(x, books):
    """(n, m) uint8 PQ codes of L2-normalized rows ``x``: per subspace, the
    nearest codeword under L2 == argmax(x·c − |c|²/2)."""
    import numpy as np

    m, _, dsub = books.shape
    codes = np.empty((len(x), m), dtype=np.uint8)
    for j in range(m):
        b = books[j]
        xs = x[:, j * dsub : (j + 1) * dsub]
        codes[:, j] = np.argmax(xs @ b.T - 0.5 * (b * b).sum(axis=1), axis=1)
    return codes


def _adc_luts(q, books):
    """Per-subspace ADC lookup tables of normalized queries ``q``: one
    (query × n_codes) matmul per subspace, built once per query batch."""
    dsub = books.shape[2]
    return [q[:, j * dsub : (j + 1) * dsub] @ book.T for j, book in enumerate(books)]


def _adc_scores(luts, codes):
    """(queries, len(codes)) ADC inner-product estimates from ``_adc_luts``
    tables: one gather per subspace over the codes — no (query × index ×
    dim) tensor ever materializes."""
    import numpy as np

    scores = np.zeros((len(luts[0]), len(codes)))
    for j, lut in enumerate(luts):
        scores += lut[:, codes[:, j]]
    return scores


def encode_pq(
    df: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """-> DataFrame(id_col, code binary): each row's m-byte PQ code.
    One vectorized mapInPandas pass; the codebooks broadcast once."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import BinaryType, StructField, StructType

    from deepblocker_spark.operators.topk import normalize_rows

    spark = df.sparkSession
    books_bc = _tracked(spark.sparkContext, codebooks)
    id_type = df.select(id_col).schema.fields[0].dataType
    schema = StructType(
        [StructField(id_col, id_type, True), StructField("code", BinaryType(), False)]
    )

    def encode(batches):
        books = books_bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            x = normalize_rows(
                np.nan_to_num(np.stack(pdf[emb_col].to_numpy()).astype(np.float64))
            )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "code": _row_blobs(_pq_encode(x, books)),
                }
            )

    return df.select(id_col, emb_col).mapInPandas(encode, schema)


def pq_topk_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 10,
    l_id: str = "vec_id",
    r_id: str = "vec_id",
    emb_col: str = "embedding",
    codebooks=None,
    m: int = 8,
    n_codes: int = 256,
    seed: int = 1234,
    exclude_self: bool = False,
    max_broadcast_rows: int = 2_000_000,
    max_driver_code_rows: int = 2_000_000,
    rows_hint: int | None = None,
) -> DataFrame:
    """ADC top-k join: for every left row, the k highest-ADC-score right
    rows. -> (l_id, r_id, sim, rank); ``sim`` is the ADC inner-product
    ESTIMATE of cosine (database side quantized, query side exact) —
    callers needing exact scores re-rank the k survivors with
    scoring.cosine_col, which is k rows per query, not N.

    The chunk-broadcast scan of topk.exact_topk_join with the ADC scorer:
    the right side travels as PQ codes in ``max_broadcast_rows`` chunks
    (m bytes per row — the 32× transport win over broadcasting vectors),
    each query batch builds its lookup tables once and scores the chunk in
    cache-sized column blocks; several chunks merge through the scan's
    window.

    ``max_driver_code_rows`` (VERDICT r4 #3) bounds the driver read of
    the code table: above it the call DELEGATES to the nothing-collects
    IVFADC path (PQVectorPairing with ivf_pq_topk[_join]'s defaults — same
    m/n_codes/seed; ``codebooks`` is retrained there, cell-probing replaces
    the exhaustive chunk scan), the same auto-gate pattern as
    config.pairing_lsh_threshold_rows. ``rows_hint`` skips the index-side
    probe when the caller knows the row count (e.g. from a checkpoint
    manifest); without a hint the probe pulls at most
    ``max_driver_code_rows + 1`` rows, so the driver never materializes an
    unbounded index even when no hint is given.
    """
    import numpy as np

    from deepblocker_spark.operators.topk import (
        _broadcast_scan,
        _iter_right_chunks,
        _pair_schema,
        _pull_upto,
        _ranked,
        _scored_blocks,
        _topk_pairs,
    )

    def _delegate(n_rows: int | None) -> DataFrame:
        pairer = PQVectorPairing(k, n_cells=None, m=m, n_codes=n_codes, seed=seed)
        pairer.index(right, r_id, emb_col, rows=n_rows)
        mode = "self" if exclude_self and left is right else "dyadic"
        return pairer.query(left, l_id, mode=mode)

    if rows_hint is not None and rows_hint > max_driver_code_rows:
        return _delegate(rows_hint)

    if codebooks is None:
        codebooks = train_pq(
            right, id_col=r_id, emb_col=emb_col, m=m, n_codes=n_codes, seed=seed,
            rows_hint=rows_hint,
        )
    m = codebooks.shape[0]
    codes_df = encode_pq(right, codebooks, id_col=r_id, emb_col=emb_col)
    pulled = None
    if rows_hint is None:
        # one extra row proves overflow, at which point the IVFADC
        # delegate takes over
        pulled = _pull_upto(codes_df, r_id, max_driver_code_rows)
        if pulled is None:
            return _delegate(None)
        rows_hint = len(pulled)
    books_bc = _tracked(left.sparkSession.sparkContext, codebooks)
    drop = np.equal if exclude_self else None

    def decode(pdf):
        return np.asarray(pdf[r_id].to_list()), _blob_rows(pdf["code"], np.uint8, m)

    def kernel(lids, q, rids, codes):
        luts = _adc_luts(q, books_bc.value)
        score = lambda lo, hi: _adc_scores(luts, codes[lo:hi])  # noqa: E731
        blocks = _scored_blocks(score, lids, rids, drop)
        rows, cols, s = _topk_pairs(blocks, len(lids), k)
        return _ranked(lids, rids, rows, cols, s)

    chunks = _iter_right_chunks(
        codes_df, r_id, max_broadcast_rows, decode, rows_hint, pulled
    )
    schema = _pair_schema(left, l_id, right, r_id)
    return _broadcast_scan(left, chunks, l_id, emb_col, schema, kernel, k)


def pq_topk(
    df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    **kw,
) -> DataFrame:
    """Self-join ADC top-k (excludes the trivial self match)."""
    return pq_topk_join(
        df, df, k, l_id=id_col, r_id=id_col, emb_col=emb_col,
        exclude_self=True, **kw,
    )


def ivf_pq_topk(
    df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_cells: int | None = None,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 256,
    seed: int = 1234,
    max_cell_rows: int = 5_000,
    rows_hint: int | None = None,
) -> DataFrame:
    """IVFADC self-search (Jégou TPAMI'11 §IV): IVF cells bound WHICH rows
    each query scores (nprobe cells of ~N/n_cells), PQ codes bound WHAT
    travels and sits in memory (m bytes per index row). -> (l_id, r_id,
    sim(ADC estimate), rank), trivial self-match excluded. One source scan
    emits both roles; the ann.ivf_topk plan with the ADC cell kernel, so
    the cell exchange carries m-byte codes for the (unreplicated) index
    role — the nprobe-fold replication applies only to query vectors."""
    return _ivf_search(
        None, df, k, id_col, id_col, emb_col, n_cells=n_cells, nprobe=nprobe,
        seed=seed, max_cell_rows=max_cell_rows, rows_hint=rows_hint,
        pq=(m, n_codes),
    )


def ivf_pq_topk_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 10,
    l_id: str = "vec_id",
    r_id: str = "vec_id",
    emb_col: str = "embedding",
    n_cells: int | None = None,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 256,
    seed: int = 1234,
    max_cell_rows: int = 5_000,
    rows_hint: int | None = None,
) -> DataFrame:
    """Dyadic IVFADC: ``right`` is the index (home cells, PQ codes),
    ``left`` is the query side (nprobe cells, f32 vectors). Centroids and
    codebooks train on the INDEX side; ``rows_hint`` skips its count. Both
    sides must share an id type (TypeError otherwise)."""
    return _ivf_search(
        left, right, k, l_id, r_id, emb_col, n_cells=n_cells, nprobe=nprobe,
        seed=seed, max_cell_rows=max_cell_rows, rows_hint=rows_hint,
        pq=(m, n_codes),
    )


class PQVectorPairing(VectorPairing):
    """IVFADC behind the shared index/query seam (see
    pairing.VectorPairing)."""

    def __init__(self, k: int = 50, n_cells: int | None = 16, nprobe: int = 4,
                 m: int = 8, n_codes: int = 256, seed: int = 1234,
                 max_cell_rows: int = 5_000):
        self.k, self.n_cells, self.nprobe = k, n_cells, nprobe
        self.m, self.n_codes, self.seed = m, n_codes, seed
        self.max_cell_rows = max_cell_rows

    def _search(self, left, l_id, emb_col):
        return _ivf_search(
            left, self._right, self.k, l_id, self._r_id, emb_col,
            n_cells=self.n_cells, nprobe=self.nprobe, seed=self.seed,
            max_cell_rows=self.max_cell_rows, rows_hint=self._rows,
            pq=(self.m, self.n_codes),
        )

    def params(self) -> dict:
        return {"ivfpq": [self.n_cells, self.nprobe, self.m, self.n_codes]}
