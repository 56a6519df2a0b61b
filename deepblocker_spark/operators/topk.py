"""The one chunk-broadcast scan behind the exact top-K cosine join (SURVEY.md
O23-O25), the cosine threshold join and the PQ brute-force join
(operators/pq.py).

The reference materializes the full N_l x N_r cosine matrix and argsorts
every row (vector_pairing_models.py:36-49) — an O(N^2) memory wall. The
scan re-expresses it in the partition, local top-K and merge shape of a
parallel top-K similarity join (ICDE'12, PAPERS.md):

  * index side: ``_iter_right_chunks`` reads the right table through Arrow
    in chunks of at most ``max_broadcast_rows`` rows (one read when a
    row-count hint or a LIMIT probe shows it fits one chunk, else persist +
    count + one xxhash64-filtered read per chunk), so the driver holds one
    chunk at a time;
  * per chunk: one tracked broadcast and one mapInPandas over the query
    side. Each Arrow batch is normalized once, then scored against the
    chunk in cache-sized column blocks by a scorer — f32 BLAS cosine here,
    PQ asymmetric-distance lookups in pq.py — and a selector keeps each
    block's pairs: the per-row top K (``grouped._topk_cols`` per block, then
    once more over the block winners; no full sort, an algorithmic
    improvement over the reference's per-row argsort with the same result
    set) or every pair above a threshold;
  * merge: a single chunk's output is final, ranked in the kernel; several
    chunks' partial top-Ks union into one row_number() window over
    (sim desc, r_id asc) — the classic partial+final top-K.

The candidate set is emitted directly as a pair table (l_id, r_id, sim,
rank) — the reference's separate melt step (blocking_utils.py:3-13)
dissolves into the operator. Ties break deterministically by
(sim desc, r_id asc); the reference's numpy introsort tie order is
unspecified, a documented divergence (SURVEY.md O24).

At true web scale the exact join stays the per-bucket oracle; the scale path
is LSH candidate generation (operators/lsh.py), whose bucket kernel shares
this scan's top-k selector.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from deepblocker_spark.operators.bc_registry import (
    tracked_broadcast as _tracked,
)
from deepblocker_spark.operators.embed import EMBEDDING
from deepblocker_spark.operators.grouped import _blob_rows, _topk_cols
from deepblocker_spark.operators.pairing import VectorPairing


# Memory discipline for the similarity kernel (this matters at every scale —
# the sims block is the single biggest allocation in the engine):
#   * selection runs in float32: halves the memory traffic of the matmul and
#     the argpartition scan, which are bandwidth-bound when many workers run
#     concurrently (measured: float64 blocks collapsed local[32] throughput
#     below local[8] on this host);
#   * the final similarity values for the SELECTED pairs are recomputed in
#     float64 from the original normalized vectors, so emitted sims are
#     bit-compatible with a double-precision oracle;
#   * np.dot(..., out=scratch) reuses one per-worker buffer across batches
#     instead of allocating a fresh block per batch.
_SIMS_SCRATCH: dict[tuple[int, int], np.ndarray] = {}
# (source_array, f32_copy): the strong reference to the source keeps its
# buffer alive, and identity (`is`) — not id() alone — gates reuse. id() by
# itself is unsafe in a reused Python worker: once an earlier broadcast is
# GC'd, a later same-shape matrix can land at the same address and the stale
# f32 copy would be silently used for selection. Capacity is 2 entries with
# LRU eviction (ADVICE r2): each entry pins BOTH the float64 broadcast and
# its f32 copy (~1.8 GB at 500k rows x dim 300), so a deep cache is an
# executor-memory leak across multi-chunk exact joins; 2 entries cover the
# only real reuse pattern (the current chunk, plus one overlap while the
# next chunk's first batch arrives).
_F32_CACHE: list[tuple[np.ndarray, np.ndarray]] = []
_F32_CACHE_CAP = 2
# The scan's column-block bound: one f32 score block is at most ~4 MB.
_BLOCK_BYTES = 4 * 1024 * 1024


def _sims_buffer(rows: int, cols: int) -> np.ndarray:
    # exact-shape cache: np.dot's `out` must be C-contiguous, so slicing one
    # big buffer doesn't work; batch shapes repeat, so a few entries suffice
    buf = _SIMS_SCRATCH.get((rows, cols))
    if buf is None:
        if len(_SIMS_SCRATCH) > 4:
            _SIMS_SCRATCH.clear()
        buf = np.empty((rows, cols), dtype=np.float32)
        _SIMS_SCRATCH[(rows, cols)] = buf
    return buf


def _f32_view(mat64: np.ndarray) -> np.ndarray:
    """Per-worker float32 copy of a broadcast float64 matrix (cast once).

    Keyed by object identity with a held strong reference, so a different
    matrix can never alias a cached entry (ADVICE r1: id()-keyed caching
    could serve a stale f32 matrix after the source was freed)."""
    for i, (src, f32) in enumerate(_F32_CACHE):
        if src is mat64:
            if i != len(_F32_CACHE) - 1:  # move to MRU slot
                _F32_CACHE.append(_F32_CACHE.pop(i))
            return f32
    f32 = mat64.astype(np.float32)
    _F32_CACHE.append((mat64, f32))
    while len(_F32_CACHE) > _F32_CACHE_CAP:
        del _F32_CACHE[0]  # LRU eviction; drops our refs to both matrices
    return f32


def normalize_rows(x: np.ndarray) -> np.ndarray:
    """L2-normalize rows; zero rows stay zero (cosine vs zero vector := 0,
    guarding the reference's 0/0 NaN, SURVEY.md §2.1 edge cases)."""
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    np.maximum(norms, 1e-30, out=norms)
    return x / norms


def _pair_sims(lmat: np.ndarray, rmat: np.ndarray) -> np.ndarray:
    """f64 cosine of each row of ``lmat`` with the same row of ``rmat``
    (both normalized): the scan's exact rescoring of its selected pairs."""
    return np.einsum("ij,ij->i", lmat, rmat)


def _blob_pair_cosine(pairs: DataFrame, dim: int, min_sim: float) -> DataFrame:
    """Score a frame of joined pairs carrying f32 vector blobs ``_l_emb`` /
    ``_r_emb`` (``lsh.signature_buckets(include_emb=True)``): one
    ``mapInPandas`` pass decodes each Arrow batch's blobs, normalizes them
    as the scan does and rescores row-wise in f64, so a pair's ``sim`` is
    bit-identical to ``cosine_threshold_join``'s. -> the other columns +
    ``sim``, pairs below ``min_sim`` dropped. Stateless, so stream-legal."""
    cols = [c for c in pairs.columns if c not in ("_l_emb", "_r_emb")]
    schema = StructType(
        [pairs.schema[c] for c in cols] + [StructField("sim", DoubleType(), False)]
    )

    def vectors(blobs):
        x = _blob_rows(blobs.to_numpy(), np.float32, dim)
        return normalize_rows(np.nan_to_num(x.astype(np.float64)))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                lmat, rmat = vectors(pdf.pop("_l_emb")), vectors(pdf.pop("_r_emb"))
                pdf["sim"] = _pair_sims(lmat, rmat)
                yield pdf[pdf["sim"].to_numpy() >= min_sim]

    return pairs.mapInPandas(run, schema)


def _vector_chunk(pdf: pd.DataFrame, r_id: str, emb_col: str):
    ids = np.asarray(pdf[r_id].to_list())
    if len(pdf):
        mat = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
    else:
        mat = np.zeros((0, 0), dtype=np.float64)
    return ids, normalize_rows(np.nan_to_num(mat))


def _pull_upto(proj: DataFrame, r_id: str, limit: int) -> pd.DataFrame | None:
    """Every row of ``proj`` through ONE LIMIT(limit + 1) Arrow pull, or
    None when it holds more than ``limit`` rows (the bounded pull is then
    discarded). Rows come back ordered by id, so chunk row order — and so
    the selectors' picks among equal scores — is content-determined rather
    than partition-order-determined."""
    pdf = proj.limit(limit + 1).toPandas()
    if len(pdf) > limit:
        return None
    if len(pdf):
        pdf = pdf.sort_values(r_id, kind="mergesort", ignore_index=True)
    return pdf


def _iter_right_chunks(
    proj: DataFrame,
    r_id: str,
    max_rows: int,
    decode,
    right_rows: int | None = None,
    pulled: pd.DataFrame | None = None,
):
    """Yield ``decode(pdf)`` for chunks of ~max_rows rows of the index
    projection ``proj`` WITHOUT materializing the whole table on the
    driver: membership is deterministic (pmod(xxhash64(r_id), n_chunks))
    and each chunk is a separate filtered toPandas, so driver peak memory
    is O(chunk), not O(N_right) (VERDICT r1 #7). toPandas goes through
    Arrow batches — order-of-magnitude faster than row-wise py4j collect().

    ``right_rows`` (a row-count hint, e.g. from a checkpoint manifest)
    skips the sizing; when it says the table fits one chunk that chunk is
    one toPandas — or ``pulled``, a caller's own ``_pull_upto`` of the
    whole table — and nothing else. Without a hint a ``_pull_upto`` probe
    makes a table that fits one chunk (every oracle query and any pairing
    below max_broadcast_rows) ONE bounded job. Only a genuinely
    multi-chunk table pays the persist + count + per-chunk reads, the
    projection persisted across them so upstream (embedding) is computed
    once."""
    if max_rows <= 0:
        raise ValueError("max_broadcast_rows must be positive")
    if right_rows is None:
        pulled = _pull_upto(proj, r_id, max_rows)
        if pulled is not None:
            yield decode(pulled)
            return
    elif right_rows <= max_rows:
        yield decode(proj.toPandas() if pulled is None else pulled)
        return
    del pulled
    proj.persist()
    try:
        n = proj.count() if right_rows is None else right_rows
        if n <= max_rows:
            yield decode(proj.toPandas())
            return
        n_chunks = -(-n // max_rows)
        keyed = proj.withColumn(
            "_chunk", F.pmod(F.xxhash64(F.col(r_id)), F.lit(n_chunks)).cast("int")
        )
        for c in range(n_chunks):
            yield decode(keyed.filter(F.col("_chunk") == c).drop("_chunk").toPandas())
    finally:
        proj.unpersist()


def _scored_blocks(score, lids: np.ndarray, rids: np.ndarray, drop):
    """Yield (lo, scores) over the column blocks of one query batch against
    one chunk: ``score(lo, hi)`` scores chunk rows lo:hi, and pairs that
    ``drop(l_ids, r_ids)`` marks read -inf, so no selector keeps them.
    Blocks are sized so an f32 block stays cache-resident (~4 MB): DRAM
    traffic per task stays ~constant instead of O(batch x chunk) — on
    bandwidth-starved hosts the full-width block made the stage scale with
    memory bandwidth, not cores."""
    width = max(1024, _BLOCK_BYTES // max(4 * len(lids), 1))
    for lo in range(0, len(rids), width):
        s = score(lo, min(lo + width, len(rids)))
        if drop is not None:
            s[drop(lids[:, None], rids[None, lo : lo + s.shape[1]])] = -np.inf
        yield lo, s


def _cosine_scorer(lmat: np.ndarray, rmat: np.ndarray):
    """f32 BLAS scores of a normalized batch against rows lo:hi of a
    normalized chunk, written into a reused per-worker buffer."""
    lmat32, rmat32 = lmat.astype(np.float32), _f32_view(rmat)
    return lambda lo, hi: np.dot(
        lmat32, rmat32[lo:hi].T, out=_sims_buffer(len(lmat32), hi - lo)
    )


def _topk_pairs(blocks, b: int, k: int):
    """Top-k selector: each block's per-row top k, then the top k of those
    winners -> (rows, cols, scores) of the selected pairs with dropped
    (-inf) pairs removed; order unspecified."""
    cand_cols, cand_vals = [], []
    for lo, s in blocks:
        part = _topk_cols(s, k)
        cand_cols.append(part + lo)
        cand_vals.append(np.take_along_axis(s, part, axis=1))
    cols = np.concatenate(cand_cols, axis=1)  # b x (k * n_blocks)
    vals = np.concatenate(cand_vals, axis=1)
    part = _topk_cols(vals, k)
    cols = np.take_along_axis(cols, part, axis=1).ravel()
    vals = np.take_along_axis(vals, part, axis=1).ravel()
    rows = np.repeat(np.arange(b), part.shape[1])
    keep = vals > -np.inf
    return rows[keep], cols[keep], vals[keep]


def _threshold_pairs(blocks, floor: float):
    """Threshold selector: (rows, cols) of every pair scoring >= floor."""
    rows, cols = [], []
    for lo, s in blocks:
        r, c = np.nonzero(s >= floor)
        rows.append(r)
        cols.append(c + lo)
    return np.concatenate(rows), np.concatenate(cols)


def _ranked(lids, rids, rows, cols, s) -> pd.DataFrame:
    """(l_id, r_id, sim, rank) of a batch's selected pairs, ordered and
    ranked by (sim desc, r_id asc) within each batch row — the batch row
    index, not l_id, in case of duplicate left keys. Final when the index
    is one chunk; the window merge re-ranks otherwise."""
    order = np.lexsort((rids[cols], -s, rows))
    rows, cols, s = rows[order], cols[order], s[order]
    out = pd.DataFrame({"l_id": lids[rows], "r_id": rids[cols], "sim": s})
    out["rank"] = out.groupby(rows, sort=False).cumcount().astype("int32") + 1
    return out


def _pair_schema(left, l_id, right, r_id, ranked: bool = True) -> StructType:
    fields = [
        StructField("l_id", left.select(l_id).schema.fields[0].dataType, True),
        StructField("r_id", right.select(r_id).schema.fields[0].dataType, True),
        StructField("sim", DoubleType(), False),
    ]
    if ranked:
        fields.append(StructField("rank", IntegerType(), False))
    return StructType(fields)


def _broadcast_scan(left, chunks, l_id, emb_col, schema, kernel, k=None):
    """The scan: per index chunk (ids, payload), one tracked broadcast and
    one mapInPandas over the query side whose Arrow batches are normalized
    once and handed to ``kernel(l_ids, lmat, r_ids, payload)`` -> pairs.
    Chunk outputs union; given ``k``, several chunks' partial top-Ks merge
    through one (sim desc, r_id asc) window."""
    sc = left.sparkSession.sparkContext
    q_side = left.select(l_id, emb_col)

    def runner(bc):
        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            rids, payload = bc.value
            for pdf in batches:
                if not len(pdf) or payload.size == 0:
                    continue
                lmat = normalize_rows(
                    np.nan_to_num(np.stack(pdf[emb_col].to_numpy()).astype(np.float64))
                )
                out = kernel(pdf[l_id].to_numpy(), lmat, rids, payload)
                if len(out):
                    yield out

        return run

    parts = []
    for chunk in chunks:
        parts.append(q_side.mapInPandas(runner(_tracked(sc, chunk)), schema))
        del chunk  # the broadcast holds the data; driver peak stays O(chunk)
    result = reduce(DataFrame.unionByName, parts)
    if k is None or len(parts) == 1:
        return result
    w = Window.partitionBy("l_id").orderBy(F.desc("sim"), F.asc("r_id"))
    return result.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def exact_topk_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    l_id: str = "id",
    r_id: str = "id",
    emb_col: str = EMBEDDING,
    exclude_self: bool = False,
    max_broadcast_rows: int = 500_000,
    right_rows: int | None = None,
) -> DataFrame:
    """-> DataFrame(l_id, r_id, sim double, rank int), rank 1..k per l_id.

    ``exclude_self`` drops l_id == r_id pairs (self-blocking / dedup mode).
    K > N_right truncates silently, matching numpy slice semantics
    (vector_pairing_models.py:46). ``right_rows`` is an optional row-count
    hint (e.g. from a checkpoint manifest) that skips the sizing probe.
    Selection runs on f32 scores; the selected pairs are rescored in f64
    from the normalized vectors, so emitted sims are bit-compatible with a
    double-precision oracle.
    """
    drop = np.equal if exclude_self else None

    def kernel(lids, lmat, rids, rmat):
        blocks = _scored_blocks(_cosine_scorer(lmat, rmat), lids, rids, drop)
        rows, cols, _ = _topk_pairs(blocks, len(lids), k)
        s = _pair_sims(lmat[rows], rmat[cols])
        return _ranked(lids, rids, rows, cols, s)

    chunks = _iter_right_chunks(
        right.select(r_id, emb_col), r_id, max_broadcast_rows,
        lambda pdf: _vector_chunk(pdf, r_id, emb_col), right_rows,
    )
    schema = _pair_schema(left, l_id, right, r_id)
    return _broadcast_scan(left, chunks, l_id, emb_col, schema, kernel, k)


def cosine_threshold_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    l_id: str = "id",
    r_id: str = "id",
    emb_col: str = EMBEDDING,
    upper_only: bool = True,
    max_broadcast_rows: int = 500_000,
) -> DataFrame:
    """All pairs with cosine >= threshold: (l_id, r_id, sim double).

    The top-K join's scan with the threshold selector. ``upper_only`` keeps
    l_id < r_id (self-join near-duplicate semantics). Note: a crossJoin with
    Column-expression cosine (scoring.cosine_col) computes the same thing,
    but Spark's higher-order array functions evaluate interpreted
    per-element — the matmul path is ~100x faster at equal output. The
    streaming index join scores its pairs with this scan's f64 rescoring
    (``_blob_pair_cosine``), so its sims equal this join's.
    """
    drop = np.greater_equal if upper_only else None

    def kernel(lids, lmat, rids, rmat):
        # f32 guard band scaled to the accumulation length: worst-case
        # error of a dim-term f32 dot product is ~dim*eps/2, so one f32
        # ulp is NOT enough (ADVICE r1). Anything inside the band is kept
        # for the exact f64 re-check, so a wide band costs only extra
        # rescoring, never wrong results. The floor stays finite so the
        # -inf of dropped pairs never passes it.
        band = max(1e-4, 2.0 * rmat.shape[1] * np.finfo(np.float32).eps)
        floor = max(threshold - band, -np.finfo(np.float32).max)
        blocks = _scored_blocks(_cosine_scorer(lmat, rmat), lids, rids, drop)
        rows, cols = _threshold_pairs(blocks, floor)
        s = _pair_sims(lmat[rows], rmat[cols])
        keep = s >= threshold
        return pd.DataFrame(
            {"l_id": lids[rows[keep]], "r_id": rids[cols[keep]], "sim": s[keep]}
        )

    chunks = _iter_right_chunks(
        right.select(r_id, emb_col), r_id, max_broadcast_rows,
        lambda pdf: _vector_chunk(pdf, r_id, emb_col),
    )
    schema = _pair_schema(left, l_id, right, r_id, ranked=False)
    return _broadcast_scan(left, chunks, l_id, emb_col, schema, kernel)


class ExactTopKVectorPairing(VectorPairing):
    """Chunk-broadcast exact top-K behind the shared index/query seam (see
    pairing.VectorPairing). ``exclude_self`` drops l_id == r_id pairs from
    dyadic queries too; self queries always drop them."""

    def __init__(self, k: int = 50, exclude_self: bool = False,
                 max_broadcast_rows: int = 500_000):
        self.k = k
        self.exclude_self = exclude_self
        self.max_broadcast_rows = max_broadcast_rows

    def _search(self, left, l_id, emb_col):
        return exact_topk_join(
            self._right if left is None else left, self._right, self.k,
            l_id=l_id, r_id=self._r_id, emb_col=emb_col,
            exclude_self=self.exclude_self or left is None,
            max_broadcast_rows=self.max_broadcast_rows, right_rows=self._rows,
        )
